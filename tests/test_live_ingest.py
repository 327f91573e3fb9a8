"""Live-connector ingest (SURVEY §2 A1): a REAL network source driven
end-to-end — an in-process TCP server streams NDJSON events, Spark's
socket source consumes them live, the shared parse stage types them,
and the results land in a sink. This is the sandbox's stand-in for the
reference's polling ingest loop (insert-events.js:8-34); the Kafka
wrapper shares the identical parse stage, tested in batch below."""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import time

import pytest
from pyspark.sql import functions as F

from github_event_etl_spark.sources.live import (
    parse_event_lines,
    read_socket_events,
)

US = 1_000_000
DAY0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _event(eid, hour, etype="purchase", value=1.5, user=7):
    return {
        "event_id": eid,
        "ts_us": int((DAY0 + hour * 3600) * US),
        "user_id": user,
        "event_type": etype,
        "value": value,
    }


def _drain_until(q, n_rows: int, what: str, steps: int = 600) -> None:
    """Stop-condition from the engine's own progress telemetry (the
    stream_rate_source termination pattern): wait until the query
    reports `n_rows` ingested, then drain whatever remains."""
    for _ in range(steps):
        seen = sum(int(p.numInputRows) for p in q.recentProgress)
        if seen >= n_rows:
            q.processAllAvailable()
            return
        q.awaitTermination(0.2)
    raise TimeoutError(f"{what} never delivered all rows")


def test_parse_event_lines_batch_types_and_error_isolation(spark):
    """The parse stage shared by socket AND Kafka ingest: typed
    envelope out, malformed/incomplete lines dropped (A3/A19), ts as
    proper TimestampType."""
    lines = spark.createDataFrame(
        [
            (json.dumps(_event(1, 0.0)),),
            (json.dumps(_event(2, 1.5, etype="signup", value=-3.0)),),
            ("{not json at all",),
            ('{"event_id": null, "ts_us": 1}',),
            ("",),
        ],
        "value string",
    )
    got = parse_event_lines(lines).orderBy("event_id").collect()
    assert [(r.event_id, r.event_type, r.value) for r in got] == [
        (1, "purchase", 1.5),
        (2, "signup", -3.0),
    ]
    assert got[0].ts.year == 2024 and got[1].ts.hour == 1
    assert dict(parse_event_lines(lines).dtypes)["ts"] == "timestamp"


class _NdjsonHandler(socketserver.BaseRequestHandler):
    def handle(self):
        payload = "".join(
            json.dumps(e) + "\n" for e in self.server.events  # type: ignore[attr-defined]
        )
        try:
            self.request.sendall(payload.encode())
            # Keep the connection open so the source keeps polling
            # until the query is stopped (a closed socket fails the
            # stream) — the server shuts down with the test.
            while not self.server.stop_flag.is_set():  # type: ignore[attr-defined]
                time.sleep(0.05)
        except (BrokenPipeError, ConnectionResetError):
            pass


def test_socket_source_live_ingest_end_to_end(spark):
    """Start a local NDJSON server, consume it with the socket source,
    aggregate live, stop on the engine's own progress telemetry (no
    sink polling), and check the result equals the batch answer."""
    events = [
        _event(i, hour=i % 3, etype="purchase" if i % 2 else "signup")
        for i in range(40)
    ]
    srv = socketserver.ThreadingTCPServer(
        ("127.0.0.1", 0), _NdjsonHandler, bind_and_activate=True
    )
    srv.events = events  # type: ignore[attr-defined]
    srv.stop_flag = threading.Event()  # type: ignore[attr-defined]
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    import tempfile
    import uuid

    name = f"live_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="geetl_live_ckpt_")
    try:
        stream = read_socket_events(spark, "127.0.0.1", port)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            # countDistinct is unsupported on streams; exact distinct
            # via collect_set is fine at test size
            F.size(F.collect_set("event_id")).alias("ids"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # Stop when the engine reports all 40 lines ingested.
        _drain_until(q, len(events), "socket ingest")
        q.stop()
        got = {
            r.event_type: (r.n, r.ids)
            for r in spark.table(name).collect()
        }
        assert got == {"purchase": (20, 20), "signup": (20, 20)}
    finally:
        srv.stop_flag.set()  # type: ignore[attr-defined]
        srv.shutdown()
        srv.server_close()
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


def test_kafka_wrapper_contract_without_broker(spark):
    """Batch-contract test for read_kafka_events (no broker in this
    container): a mocked DataStreamReader captures the wiring — format,
    subscribe/bootstrap/offset options — and load() hands back a batch
    DataFrame with the REAL Kafka source schema (binary key/value +
    topic/partition/offset/timestamp metadata). The wrapper must cast
    the binary value and produce correctly-typed, correctly-parsed
    events through the shared parse stage; a drift in the wrapper's
    value handling or option wiring surfaces here."""
    from github_event_etl_spark.sources.live import read_kafka_events

    kafka_rows = [
        (
            None,
            json.dumps(_event(i, i * 0.5)).encode(),
            "events",
            0,
            i,
        )
        for i in range(1, 4)
    ] + [(None, b"{corrupt", "events", 0, 99)]
    kafka_schema = (
        "key binary, value binary, topic string, partition int, offset long"
    )

    captured = {"format": None, "options": {}}

    class FakeReader:
        def format(self, fmt):
            captured["format"] = fmt
            return self

        def option(self, k, v):
            captured["options"][k] = v
            return self

        def load(self):
            return spark.createDataFrame(kafka_rows, kafka_schema)

    class FakeSession:
        readStream = FakeReader()

    out = read_kafka_events(
        FakeSession(), "broker-1:9092,broker-2:9092", "events-topic",
        starting_offsets="latest",
    )
    assert captured["format"] == "kafka"
    assert captured["options"] == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        "subscribe": "events-topic",
        "startingOffsets": "latest",
    }
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
    ]
    rows = {r.event_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # corrupt line isolated, not fatal
    assert rows[1].user_id == 7 and rows[1].value == 1.5
    assert rows[2].ts.isoformat() == "2024-01-01T01:00:00"


def test_synthetic_events_python_datasource(spark):
    """The Spark-4 Python Data Source: deterministic synthetic events
    generated executor-side. Rows must equal the pure-Python model,
    be invariant to the partition count, and honor the pushed
    event_type equality filter."""
    from github_event_etl_spark.sources.pysource import (
        _row,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", 2000)
        .option("num_partitions", 8)
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    model = sorted(
        (i, ts.replace(tzinfo=None), u, t, v)
        for i, ts, u, t, v in (_row(i) for i in range(2000))
    )
    # Spark returns naive datetimes in session-local (UTC) time.
    assert [g[0] for g in got] == [m[0] for m in model]
    assert got == model

    # partition-count invariance
    df2 = (
        spark.read.format("synthetic_events")
        .option("n", 2000)
        .option("num_partitions", 3)
        .load()
    )
    assert sorted(tuple(r) for r in df2.collect()) == model

    # pushed equality filter: same rows as post-hoc filtering, and the
    # physical plan proves the pushdown — the equality leaves the
    # post-scan Filter (only the isnotnull guard remains), because the
    # reader consumed it in pushFilters.
    purchases = df.filter(df.event_type == "purchase")
    want = [m for m in model if m[3] == "purchase"]
    assert sorted(tuple(r) for r in purchases.collect()) == want
    assert len(want) == 400
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        purchases.explain()
    physical = buf.getvalue()
    assert "BatchScan synthetic_events" in physical
    assert "= purchase" not in physical


def test_synthetic_events_partitioned_stream_reader(spark):
    """The streaming face: the driver plans offsets only and `read()`
    executes in executor tasks — the scale shape. For this static
    finite source every index is available at start, so the run is ONE
    micro-batch carrying all n rows; rows must equal the deterministic
    model exactly (the same rows the batch face yields)."""
    import shutil
    import tempfile
    import uuid

    from github_event_etl_spark.sources.pysource import (
        _row,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    n_total = 1000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", n_total)
        .option("num_partitions", 4)
        .load()
    )
    name = f"synthp_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="geetl_synthp_ckpt_")
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _drain_until(q, n_total, "partitioned synthetic stream")
        batches = [
            int(p.numInputRows)
            for p in q.recentProgress
            if int(p.numInputRows) > 0
        ]
        q.stop()
        got = sorted(tuple(r) for r in spark.table(name).collect())
        model = sorted(
            (i, ts.replace(tzinfo=None), u, t, v)
            for i, ts, u, t, v in (_row(i) for i in range(n_total))
        )
        assert got == model
        assert batches == [n_total]  # all-available-at-start: one batch
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_partitioned_stream_reader_offset_model():
    """Driver-side planning contract of the partitioned face:
    latestOffset reports the full cap, partitions() splits [start, end)
    into contiguous executor ranges, an empty or REGRESSED range (a
    checkpoint past a shrunken n) plans no work rather than emitting
    rows backward."""
    from github_event_etl_spark.sources.pysource import (
        _SyntheticEventsPartitionedStreamReader,
    )

    rdr = _SyntheticEventsPartitionedStreamReader(
        {"n": "100", "num_partitions": "4"}
    )
    assert rdr.initialOffset() == {"index": 0}
    assert rdr.latestOffset() == {"index": 100}
    parts = rdr.partitions({"index": 0}, {"index": 100})
    assert [(p.start, p.end) for p in parts] == [
        (0, 25), (25, 50), (50, 75), (75, 100)
    ]
    # ranges that don't split evenly still cover exactly [lo, hi)
    parts = rdr.partitions({"index": 90}, {"index": 100})
    assert [(p.start, p.end) for p in parts] == [
        (90, 93), (93, 96), (96, 99), (99, 100)
    ]
    assert rdr.partitions({"index": 100}, {"index": 100}) == []
    assert rdr.partitions({"index": 250}, {"index": 100}) == []
    rows = list(rdr.read(parts[0]))
    assert [r[0] for r in rows] == [90, 91, 92]


def test_synthetic_datasource_edge_options(spark):
    """Edge options must behave, not crash: n=0 is an empty scan;
    contradictory event_type equalities (only one is consumed by
    pushFilters, the rest go back to Spark) yield the correct empty
    result."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.sources.pysource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    empty = (
        spark.read.format("synthetic_events").option("n", 0).load()
    )
    assert empty.count() == 0

    df = spark.read.format("synthetic_events").option("n", 500).load()
    contradiction = df.filter(
        (F.col("event_type") == "purchase")
        & (F.col("event_type") == "view")
    )
    assert contradiction.count() == 0


def test_synthetic_datasource_rejects_bad_options(spark):
    """Both faces check their options in one place: a negative `n` or
    a non-positive `num_partitions` fails the query, naming the
    option, instead of planning an empty scan."""
    from github_event_etl_spark.sources.pysource import (
        _SyntheticEventsPartitionedStreamReader,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    with pytest.raises(Exception, match=r"\bn must be >= 0"):
        spark.read.format("synthetic_events").option("n", -1).load().collect()
    with pytest.raises(Exception, match="num_partitions must be >= 1"):
        (
            spark.read.format("synthetic_events")
            .option("num_partitions", 0)
            .load()
            .collect()
        )
    with pytest.raises(ValueError, match=r"\bn must be >= 0"):
        _SyntheticEventsPartitionedStreamReader({"n": "-1"})


def test_ndjson_sink_manifest_commit_with_task_retry():
    """The object-storage commit shape, driven through a simulated task
    retry: two write() attempts for the same task stage two uniquely-
    named objects, commit() is handed only the SUCCESSFUL attempt's
    message, and the manifest must reference exactly that part — the
    dead attempt's object is invisible to the manifest reader and
    swept by the manifest-anchored GC. A replayed commit of the same
    batch (fresh attempt, same batchId) must overwrite the manifest
    idempotently and garbage-collect the superseded attempt's object."""
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from pyspark.sql import Row

    from github_event_etl_spark.sources.pysource import (
        _NdjsonStreamWriter,
        manifested_part_paths,
    )

    out = tempfile.mkdtemp(prefix="geetl_manifest_")
    try:
        w = _NdjsonStreamWriter({"path": out})
        rows = [Row(event_id=i, value=float(i)) for i in range(5)]

        # attempt 1 dies after upload (no message delivered);
        # attempt 2 succeeds and reports its message
        dead = w.write(iter(rows))
        ok = w.write(iter(rows))
        assert dead.path != ok.path  # per-attempt-unique names
        w.commit([ok], batchId=0)

        manifest = os.path.join(out, "batch_id=0", "manifest.json")
        with open(manifest) as f:
            doc = _json.load(f)
        assert doc["parts"] == [os.path.basename(ok.path)]
        # reader sees exactly one committed part; the dead attempt's
        # object was swept (referenced by no manifest)
        assert manifested_part_paths(out) == [ok.path]
        assert sorted(glob.glob(os.path.join(out, "_staging", "*"))) == [
            ok.path
        ]

        # batch replay: engine re-runs the task (new attempt) and
        # re-commits the SAME batch id
        retry = w.write(iter(rows))
        w.commit([retry], batchId=0)
        with open(manifest) as f:
            doc = _json.load(f)
        assert doc["parts"] == [os.path.basename(retry.path)]
        assert manifested_part_paths(out) == [retry.path]
        # superseded attempt's object GC'd; no torn-manifest temp left
        assert sorted(glob.glob(os.path.join(out, "_staging", "*"))) == [
            retry.path
        ]
        assert glob.glob(os.path.join(out, "batch_id=0", "*.inprogress")) == []

        # abort removes the reported staged objects
        ab = w.write(iter(rows))
        w.abort([ab], batchId=1)
        assert not os.path.exists(ab.path)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_ndjson_sink_manifest_mode_live_stream(spark):
    """End-to-end sink under the real engine, across micro-batches:
    three AvailableNow runs against ONE checkpoint with n = 200, 400,
    600 commit batch_id=0..2, each [old n, new n) as one batch. Every
    committed batch directory holds only its manifest, the
    manifest-listed parts reconstruct the deterministic model exactly
    with no duplicated row, and staging holds only referenced parts."""
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from github_event_etl_spark.sources.pysource import (
        _row,
        manifested_part_paths,
        register_ndjson_sink,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    register_ndjson_sink(spark)
    out = tempfile.mkdtemp(prefix="geetl_pysink_mf_")
    ckpt = tempfile.mkdtemp(prefix="geetl_pysink_mf_ckpt_")
    n_total = 600
    try:
        for n in (200, 400, n_total):
            (
                spark.readStream.format("synthetic_events")
                .option("n", n)
                .load()
                .writeStream.format("ndjson_dir")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )

        batch_dirs = sorted(glob.glob(os.path.join(out, "batch_id=*")))
        assert [os.path.basename(d) for d in batch_dirs] == [
            "batch_id=0", "batch_id=1", "batch_id=2"
        ]
        for d in batch_dirs:
            assert os.listdir(d) == ["manifest.json"]
        got = []
        for path in manifested_part_paths(out):
            with open(path) as f:
                got.extend(_json.loads(line) for line in f)
        model = {
            i: {
                "event_id": i,
                "ts": ts.replace(tzinfo=None).isoformat(),
                "user_id": u,
                "event_type": t,
                "value": v,
            }
            for i, ts, u, t, v in (_row(i) for i in range(n_total))
        }
        assert {r["event_id"]: r for r in got} == model
        assert len(got) == n_total  # no duplicated batch content
        staged = set(glob.glob(os.path.join(out, "_staging", "*")))
        assert staged == set(manifested_part_paths(out))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_ndjson_sink_round_trips_nested_and_decimal_columns(spark):
    """The sink's JSON must read back under the stream's own schema:
    a struct keeps its field names (not a positional array), and a
    timestamp nested in a struct and DECIMAL(18,2) values — top-level
    and nested — serialize instead of failing the batch."""
    import shutil
    import tempfile

    from github_event_etl_spark.sources.pysource import (
        manifested_part_paths,
        register_ndjson_sink,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    register_ndjson_sink(spark)

    def shaped(df):
        amount = F.col("value").cast("decimal(18,2)")
        return df.select(
            "event_id",
            F.struct(
                F.col("user_id").alias("x"),
                F.col("ts").alias("at"),
                amount.alias("amt"),
            ).alias("s"),
            amount.alias("amount"),
        )

    stream = shaped(
        spark.readStream.format("synthetic_events").option("n", 50).load()
    )
    out = tempfile.mkdtemp(prefix="geetl_pysink_nested_")
    ckpt = tempfile.mkdtemp(prefix="geetl_pysink_nested_ckpt_")
    try:
        (
            stream.writeStream.format("ndjson_dir")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        got = spark.read.schema(stream.schema).json(
            manifested_part_paths(out)
        )
        want = shaped(
            spark.read.format("synthetic_events").option("n", 50).load()
        )
        assert sorted(got.collect()) == sorted(want.collect())
        assert got.count() == 50
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
