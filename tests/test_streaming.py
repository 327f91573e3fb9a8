"""Streaming-semantics tests (SURVEY.md §5.2 item 3): late-data
watermark drops and checkpoint-resume exactly-once. Batch equivalence
of the bounded streaming queries is covered by the oracle-differential
suite (their oracles ARE the batch answers)."""

from __future__ import annotations

import json

import pytest
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from github_event_etl_spark.streaming.replay import (
    REPLAY_SCHEMA,
    events_replay_dir,
    read_event_stream,
    run_foreach_batch_to_parquet,
)

US = 1_000_000
BASE = 1_704_100_000  # 2024-01-01T08:26:40Z, only relative offsets matter


def _ts(hour: float) -> int:
    """Epoch micros at `hour` hours past 2024-01-01T00:00Z."""
    day0 = 1_704_067_200  # 2024-01-01T00:00:00Z
    return int((day0 + hour * 3600) * US)


def _write_file(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _event(eid: int, hour: float, user: int = 1) -> dict:
    return {
        "event_id": eid,
        "ts_us": _ts(hour),
        "user_id": user,
        "event_type": "purchase",
        "value": 1.0,
    }


def test_watermark_drops_late_data(spark):
    """Append-mode windowed count with a 10-minute watermark over three
    micro-batches (maxFilesPerTrigger=1). Dropping data later than the
    watermark is only *guaranteed* once the window's state has been
    evicted (Spark's documented best-effort semantics), so: batch A
    seeds the windows and advances the watermark, batch B triggers
    eviction/emission of the closed windows, and batch C's late event —
    aimed at the evicted 10:00 window — must be filtered, not
    resurrect the window. (Reference analog: the 300 s dedup TTL
    horizon, insert-events-into-db.lua:39.)"""
    src = tempfile.mkdtemp(prefix="geetl_late_src_")
    ckpt = tempfile.mkdtemp(prefix="geetl_late_ckpt_")
    try:
        now = time.time()
        # batch A: hours 10:05..12:00 → watermark lands at 11:50
        _write_file(
            os.path.join(src, "a.json"),
            [
                _event(1, 10 + 5 / 60),
                _event(2, 10 + 15 / 60),
                _event(3, 10 + 45 / 60),
                _event(4, 11 + 30 / 60),
                _event(5, 12.0),
            ],
            mtime=now - 180,
        )
        # batch B: advances watermark to 12:20; during this batch the
        # [10:00) and [11:00) windows are evicted and emitted
        _write_file(
            os.path.join(src, "b.json"),
            [_event(6, 12 + 30 / 60)],
            mtime=now - 120,
        )
        # batch C: a LATE event for the evicted 10:00 window → dropped
        _write_file(
            os.path.join(src, "c.json"),
            [_event(7, 10 + 30 / 60), _event(8, 12 + 40 / 60)],
            mtime=now - 60,
        )

        ev = read_event_stream(spark, src, maxFilesPerTrigger=1)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("late_data_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            (r.hour, r.cnt)
            for r in spark.table("late_data_test")
            .select(F.date_format("w.start", "HH:mm").alias("hour"), "cnt")
            .collect()
        }
        # 10:00 window closed with 3 rows (late event 7 dropped — NOT 4
        # and no resurrected 1-row window); 11:00 closed with 1 row;
        # the 12:00 window never closes before the stream ends.
        assert rows == {("10:00", 3), ("11:00", 1)}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_checkpoint_resume_exactly_once(spark):
    """foreachBatch parquet sink with a persistent checkpoint: a second
    run over a grown source directory must process ONLY the new file —
    the A13 incremental idempotence
    (update-contributor-scores.js:195-204) via streaming checkpoints."""
    src = tempfile.mkdtemp(prefix="geetl_ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="geetl_ckpt_ck_")
    sink = os.path.join(tempfile.mkdtemp(prefix="geetl_ckpt_sink_"), "out")
    try:
        now = time.time()
        _write_file(
            os.path.join(src, "a.json"),
            [_event(i, 10 + i / 60) for i in range(1, 6)],
            mtime=now - 120,
        )
        ev = read_event_stream(spark, src)
        run_foreach_batch_to_parquet(ev, sink, ckpt)
        first = spark.read.parquet(sink).count()
        assert first == 5

        _write_file(
            os.path.join(src, "b.json"),
            [_event(i, 11 + i / 60) for i in range(6, 9)],
            mtime=now - 60,
        )
        ev2 = read_event_stream(spark, src)
        run_foreach_batch_to_parquet(ev2, sink, ckpt)
        landed = spark.read.parquet(sink)
        assert landed.count() == 8  # 5 + 3, no reprocessing of file a
        ids = sorted(r.event_id for r in landed.select("event_id").collect())
        assert ids == list(range(1, 9))
    finally:
        for d in (src, ckpt, os.path.dirname(sink)):
            shutil.rmtree(d, ignore_errors=True)


def test_stateful_dedup_ttl_eviction_and_readmission(spark):
    """The custom applyInPandasWithState dedup (streaming/stateful.py)
    must reproduce the full Redis event-log lifecycle
    (insert-events-into-db.lua:8-11,36-39): first insert wins; a
    duplicate inside the TTL horizon is a no-op; after the TTL evicts
    the mark, the same id is admitted afresh. Four micro-batches
    (maxFilesPerTrigger=1), event-time TTL = 5 min, watermark 10 min:

      A: id=100 @10:00 (arrival 0, v=1.0)  -> emitted (first wins)
      B: id=100 @10:00 (arrival 1, v=2.0)  -> suppressed (mark lives;
         watermark is 9:50, timer armed for 10:05)
      C: clock-only event @11:00           -> watermark passes 10:20,
         the 10:05 timer fires, id=100's mark is EVICTED
      D: id=100 @11:10 (arrival 2, v=3.0)  -> re-admitted (fresh mark)

    Final values for id=100 must be exactly {1.0, 3.0} — 2.0 never
    appears, 3.0 must (re-admission is as load-bearing as suppression:
    it proves state is evicted, i.e. bounded, not grow-forever)."""
    from github_event_etl_spark.streaming.stateful import dedup_first_wins_ttl

    src = tempfile.mkdtemp(prefix="geetl_ttl_src_")
    ckpt = tempfile.mkdtemp(prefix="geetl_ttl_ckpt_")

    def rtx(eid, hour, arrival, value):
        e = _event(eid, hour)
        e["arrival"] = arrival
        e["value"] = value
        return e

    try:
        now = time.time()
        _write_file(os.path.join(src, "a.json"), [rtx(100, 10.0, 0, 1.0)], now - 240)
        _write_file(
            os.path.join(src, "b.json"),
            [rtx(100, 10.0, 1, 2.0), rtx(998, 10.5, 0, 9.0)],
            now - 180,
        )
        _write_file(os.path.join(src, "c.json"), [rtx(997, 11.0, 0, 9.0)], now - 120)
        _write_file(
            os.path.join(src, "d.json"), [rtx(100, 11 + 1 / 6, 2, 3.0)], now - 60
        )

        schema = (
            "event_id long, ts_us long, user_id long, event_type string, "
            "value double, arrival int"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .select(
                "event_id",
                F.timestamp_micros(F.col("ts_us")).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "arrival",
            )
        )
        deduped = dedup_first_wins_ttl(
            stream, ttl_seconds=300, watermark_delay="10 minutes"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName("ttl_dedup_test")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.event_id, r.value)
            for r in spark.table("ttl_dedup_test").select("event_id", "value").collect()
        )
        assert got == [(100, 1.0), (100, 3.0), (997, 9.0), (998, 9.0)]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _ssj_streams(spark, sf_dir):
    """(purchase stream, view stream) over the bounded replay source."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.streaming.replay import (
        events_replay_dir,
        read_event_stream,
    )

    src = events_replay_dir(spark, sf_dir)
    ev = lambda t: read_event_stream(spark, src).filter(  # noqa: E731
        F.col("event_type") == t
    )
    return ev("purchase"), ev("view")


def _ssj_batch_pairs(spark, sf_dir):
    """The batch left-outer interval join both stream tests compare
    against: every purchase with each view by the same user in the 30
    minutes after it (vid NULL when none)."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"), F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    return p.join(
        v,
        (F.col("pu") == F.col("vu"))
        & (F.col("vts") >= F.col("pts"))
        & (F.col("vts") <= F.col("pts") + F.expr("INTERVAL 30 minutes")),
        "left",
    ).select("pid", "pts", "vid").collect()


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """Watermarked stream-stream interval join, bounded replay: a
    purchase pairs with every view by the same user in the 30 minutes
    after it. AvailableNow drives every watermark past every row, so
    the final sink's INNER pairs must equal the batch interval join
    over the full table — the prefix-integrity argument made
    executable for the two-stream case."""
    from github_event_etl_spark.streaming.joins import interval_join_streams
    from github_event_etl_spark.streaming.replay import run_bounded

    left, right = _ssj_streams(spark, sf_dir)
    joined = interval_join_streams(
        left,
        right,
        key="user_id",
        watermark="10 minutes",
        lower="0 seconds",
        upper="30 minutes",
    ).select("event_id", "event_id_r")
    got = {
        (r.event_id, r.event_id_r)
        for r in run_bounded(joined, "append", "ssj").collect()
    }
    want = {
        (r.pid, r.vid) for r in _ssj_batch_pairs(spark, sf_dir)
        if r.vid is not None
    }
    assert got == want
    assert want, "fixture must produce at least one purchase-view pair"


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_stream_stream_left_outer_join_tail_boundary(spark, sf):
    """Left-outer stream-stream join semantics, pinned exactly: inner
    pairs match the batch join in full; null-extended rows appear for
    unmatched purchases ONLY where the engine could prove no view can
    still arrive — the purchase's whole interval below the final
    GLOBAL watermark, which under the default multipleWatermarkPolicy
    = min is min(max purchase ts, max view ts) − delay, NOT the view
    side's watermark alone (a lagging input holds the global mark
    back). Parametrized over both fixture SFs because they land on
    opposite sides of that distinction: at sf0.001 purchases have the
    later max event time, at sf0.01 views do — a right-side-only
    formula passes one and fails the other."""
    import datetime as dt

    from pyspark.sql import functions as F

    from github_event_etl_spark.sources.tables import load_table
    from github_event_etl_spark.streaming.joins import interval_join_streams
    from github_event_etl_spark.streaming.replay import run_bounded

    left, right = _ssj_streams(spark, sf)
    joined = interval_join_streams(
        left,
        right,
        key="user_id",
        watermark="10 minutes",
        upper="30 minutes",
        how="leftOuter",
    ).select("event_id", "event_id_r")
    rows = run_bounded(joined, "append", "ssj_outer").collect()
    inner_got = {
        (r.event_id, r.event_id_r) for r in rows if r.event_id_r is not None
    }
    outer_got = {r.event_id for r in rows if r.event_id_r is None}

    pairs = _ssj_batch_pairs(spark, sf)
    inner_want = {(r.pid, r.vid) for r in pairs if r.vid is not None}
    assert inner_got == inner_want

    unmatched_all = {r.pid for r in pairs if r.vid is None}
    # global watermark = min over both inputs of (max event time) − delay;
    # a purchase's outer verdict is decidable iff pts + 30 min < that mark
    ev = load_table(spark, sf, "events")
    maxes = {
        r.event_type: r.m
        for r in ev.filter(
            F.col("event_type").isin("purchase", "view")
        ).groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    }
    wm = min(maxes["purchase"], maxes["view"]) - dt.timedelta(minutes=10)
    decidable = {
        r.pid for r in pairs if r.pts + dt.timedelta(minutes=30) < wm
    }
    assert outer_got == (unmatched_all & decidable), (
        f"outer emissions {len(outer_got)} vs decidable unmatched "
        f"{len(unmatched_all & decidable)} (total unmatched "
        f"{len(unmatched_all)})"
    )
    assert outer_got, "fixture must decide at least one unmatched purchase"


def test_stream_stream_join_checkpoint_resume(spark, sf_dir):
    """Stream-stream join state must survive a mid-replay stop: phase 1
    processes part of the source (maxFilesPerTrigger=2), stops, and
    phase 2 resumes from the SAME checkpoint — buffered join state
    included — into an idempotent foreachBatch parquet sink. The union
    of both phases' emissions must equal the batch interval join
    exactly: no pair lost (state restored), no pair duplicated
    (offsets + overwrite-by-batch idempotence).

    The watermark delay is deliberately enormous (30 days): the replay
    files carry randomly time-ordered events, so across multiple
    batches a realistic delay would legitimately drop late partners
    (the watermark leaps near the global max after batch 1) — correct
    streaming semantics, but this test isolates STATE RECOVERY, so
    eviction is switched off and every pair must survive the
    stop/resume."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from github_event_etl_spark.streaming.joins import interval_join_streams

    src = events_replay_dir(spark, sf_dir)
    ckpt = _tf.mkdtemp(prefix="geetl_ssjr_ckpt_")
    sink = os.path.join(_tf.mkdtemp(prefix="geetl_ssjr_sink_"), "out")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "4")

    def build():
        left = read_event_stream(
            spark, src, maxFilesPerTrigger=2
        ).filter(F.col("event_type") == "purchase")
        right = read_event_stream(
            spark, src, maxFilesPerTrigger=2
        ).filter(F.col("event_type") == "view")
        return interval_join_streams(
            left, right, key="user_id", watermark="30 days",
            upper="30 minutes",
        ).select("event_id", "event_id_r")

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    try:
        # Phase 1: partial processing, then stop mid-stream.
        q = (
            build().writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        for _ in range(600):
            done = [p for p in q.recentProgress if p is not None]
            if len(done) >= 1 and any(
                int(p.numInputRows) > 0 for p in done
            ):
                break
            q.awaitTermination(0.2)
        else:
            raise TimeoutError("phase 1 never processed a batch")
        q.stop()

        # Phase 2: resume from the same checkpoint, drain the rest.
        q2 = (
            build().writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        got = {
            (r.event_id, r.event_id_r)
            for r in spark.read.parquet(sink).collect()
        }
        want = {
            (r.pid, r.vid) for r in _ssj_batch_pairs(spark, sf_dir)
            if r.vid is not None
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)


def test_interval_join_rejects_suffix_collision(spark, sf_dir):
    """A left input already carrying a `_r`-suffixed name that the
    right side's rename would duplicate must fail fast with a clear
    error, not produce an ambiguous join condition at analysis time."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.streaming.joins import interval_join_streams

    left, right = _ssj_streams(spark, sf_dir)
    bad_left = left.withColumn("user_id_r", F.col("user_id"))
    with pytest.raises(ValueError, match="user_id_r"):
        interval_join_streams(bad_left, right, key="user_id")


def test_salted_skew_join_stream_static_hot_key(spark):
    """salted_skew_join against the exact path it exists for: a
    stream-static equi-join whose stream side carries a planted
    100k-row hot key, with broadcast disabled (AQE cannot rebalance a
    stream-static join — state/exchange partitioning is fixed by the
    plan before any runtime statistics exist, and the small side here
    is declared broadcast-ineligible). The salt comes from the per-row-
    unique event_id (`salt_cols`), so the hot key's rows must spread
    over every salt bucket; the executed micro-batch plan must show the
    (key, salt) exchange on the stream side and no broadcast join; and
    the result must equal the plain batch join row-for-row
    (SURVEY §7 Phase 5's hot-actor skew scenario)."""
    import uuid

    from github_event_etl_spark.operators.skew import (
        SALT_COL,
        salted_skew_join,
        with_salt,
    )

    n_hot, n_spread, n_salts = 100_000, 5_000, 8
    src = tempfile.mkdtemp(prefix="geetl_skewstream_src_")
    ckpt = tempfile.mkdtemp(prefix="geetl_skewstream_ckpt_")
    bcast_keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    prev = {k: spark.conf.get(k, None) for k in bcast_keys}
    name = f"skewjoin_{uuid.uuid4().hex[:8]}"
    try:
        base = spark.range(n_hot + n_spread).select(
            F.col("id").alias("event_id"),
            (F.lit(_ts(1.0)) + F.col("id")).alias("ts_us"),
            F.when(F.col("id") < n_hot, F.lit(7))
            .otherwise(F.col("id") % 97)
            .alias("user_id"),
            F.lit("purchase").alias("event_type"),
            (F.col("id") % 100).cast("double").alias("value"),
        )
        base.repartition(4).write.mode("overwrite").json(src)

        dim = spark.createDataFrame(
            [(u, f"seg_{u % 5}") for u in range(97)],
            "user_id long, segment string",
        )

        for k in bcast_keys:
            spark.conf.set(k, "-1")

        # the hot key's rows must actually spread: unique-column salt
        hot_salts = (
            with_salt(
                spark.read.schema(REPLAY_SCHEMA).json(src).filter(
                    F.col("user_id") == 7
                ),
                n_salts,
                from_cols=["event_id"],
            )
            .select(SALT_COL)
            .distinct()
            .count()
        )
        assert hot_salts == n_salts

        stream = read_event_stream(spark, src)
        joined = salted_skew_join(
            stream, dim, "user_id", n_salts=n_salts, salt_cols=["event_id"]
        ).select("event_id", "user_id", "segment")
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
        q.stop()

        # the executed micro-batch plan: (key, salt) exchange on the
        # stream side, and no broadcast anywhere
        salted_exchanges = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning(user_id" in ln and SALT_COL in ln
        ]
        assert len(salted_exchanges) >= 2  # one per join side
        assert "BroadcastHashJoin" not in plan

        got = spark.table(name)
        want = (
            spark.read.schema(REPLAY_SCHEMA)
            .json(src)
            .join(dim, "user_id")
            .select("event_id", "user_id", "segment")
        )
        assert got.count() == n_hot + n_spread  # every user_id matches
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_replay_dir_rewrites_tree_without_committed_spec(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A complete JSON write with its `_SUCCESS` marker but no
    `_spec.json` — what an older derivation leaves behind — is not a
    committed replay tree: the dupes helper must rewrite it, so the
    directory it returns holds the injected duplicates, not the plain
    events."""
    from github_event_etl_spark.scratch import scratch_dir
    from github_event_etl_spark.sources.tables import load_table
    from github_event_etl_spark.streaming.replay import (
        events_replay_dir_with_dupes,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = scratch_dir(sf_dir, "stream_src_dup")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    ev.repartition(8).write.mode("overwrite").json(stale)
    assert os.path.exists(os.path.join(stale, "_SUCCESS"))
    n = ev.count()
    n_dupes = ev.filter(F.col("event_id") % 7 == 0).count()
    assert n_dupes > 0

    out = events_replay_dir_with_dupes(spark, sf_dir)
    assert out == stale
    got = spark.read.schema(REPLAY_SCHEMA).json(out)
    assert got.count() == n + n_dupes
    assert os.path.exists(os.path.join(out, "_spec.json"))
