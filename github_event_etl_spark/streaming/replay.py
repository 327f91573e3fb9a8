"""File-source replay harness for Structured Streaming queries
(SURVEY.md §2 B9, §7 Phase 4).

The reference's stream is a Redis Stream fed by polling ingest
(insert-events.js → insert-events-into-db.lua XADD); the Spark-native
equivalent is a file (or Kafka) source replayed through the micro-batch
engine. These helpers materialize the test `events` table as an NDJSON
drop directory — the same shape a real ingest tier would land — once
per dataset (committed by `scratch.materialize_once`, so a tree from
an interrupted write or an older derivation is rewritten), and run
bounded streams to a deterministic final state with
Trigger.AvailableNow.

Determinism contract: timestamps travel as epoch-microsecond longs
(never formatted strings), every query gets a fresh checkpoint dir, and
bounded replay means the final state equals the batch answer — which is
exactly what the DuckDB oracles in plans/queries_streaming.py assert.

Scale posture: a file-source directory with thousands of files is the
100 TB landing pattern (hour-partitioned drops); maxFilesPerTrigger
bounds per-batch work, watermarks bound state, and checkpointing gives
exactly-once restarts (the A13 idempotence analog,
update-contributor-scores.js:195-204).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import materialize_once, scratch_dir
from ..session import pinned_confs
from ..sources.tables import SCHEMAS, load_table

REPLAY_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _replay_drop(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    num_files: int,
    derive: Callable[[DataFrame], DataFrame],
    **constants,
) -> str:
    """Materialize `derive(events)` — the events table in replay shape
    (epoch-µs `ts_us`) — as `num_files` NDJSON files under
    `scratch_dir(sf_dir, name)` and return the directory. Committed by
    `scratch.materialize_once`; the spec is the derivation's
    `constants`, the file count and the declared events schema, so a
    served tree costs no table read."""

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        derive(ev).repartition(num_files).write.mode("overwrite").json(path)

    out = scratch_dir(sf_dir, name)
    spec = {**constants, "num_files": num_files,
            "schema": SCHEMAS["events"].simpleString()}
    materialize_once(out, spec, write)
    return out


def events_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    num_files: int = 8,
    tag: str = "base",
    event_type: str | None = None,
) -> str:
    """Materialize the events table as `num_files` NDJSON files under a
    deterministic scratch dir, once (`_replay_drop`: reused while its
    spec matches — the path includes tag, num_files AND event_type, so
    a different layout request never lands on another one's tree).
    Files are the replay's micro-batch unit. `event_type` restricts the
    drop to one type — the per-topic landing layout (a real ingest tier
    drops purchases and views into separate topics/prefixes; consumers
    don't re-filter an interleaved log)."""
    # event_type is part of the path: a filtered request under the
    # default tag must never return (or poison) the unfiltered 'base'
    # drop every other streaming key reads.
    if event_type is not None:
        tag = f"{tag}_{event_type}"
    return _replay_drop(
        spark, sf_dir, f"stream_src_{tag}_{num_files}", num_files,
        lambda ev: ev if event_type is None
        else ev.filter(F.col("event_type") == event_type),
        event_type=event_type,
    )


def events_replay_dir_with_dupes(spark: SparkSession, sf_dir: str) -> str:
    """Replay directory carrying injected duplicates (every 7th event
    twice) — the input for the streaming-dedup demos. Same
    materialize-once contract as `events_replay_dir`; a separate helper
    so harness warmup can materialize it OUTSIDE any measured window
    (it is test-fixture setup, not query work)."""
    every = 7
    return _replay_drop(
        spark, sf_dir, "stream_src_dup", 8,
        lambda ev: ev.unionAll(ev.filter(F.col("event_id") % every == 0)),
        dupe_every=every,
    )


def events_replay_dir_by_type(
    spark: SparkSession, sf_dir: str, event_type: str, num_files: int = 4
) -> str:
    """Per-topic replay directory: `events_replay_dir` restricted to
    one event type (see its docstring for the layout rationale). The
    stream-stream join keys read their two sides from two such dirs,
    so each side parses only its own rows."""
    return events_replay_dir(
        spark,
        sf_dir,
        num_files=num_files,
        tag="t",  # event_type itself joins the cache key in the callee
        event_type=event_type,
    )


def read_event_stream(spark: SparkSession, src_dir: str, **options) -> DataFrame:
    """Open the replay directory as a streaming source and restore the
    typed event shape (ts back to TimestampType)."""
    reader = spark.readStream.schema(REPLAY_SCHEMA)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(src_dir).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def run_bounded(
    stream_df: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    shuffle_partitions: int | None = 4,
    no_data_batches: bool = True,
) -> DataFrame:
    """Run a bounded stream to completion (AvailableNow) into a memory
    sink and return the final result as a batch DataFrame. Fresh
    checkpoint + unique sink table per run — no cross-run state.

    `shuffle_partitions` pins `spark.sql.shuffle.partitions` for the
    stream's lifetime (restored after). A stateful stream materializes
    one state store per shuffle partition per micro-batch, and that
    store count is LOCKED by the first checkpoint — the session default
    (32, sized for batch scans) makes every micro-batch pay 32 store
    open/commit cycles even when the replay is a few MB. 4 keeps the
    bounded demos' per-batch fixed cost ~8× lower with identical
    results (the final state is partition-count-invariant). A real
    deployment sizes this to target-state-volume / executor count —
    pass None to leave the session value untouched.

    `no_data_batches=False` pins `spark.sql.streaming.
    noDataMicroBatches.enabled` off for the stream's lifetime
    (restored after), skipping the trailing empty micro-batch the
    engine otherwise runs to advance the watermark. ONLY pass False
    when the sink contents don't depend on watermark advancement —
    i.e. the operator emits its rows in the data batch and uses the
    watermark purely for state EVICTION (dropDuplicates[Within
    Watermark]). For append-mode windowed aggregations the no-data
    batch is what EMITS the closed windows — disabling it there
    returns an empty sink.
    """
    name = f"{query_name or 'q'}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="geetl_ckpt_")
    spark = stream_df.sparkSession
    pins: dict[str, str] = {}
    if shuffle_partitions is not None:
        pins["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not no_data_batches:
        pins["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    try:
        with pinned_confs(spark, pins):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.table(name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_until_input_rows(
    stream_df: DataFrame,
    n_rows: int,
    query_name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = 4,
) -> DataFrame:
    """Run an UNBOUNDED-shaped stream into a memory sink until the
    engine's own progress telemetry reports `n_rows` total input rows
    committed, then stop and return the sink table.

    This is the termination pattern for sources that never signal
    completion (the rate source): boundedness is imposed by the
    CALLER's row budget, and the wait reads recentProgress — driver
    metadata, no Spark job — between awaitTermination naps. The 600 ×
    0.2 s cap bounds the loop without wall-clock arithmetic. Note
    recentProgress is a ring buffer (spark.sql.streaming.
    numRecentProgressUpdates, default 100 entries): keep batch counts
    per run well under it, as every caller here does.

    `shuffle_partitions` pins the state-store count for the stream's
    lifetime exactly as in `run_bounded` (see its docstring for the
    cost model — the final state is partition-count-invariant); pass
    None to leave the session value untouched.
    """
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"geetl_{query_name}_ckpt_")
    spark = stream_df.sparkSession
    pins: dict[str, str] = {}
    if shuffle_partitions is not None:
        pins["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # the query clones the session config synchronously inside start():
    # the pin is restored immediately after, before the poll loop
    with pinned_confs(spark, pins):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        for _ in range(600):
            seen = sum(int(p.numInputRows) for p in q.recentProgress)
            if seen >= n_rows:
                break
            q.awaitTermination(0.2)
        else:
            raise TimeoutError(
                f"{query_name}: stream never committed {n_rows} rows"
            )
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def run_foreach_batch_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Run a bounded stream through foreachBatch into an idempotent
    parquet sink — the 'write aggregates to a store' pattern
    (reference: pipeline.exec() batches,
    update-contributor-scores.js:137-144).

    Idempotence: each batch overwrites its OWN directory
    `{out_dir}/batch_id={N}`. foreachBatch is at-least-once — a restart
    after the sink write but before the checkpoint commit re-delivers
    the batch — so a blind append would duplicate rows; overwrite-by-
    batch-path makes the redelivery a no-op rewrite, and the checkpoint
    makes the end state exactly-once (A13). Readers treat batch_id as a
    partition column (`spark.read.parquet(out_dir)`)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
