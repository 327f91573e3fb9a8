"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource`) — the
modern extension point for sources Spark has no built-in reader for
(internal APIs, bespoke formats, synthetic generators).

`SyntheticEventsDataSource` is the reference's fabricate-events ingest
loop (insert-events.js:8-34 invents a steady event stream against no
upstream) re-expressed as a first-class source: `spark.read.format(
"synthetic_events").option("n", ...).load()` yields a deterministic
events table straight from the executors — no files, no driver-side
generation, no RNG state.

Determinism contract: every column is a pure integer function of the
row index (Weyl-sequence multiplier for user spread, modulo cycling
for types, fixed epoch base for timestamps), so the same (n,
num_partitions) always yields identical rows ANY-where — including in
ANSI SQL, which is what lets a DuckDB `range(0, n)` oracle re-derive
the source byte-for-byte (the r8 catalog key's plan).

Scale shape: `partitions()` splits [0, n) into `num_partitions`
contiguous InputPartitions, each generated independently executor-side
— parallelism and data volume both scale with the option, and nothing
materializes on the driver. `pushFilters` accepts `event_type =
'...'` equality filters so the predicate prunes INSIDE the generator
loop (the Python-source analog of parquet row-group pruning); all
other filters are returned to Spark to evaluate post-scan.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql import types as T

EVENT_TYPES = ("purchase", "signup", "view", "click", "error")
_EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)
# Knuth's multiplicative-hash constant: scrambles the index into a
# well-spread user id without RNG state.
_WEYL = 2654435761
_USERS = 97


def _row(i: int):
    return (
        i,
        _EPOCH + timedelta(seconds=i),
        (i * _WEYL) % _USERS,
        EVENT_TYPES[i % len(EVENT_TYPES)],
        float(i % 1000) / 10.0,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("num_partitions", 4))
        self.type_filter: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept AT MOST ONE event_type equality; hand everything
        else back. Returning the unsupported filters (not raising) is
        the API contract — Spark re-applies them above the scan.
        Consuming only the first equality matters for correctness:
        Catalyst does not fold a contradictory conjunction like
        type = 'a' AND type = 'b', so a second equality must go back
        to Spark (which then correctly empties the result) rather
        than silently overwrite the first."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("event_type",)
                and isinstance(f.value, str)
                and self.type_filter is None
            ):
                self.type_filter = f.value
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        if self.num_partitions < 1:
            raise ValueError(
                f"num_partitions must be >= 1, got {self.num_partitions}"
            )
        if self.n <= 0:
            # an empty source is zero rows, not a crash; one empty
            # range partition (an empty LIST makes Spark call read
            # with a None partition)
            return [_RangePartition(0, 0)]
        per = -(-self.n // self.num_partitions)
        return [
            _RangePartition(lo, min(lo + per, self.n))
            for lo in range(0, self.n, per)
        ]

    def read(self, partition: _RangePartition):
        tf = self.type_filter
        for i in range(partition.start, partition.end):
            row = _row(i)
            if tf is None or row[3] == tf:
                yield row


class _SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched view of the same deterministic row stream: batch
    k carries indices [k·rows_per_batch, (k+1)·rows_per_batch) ∩
    [0, n). Offsets are plain {'index': i} dicts checkpointed by the
    engine, so replay/readBetweenOffsets re-derives any batch exactly
    — the replayability contract a recoverable source must meet. With
    a finite `n`, read() at the cap returns no rows and the SAME
    offset, which is the caught-up signal.

    Trigger.AvailableNow caveat (measured, Spark 4.1): against a
    SimpleDataSourceStreamReader the trigger bounds the run at the
    offset the driver-side prefetcher happens to hold at start — ONE
    batch (e.g. 2 500 of 5 000 rows processed, then clean
    termination), silently incomplete. Bounded consumption of this
    source must therefore use the progress-telemetry stop
    (streaming/replay.run_until_input_rows), not availableNow."""

    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.rows_per_batch = int(options.get("rows_per_batch", 250))
        # Fail fast: rows_per_batch <= 0 would walk offsets backward
        # (negative hi) or stall at index 0 forever.
        if self.rows_per_batch < 1:
            raise ValueError(
                f"rows_per_batch must be >= 1, got {self.rows_per_batch}"
            )
        if self.n < 0:
            raise ValueError(f"n must be >= 0, got {self.n}")

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        lo = int(start["index"])
        # Clamp BOTH ends: a query restarted from a checkpoint whose
        # offset exceeds a now-smaller `n` must hold its offset (empty
        # batch, same offset back — the caught-up signal), not report
        # an end offset below the start (an offset regression the
        # engine treats as source corruption).
        hi = max(lo, min(lo + self.rows_per_batch, self.n))
        return iter([_row(i) for i in range(lo, hi)]), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [_row(i) for i in range(int(start["index"]), int(end["index"]))]
        )


class _SyntheticEventsPartitionedStreamReader(DataSourceStreamReader):
    """The EXECUTOR-SIDE streaming face — the scale shape of this
    source, and the contrast to `_SyntheticEventsStreamReader`:

    - Simple face (`SimpleDataSourceStreamReader`): the engine's
      wrapper prefetches every row THROUGH THE DRIVER and ships the
      cached batch to executors alongside the partition plan. That is
      the API's documented design — right for offset-model tests and
      low-volume sources, a driver bottleneck at any real volume
      (measured here: ~2× the per-key cost of every other streaming
      bench entry).
    - Partitioned face (this class): the driver only PLANS offsets;
      `read()` runs in executor tasks, generating rows where they are
      consumed. Nothing row-shaped ever crosses the driver — the shape
      a production stream source (Kafka-like log, object-store drop)
      must take at scale.

    Offset model: the whole [0, n) index range of this static synthetic
    source is available the moment the query starts, so `latestOffset`
    honestly reports {'index': n} and a fresh run is ONE micro-batch of
    `num_partitions` executor tasks. (An incrementally-advancing
    latestOffset would need the checkpointed position to avoid
    regressing after a restart, and this API never hands the reader
    that position — a real source derives latest from its upstream log
    instead.) `rows_per_batch` is therefore a simple-face knob only.
    Restart caveat, same as the simple face: shrinking `n` below an
    existing checkpoint's offset is an offset regression the engine
    may reject; `partitions()` guards it locally by emitting no work.
    """

    def __init__(self, options: dict):
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("num_partitions", 4))
        if self.n < 0:
            raise ValueError(f"n must be >= 0, got {self.n}")
        if self.num_partitions < 1:
            raise ValueError(
                f"num_partitions must be >= 1, got {self.num_partitions}"
            )

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": self.n}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["index"]), int(end["index"])
        if hi <= lo:
            return []
        per = -(-(hi - lo) // self.num_partitions)
        return [
            _RangePartition(a, min(a + per, hi)) for a in range(lo, hi, per)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(i)

    def commit(self, end: dict) -> None:
        # nothing to release: rows are pure functions of the index
        pass


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self):
        return T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )

    def reader(self, schema) -> DataSourceReader:
        return _SyntheticEventsReader(self.options)

    def streamReader(self, schema) -> "DataSourceStreamReader":
        """Default streaming face: the partitioned executor-side
        reader. `.option("reader", "simple")` selects the driver-
        prefetch `SimpleDataSourceStreamReader` instead (raising
        NOT_IMPLEMENTED here is the API's documented fallback path to
        `simpleStreamReader`) — kept for the offset-model tests and as
        the micro-batched {'index'} offset progression demo."""
        if self.options.get("reader", "partitioned") == "simple":
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        return _SyntheticEventsPartitionedStreamReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _SyntheticEventsStreamReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration; after this, `spark.read.format(
    "synthetic_events")` resolves to the Python source. Python-source
    filter pushdown ships disabled by default (Spark 4.1) and the scan
    REFUSES to run a pushFilters-implementing reader without it, so
    registration enables the conf alongside.

    Caller-facing contract: the `spark.sql.python.filterPushdown.
    enabled` change is session-wide and INTENTIONALLY STICKY — it is a
    capability flag every pushFilters-implementing Python source needs
    (and plain ones ignore), not a per-query tuning knob, so restoring
    it after each read would just re-break the next scan. Callers that
    must not inherit it should register on a dedicated session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)


# ------------------------------------------------------- Python stream sink


class _NdjsonCommitMessage(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class _NdjsonStreamWriter(DataSourceStreamWriter):
    """Exactly-once NDJSON sink via the two-phase commit the writer API
    provides: each task writes its partition to a UNIQUELY-NAMED temp
    file (task retries never collide) and reports it in the commit
    message; `commit` — called once per successful batch on the driver
    — atomically renames the reported files into
    `{path}/batch_id={N}/` and then SWEEPS the staging area (a task
    that died before delivering its message leaves a temp file no
    message references; per-attempt-unique names make removing the
    unreferenced ones safe, and `abort` additionally removes the
    reported ones on a failed batch). A batch replayed after a failure
    re-runs its tasks and re-commits the SAME batch directory, which
    commit clears first — the overwrite-by-batch idempotence
    run_foreach_batch_to_parquet documents, here implemented beneath
    the engine's own commit protocol instead of inside a user
    callback.

    COMMIT MODES (`commit` option):

    - ``rename`` (default): task temp files are os.replace'd into
      `{path}/batch_id={N}/` at commit. Requires driver and executors
      to share `path` on ONE mount (local mode, NFS/FUSE-mounted
      object storage) — write() stages on the executor and the rename
      runs on the driver, and rename-based commits only work within a
      mount.
    - ``manifest``: the object-storage commit shape, no rename
      anywhere. Each task "uploads" its part into a flat staging
      namespace (`_staging/`, standing in for atomic per-object PUTs)
      and the driver's single atomic commit action is writing
      `{path}/batch_id={N}/manifest.json` naming exactly the parts the
      batch consists of. Readers (`manifested_part_paths`) list
      parts FROM the manifests, never by directory listing, so a
      staged object from a dead task attempt is invisible by
      construction. Replay overwrites the SAME manifest (idempotent —
      the re-run's part names simply replace the old attempt's), and
      commit sweeps staged objects referenced by NO manifest
      (manifest-anchored GC; on a real deployment this runs as an
      out-of-band lifecycle job instead). This is the commit protocol
      a multi-node cluster without a shared POSIX mount needs; the
      local filesystem here only stands in for the object store's
      put/list/delete API.

    One writer per `path` at a time, in either mode."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.mode = options.get("commit", "rename")
        if self.mode not in ("rename", "manifest"):
            raise ValueError(
                f"commit option must be 'rename' or 'manifest', got "
                f"{self.mode!r}"
            )

    def _stage_dir(self) -> str:
        return "_staging" if self.mode == "manifest" else "_tmp"

    def write(self, iterator) -> _NdjsonCommitMessage:
        import json
        import os
        import uuid

        tmp_dir = os.path.join(self.path, self._stage_dir())
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = os.path.join(tmp_dir, f"part-{uuid.uuid4().hex}.ndjson")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                rec = row.asDict()
                for k, v in rec.items():
                    if hasattr(v, "isoformat"):
                        rec[k] = v.isoformat()
                f.write(json.dumps(rec, sort_keys=True) + "\n")
                n += 1
        return _NdjsonCommitMessage(tmp, n)

    def commit(self, messages, batchId: int) -> None:
        if self.mode == "manifest":
            self._commit_manifest(messages, batchId)
        else:
            self._commit_rename(messages, batchId)

    def _commit_rename(self, messages, batchId: int) -> None:
        import glob
        import os
        import shutil

        out = os.path.join(self.path, f"batch_id={batchId}")
        shutil.rmtree(out, ignore_errors=True)  # replay overwrites
        os.makedirs(out, exist_ok=True)
        for i, m in enumerate(messages):
            if m is not None and m.rows > 0:
                os.replace(m.path, os.path.join(out, f"part-{i:05d}.ndjson"))
            elif m is not None:
                os.remove(m.path)
        # Sweep orphans: temp files from task attempts that died before
        # reporting a message. Names are per-attempt unique, so
        # anything still in _tmp after the renames is garbage.
        for stale in glob.glob(os.path.join(self.path, "_tmp", "*")):
            try:
                os.remove(stale)
            except OSError:
                pass

    def _commit_manifest(self, messages, batchId: int) -> None:
        """Atomic commit = one manifest write; parts stay where they
        were uploaded. The manifest goes through the index layer's
        durable JSON commit (`_atomic_write_json`: fsync, same-directory
        rename, directory fsync), so a reader never observes a torn or
        power-cut-emptied manifest — the ONE rename this mode performs,
        and it is driver-local metadata (an object store's single-object
        PUT gives the same atomicity)."""
        import glob
        import json
        import os

        from ..operators.index_maintenance import _atomic_write_json

        parts = sorted(
            os.path.basename(m.path)
            for m in messages
            if m is not None and m.rows > 0
        )
        for m in messages:  # empty parts are never referenced: GC now
            if m is not None and m.rows == 0:
                try:
                    os.remove(m.path)
                except OSError:
                    pass
        out = os.path.join(self.path, f"batch_id={batchId}")
        os.makedirs(out, exist_ok=True)
        _atomic_write_json(
            os.path.join(out, "manifest.json"),
            {"batch_id": batchId, "parts": parts},
        )
        # Manifest-anchored GC: a staged object referenced by no
        # manifest is garbage (dead task attempt, or a replaced replay
        # attempt). One batch commits at a time, so everything live is
        # in the manifests just written plus this batch's. The sweep
        # MUST be conservative: if any manifest cannot be read, its
        # parts cannot be proven garbage, so skip the entire sweep —
        # deleting on a transient read error (NFS blip, permission
        # race) would destroy committed data; orphans just wait for a
        # later commit's sweep (or the out-of-band lifecycle job).
        referenced: set[str] = set(parts)
        try:
            for mf in glob.glob(
                os.path.join(self.path, "batch_id=*", "manifest.json")
            ):
                with open(mf) as f:
                    referenced.update(json.load(f).get("parts", []))
        except (OSError, ValueError):
            return
        for staged in glob.glob(os.path.join(self.path, "_staging", "*")):
            if os.path.basename(staged) not in referenced:
                try:
                    os.remove(staged)
                except OSError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class NdjsonSinkDataSource(DataSource):
    """`writeStream.format("ndjson_dir")`: the landing-directory sink
    shape (one NDJSON drop per committed batch) as a first-class
    Python data source — the write-side twin of the synthetic source's
    read path, and the same physical layout `events_replay_dir`
    replays."""

    @classmethod
    def name(cls) -> str:
        return "ndjson_dir"

    def streamWriter(self, schema, overwrite: bool):
        return _NdjsonStreamWriter(self.options)


def register_ndjson_sink(spark) -> None:
    spark.dataSource.register(NdjsonSinkDataSource)


def manifested_part_paths(path: str) -> list[str]:
    """The committed data files of a manifest-mode sink directory: the
    union of every batch manifest's parts, resolved into the staging
    namespace. THE reader contract for manifest commits — a staged
    object no manifest names (dead task attempt, superseded replay
    attempt) is invisible because listing never touches the directory,
    mirroring how manifest-committed tables (Iceberg/Delta-style) read
    on real object storage."""
    import glob
    import json
    import os

    parts: list[str] = []
    for mf in sorted(glob.glob(os.path.join(path, "batch_id=*", "manifest.json"))):
        with open(mf) as f:
            doc = json.load(f)
        parts.extend(
            os.path.join(path, "_staging", p) for p in doc.get("parts", [])
        )
    return parts

