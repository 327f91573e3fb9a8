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
other filters are returned to Spark to evaluate post-scan. The stream
face splits each micro-batch's index range the same way.

`NdjsonSinkDataSource` is the write side: an exactly-once NDJSON
stream sink whose only commit is one manifest per batch.
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


def _options(options: dict) -> tuple[int, int]:
    """(n, num_partitions), checked once for both faces: a negative
    `n` or a non-positive `num_partitions` fails the query instead of
    planning an empty scan."""
    n = int(options.get("n", 1000))
    num_partitions = int(options.get("num_partitions", 4))
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    return n, num_partitions


def _range_partitions(
    lo: int, hi: int, num_partitions: int
) -> list[_RangePartition]:
    """[lo, hi) as at most `num_partitions` contiguous ranges; an empty
    or regressed range (hi <= lo) plans none."""
    if hi <= lo:
        return []
    per = -(-(hi - lo) // num_partitions)
    return [_RangePartition(a, min(a + per, hi)) for a in range(lo, hi, per)]


class _SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n, self.num_partitions = _options(options)
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
        # n == 0 is zero rows, not a crash: one empty range partition
        # (an empty LIST makes Spark call read with a None partition)
        return _range_partitions(0, self.n, self.num_partitions) or [
            _RangePartition(0, 0)
        ]

    def read(self, partition: _RangePartition):
        tf = self.type_filter
        for i in range(partition.start, partition.end):
            row = _row(i)
            if tf is None or row[3] == tf:
                yield row


class _SyntheticEventsPartitionedStreamReader(DataSourceStreamReader):
    """The streaming face: the driver only PLANS offsets; `read()` runs
    in executor tasks, generating rows where they are consumed. Nothing
    row-shaped ever crosses the driver — the shape a production stream
    source (Kafka-like log, object-store drop) must take at scale.

    Offset model: the whole [0, n) index range of this static synthetic
    source is available the moment the query starts, so `latestOffset`
    honestly reports {'index': n} and a fresh run is ONE micro-batch of
    `num_partitions` executor tasks; `trigger(availableNow=True)` runs
    that batch and stops. (An incrementally-advancing latestOffset
    would need the checkpointed position to avoid regressing after a
    restart, and this API never hands the reader that position — a
    real source derives latest from its upstream log instead.) A
    restart against the same checkpoint with a larger `n` commits
    [old n, new n) as the next batch. Shrinking `n` below an existing
    checkpoint's offset is an offset regression the engine may reject;
    `partitions()` guards it locally by emitting no work.
    """

    def __init__(self, options: dict):
        self.n, self.num_partitions = _options(options)

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": self.n}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return _range_partitions(
            int(start["index"]), int(end["index"]), self.num_partitions
        )

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

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _SyntheticEventsPartitionedStreamReader(self.options)


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


def _json_default(v):
    """JSON form of the values `json` cannot encode: dates and
    timestamps as ISO-8601 strings, `Decimal` as its exact string form
    (Spark's JSON reader parses both back under the stream schema)."""
    from decimal import Decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    raise TypeError(f"{type(v).__name__} is not JSON serializable")


class _NdjsonStreamWriter(DataSourceStreamWriter):
    """Exactly-once NDJSON sink via the two-phase commit the writer API
    provides, in the object-storage shape — no rename of data anywhere.
    Each task "uploads" its partition as one uniquely-named object into
    a flat staging namespace (`{path}/_staging/`, standing in for
    atomic per-object PUTs; task retries never collide) and reports it
    in the commit message. `commit` — called once per successful batch
    on the driver — is the batch's single atomic action: writing
    `{path}/batch_id={N}/manifest.json` naming exactly the parts the
    batch consists of. Readers (`manifested_part_paths`) list parts
    FROM the manifests, never by directory listing, so a staged object
    from a dead task attempt is invisible by construction. A batch
    replayed after a failure re-runs its tasks and overwrites the SAME
    manifest (idempotent — the re-run's part names simply replace the
    old attempt's), and commit sweeps staged objects referenced by NO
    manifest (manifest-anchored GC; on a real deployment this runs as
    an out-of-band lifecycle job instead); `abort` removes the reported
    objects of a failed batch. This is the commit protocol a multi-node
    cluster without a shared POSIX mount needs; the local filesystem
    here only stands in for the object store's put/list/delete API.

    One writer per `path` at a time."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _NdjsonCommitMessage:
        import json
        import os
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        part = os.path.join(staging, f"part-{uuid.uuid4().hex}.ndjson")
        n = 0
        with open(part, "w") as f:
            for row in iterator:
                rec = row.asDict(recursive=True)
                f.write(
                    json.dumps(rec, sort_keys=True, default=_json_default)
                    + "\n"
                )
                n += 1
            # durable before the manifest can name it (a PUT is)
            f.flush()
            os.fsync(f.fileno())
        return _NdjsonCommitMessage(part, n)

    def commit(self, messages, batchId: int) -> None:
        """Atomic commit = one manifest write; parts stay where they
        were uploaded. The manifest goes through the index layer's
        durable JSON commit (`_atomic_write_json`: fsync, same-directory
        rename, directory fsync), so a reader never observes a torn or
        power-cut-emptied manifest — the ONE rename this sink performs,
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
    shape (one manifest-committed NDJSON drop per batch) as a
    first-class Python data source — the write-side twin of the
    synthetic source's read path. Read its output through
    `manifested_part_paths`, never by listing `batch_id=*`."""

    @classmethod
    def name(cls) -> str:
        return "ndjson_dir"

    def streamWriter(self, schema, overwrite: bool):
        return _NdjsonStreamWriter(self.options)


def register_ndjson_sink(spark) -> None:
    spark.dataSource.register(NdjsonSinkDataSource)


def manifested_part_paths(path: str) -> list[str]:
    """The committed data files of an `ndjson_dir` sink directory: the
    union of every batch manifest's parts, resolved into the staging
    namespace. THE reader contract for the sink — a staged
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

