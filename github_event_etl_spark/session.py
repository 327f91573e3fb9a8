"""SparkSession construction and session-level defaults.

Scale posture (100 TB design, tested in local mode on one host):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion replace hand-tuned plans.
- Arrow on: every Python<->JVM hop (pandas UDFs, toPandas) is batched.
- UTC session timezone: all reference time semantics are UTC
  (reference: update-contributor-scores.js:12-25 does all date math in
  UTC); making it a session default keeps date_trunc/date_format
  deterministic regardless of host timezone.
- Generated classes compile once per session. Spark caches compiled
  codegen classes keyed by their source, 100 by default; the two
  composed pipelines alone generate ~300, so each warm run recompiled
  (janino) all of them. `CODEGEN_CACHE_ENTRIES` is sized to the
  engine's working set: bench.py's benched keys plus both pipelines
  compile 830-860 distinct classes in one session at sf0.1. The cap
  leaves headroom because the (Guava) cache evicts per segment, at a
  quarter of the cap in each of 4. It is a constant, not an option: the
  cache is static (JVM-wide, sized once), and a size below the working
  set shows only as lost speed. Stage ids stay out of class names
  (`useIdInClassName=false`): AQE numbers codegen stages differently
  from run to run, and an identical body under a new name misses the
  cache. The id stays in the plan string and the generated comment.
- One lineage-cut rule (`materialize`). Iterative and composed plans
  (connected-components rounds, k-means iterations, BPE merges, the
  two pipelines' verdict stages) cut their lineage eagerly, and the
  kind of cut follows the deployment: a checkpoint dir set once on the
  SparkContext makes every cut reliable; without one they stay local.
  Reliable cuts clean up after themselves (`materialize`).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Static `spark.sql.codegen.cache.maxEntries`; see the module docstring.
CODEGEN_CACHE_ENTRIES = 1500


def get_spark(app_name: str = "github-event-etl-spark") -> SparkSession:
    """Build (or fetch) the engine's local-mode SparkSession, with
    `ensure_session_defaults` applied.

    The master is ``local[$SPARK_GRAFT_CPUS]``, by default the CPUs this
    process may run on (what `nproc` reports). Only static and launch
    confs are set here; every runtime conf the queries rely on is set
    once, in `ensure_session_defaults`. Builder options override a
    submitted conf, so a cluster deployment builds its own session and
    calls `ensure_session_defaults` on it, as the verification driver
    does.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return ensure_session_defaults(builder.getOrCreate())


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the config this engine's queries rely on to an externally
    provided session (the verification driver constructs its own).

    Only runtime-settable confs here. UTC is load-bearing: hour/day
    bucketing and timestamp formatting in declared queries must match the
    UTC-based oracle SQL.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # A vanilla session defaults to 200 shuffle partitions — wasteful on
    # one host (and each streaming micro-batch materializes one state
    # store per partition). Runtime-settable, so pin it here; AQE still
    # coalesces below this at execution. Safe for the bounded streams:
    # every declared streaming query uses a fresh checkpoint.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS)
        ),
    )
    # The driver-generated events.parquet stores TIMESTAMP(NANOS), which
    # Spark 4 rejects by default; read as long and let the loader convert
    # (sources.tables.load_table) — data is µs-precision, so exact.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver parquet timestamps carry no timezone (isAdjustedToUTC=false);
    # with NTZ inference on, Spark 4 reads them as TIMESTAMP_NTZ, which
    # strict functions (unix_micros, window) reject. The data is naive UTC
    # and the session timezone is UTC, so reading as TIMESTAMP is the
    # identical instant; load_table also normalizes defensively.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Codegen cache hits need a stable class body; AQE's stage numbering
    # is not stable (module docstring).
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def pinned_confs(spark: SparkSession, pins: dict[str, str]):
    """Set the runtime confs `pins` for the body of the `with`, then
    restore each faithfully: a key that was unset before is unset again,
    so a pin never leaks into the shared session as an explicit value."""
    prev = [(k, spark.conf.get(k, None)) for k in pins]
    try:
        for k, v in pins.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, p in prev:
            if p is not None:
                spark.conf.set(k, p)
            else:
                spark.conf.unset(k)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute `df` and cut its lineage: the package's one rule
    for an iterative or composed plan's materialization points.

    With a checkpoint dir set on the SparkContext
    (`sparkContext.setCheckpointDir`, once per deployment), this is a
    reliable `df.checkpoint(eager=True)`: the rows go to that
    fault-tolerant storage, so losing an executor after the cut
    recomputes nothing upstream of it. Without one it is
    `df.localCheckpoint(eager=True)`: cheaper, and correct in local
    mode, but its blocks live on the executors and die with them, so a
    multi-executor deployment must set a shared-filesystem dir.

    Each reliable call writes one RDD directory. `get_spark` sets the
    static `spark.cleaner.referenceTracking.cleanCheckpoints`, so the context
    cleaner removes a directory once its checkpointed RDD is
    garbage-collected on the driver — never while a frame that reads
    it is still held. A session built without that conf keeps every
    directory for the life of its context.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


_SHIPPED_SESSIONS: set[int] = set()
_PKG_ZIP: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    consumer session's working directory.

    cloudpickle serializes module-level functions (pandas UDFs,
    applyInPandas/mapInPandas callables) BY REFERENCE, so every Python
    worker must be able to `import github_event_etl_spark`. A consumer
    that starts its session outside the repo root would otherwise fail
    with ModuleNotFoundError on the first UDF task. Shipping the
    package as a zip via addPyFile is the standard Spark mechanism and
    works identically on a 1000-executor cluster (the zip rides the
    file server; ~40 kB once per session)."""
    sid = id(spark)
    if sid in _SHIPPED_SESSIONS:
        return
    global _PKG_ZIP
    import tempfile
    import zipfile

    # Build into a per-process private directory (mkdtemp => mode 0700,
    # unpredictable name), cached for the process lifetime. A fixed
    # world-writable path would let another user on a shared host
    # pre-create the file and have THEIR code shipped to every Python
    # worker; a private fresh build removes both the tampering and the
    # stale-zip (future-mtime) windows.
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        py_files = []
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    py_files.append(os.path.join(root, fn))
        zdir = tempfile.mkdtemp(prefix="geetl_spark_pkg_")
        zpath = os.path.join(zdir, "geetl_spark_pkg.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for p in sorted(py_files):
                arc = os.path.join(
                    "github_event_etl_spark", os.path.relpath(p, pkg_dir)
                )
                zf.write(p, arc)
        _PKG_ZIP = zpath
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        # Non-fatal: sessions launched from the repo root (tests, bench,
        # the verification driver) resolve the package from cwd anyway.
        pass
    _SHIPPED_SESSIONS.add(sid)
