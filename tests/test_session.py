"""Session-level defaults (github_event_etl_spark/session.py)."""

from __future__ import annotations


def test_warm_pipelines_compile_nothing(spark, sf_dir):
    """Each generated class compiles once per session: a second run of
    both composed pipelines, back to back with the first, finds every
    class in Spark's codegen cache. With the default 100-entry cache (or
    with stage ids in class names, which AQE numbers differently from
    run to run) the second run recompiles nearly all of its ~300
    classes."""
    from github_event_etl_spark.plans.pipelines import (
        dedup_e2e_pipeline,
        incremental_e2e_pipeline,
    )

    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def run_both() -> int:
        n0 = compiles.getCount()
        for pipeline in (dedup_e2e_pipeline, incremental_e2e_pipeline):
            pipeline(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles.getCount() - n0

    cold = run_both()
    warm = run_both()
    assert cold > 0, cold
    assert warm <= 5, (cold, warm)


_FRESH_SESSION_PROBE = """
import json, os, sys
from github_event_etl_spark.plans.catalog import resolve
from github_event_etl_spark.session import get_spark

spark = get_spark()
before = spark.conf.getAll
resolve("agg_hourly_count")(spark, sys.argv[1])
print(json.dumps({
    "master": spark.sparkContext.master,
    "cpus": len(os.sched_getaffinity(0)),
    "added_or_changed": sorted(
        k for k, v in spark.conf.getAll.items() if before.get(k) != v
    ),
    "removed": sorted(set(before) - set(spark.conf.getAll)),
}))
spark.stop()
"""


def test_unconfigured_session_is_host_sized_and_complete(sf_dir):
    """With no `SPARK_GRAFT_*` sizing set, `get_spark` runs one local
    core per usable CPU, and its session already carries every conf a
    catalog query applies: building a key changes no conf. Runs in a
    fresh process, since the fixture session's JVM is already sized."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
    }
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_PROBE, sf_dir],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe["master"] == f"local[{probe['cpus']}]", probe
    assert probe["added_or_changed"] == [] and probe["removed"] == [], probe


def test_context_checkpoint_dir_makes_incremental_e2e_cuts_reliable(
    spark, sf_dir, context_checkpoint_dir, monkeypatch
):
    """`session.materialize` is the one lineage-cut rule: once a
    deployment sets a checkpoint dir on the SparkContext, every eager
    cut of the incremental waterfall is a reliable checkpoint under it
    (three stage verdicts plus the MinHash and semantic stages' batch
    band keys), and the report equals a run with no dir. The test holds
    every cut frame, so the context cleaner cannot remove a dir before
    it is counted."""
    from github_event_etl_spark.operators import text_dedup
    from github_event_etl_spark.plans import pipelines
    from github_event_etl_spark.session import materialize

    cuts = []

    def holding(df):
        cuts.append(materialize(df))
        return cuts[-1]

    for module in (pipelines, text_dedup):
        monkeypatch.setattr(module, "materialize", holding)

    local = pipelines.incremental_e2e_pipeline(spark, sf_dir).collect()
    assert not context_checkpoint_dir.exists()

    cuts.clear()
    spark.sparkContext.setCheckpointDir(str(context_checkpoint_dir))
    reliable = pipelines.incremental_e2e_pipeline(spark, sf_dir).collect()
    assert reliable == local and len(local) > 0
    rdd_dirs = list(context_checkpoint_dir.glob("*/rdd-*"))
    assert len(rdd_dirs) == len(cuts) == 5, rdd_dirs
    assert all(any(d.glob("part-*")) for d in rdd_dirs)


def test_reliable_cuts_are_cleaned_once_no_frame_reads_them(
    spark, sf_dir, context_checkpoint_dir
):
    """`get_spark` sets `spark.cleaner.referenceTracking.cleanCheckpoints`,
    so a reliable cut's `rdd-*` dir lives as long as a frame reads it and
    no longer. Two incremental waterfall runs under a context checkpoint
    dir: while the second run's report frame is held, forced driver GCs
    (Python, then JVM) remove the first run's dirs and the second run's
    batch-band cuts, which nothing reads once its verdicts are cut; the
    three verdict dirs the held frame reads stay, and its rows do not
    change. Once that frame is dropped too, every dir goes. Without the
    conf every dir stays for the life of the context."""
    import gc
    import time

    from github_event_etl_spark.plans.pipelines import incremental_e2e_pipeline

    sc = spark.sparkContext
    assert sc.getConf().get(
        "spark.cleaner.referenceTracking.cleanCheckpoints"
    ) == "true"
    sc.setCheckpointDir(str(context_checkpoint_dir))

    def dirs():
        return {d.name for d in context_checkpoint_dir.glob("*/rdd-*")}

    def collect_until(done, seconds=60):
        deadline = time.monotonic() + seconds
        while not done() and time.monotonic() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)

    first = incremental_e2e_pipeline(spark, sf_dir)
    rows = sorted(first.collect())
    first_dirs = dirs()
    held = incremental_e2e_pipeline(spark, sf_dir)
    assert sorted(held.collect()) == rows and rows
    held_dirs = dirs() - first_dirs
    assert first_dirs and held_dirs

    del first
    collect_until(lambda: not dirs() & first_dirs and len(dirs()) == 3)
    kept = dirs()
    assert len(kept) == 3 and kept <= held_dirs, (kept, held_dirs)
    assert sorted(held.collect()) == rows
    assert dirs() == kept

    del held
    collect_until(lambda: not dirs())
    assert not dirs()
