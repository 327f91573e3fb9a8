"""Session-level defaults (github_event_etl_spark/session.py)."""

from __future__ import annotations


def test_warm_pipelines_compile_nothing(spark, sf_dir):
    """Each generated class compiles once per session: a second run of
    both composed pipelines, back to back with the first, finds every
    class in Spark's codegen cache. With the default 100-entry cache (or
    with stage ids in class names, which AQE numbers differently from
    run to run) the second run recompiles nearly all of its ~300
    classes. The confs `ensure_session_defaults` changes are restored
    after, so later tests see the fixture session as it was."""
    from github_event_etl_spark.plans.pipelines import (
        dedup_e2e_pipeline,
        incremental_e2e_pipeline,
    )
    from github_event_etl_spark.session import ensure_session_defaults

    before = spark.conf.getAll
    ensure_session_defaults(spark)
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

    try:
        cold = run_both()
        warm = run_both()
    finally:
        for k, v in spark.conf.getAll.items():
            if k not in before:
                spark.conf.unset(k)
            elif v != before[k]:
                spark.conf.set(k, before[k])
    assert cold > 0, cold
    assert warm <= 5, (cold, warm)


def test_context_checkpoint_dir_makes_incremental_e2e_cuts_reliable(
    spark, sf_dir, context_checkpoint_dir
):
    """`session.materialize` is the one lineage-cut rule: once a
    deployment sets a checkpoint dir on the SparkContext, every eager
    cut of the incremental waterfall is a reliable checkpoint under it
    (three stage verdicts plus the MinHash and semantic stages' batch
    band keys), and the report equals a run with no dir."""
    from github_event_etl_spark.plans.pipelines import incremental_e2e_pipeline

    local = incremental_e2e_pipeline(spark, sf_dir).collect()
    assert not context_checkpoint_dir.exists()

    spark.sparkContext.setCheckpointDir(str(context_checkpoint_dir))
    reliable = incremental_e2e_pipeline(spark, sf_dir).collect()
    assert reliable == local and len(local) > 0
    rdd_dirs = list(context_checkpoint_dir.glob("*/rdd-*"))
    assert len(rdd_dirs) == 5, rdd_dirs
    assert all(any(d.glob("part-*")) for d in rdd_dirs)
