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
