from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from github_event_etl_spark.session import get_spark

    spark = get_spark(app_name="geetl-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def context_checkpoint_dir(spark, tmp_path):
    """A path for the test to set as the fixture session's SparkContext
    checkpoint dir (what a deployment does once); unset after the test.
    Spark has no public unset, so the teardown goes through the
    Scala-side Option setter."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    try:
        yield tmp_path / "spark_ckpt"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
