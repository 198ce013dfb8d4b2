import pytest

from entity_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the status store keeps every job and stage of the suite: past Spark's
    # default of 1000 it evicts finished jobs' skipped stages first, and the
    # tests that read a job's stages back would fail by suite order
    s = get_spark(
        app_name="entity-etl-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    yield s
    s.stop()
