import pytest

from imgfact_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="imgfact_tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group, action)`` runs ``action`` under the Spark job
    group ``group`` and returns how many jobs it started.  Give each call
    its own group name: a group's job ids accumulate over the session."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
