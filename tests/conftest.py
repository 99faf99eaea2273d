import pytest

from bela_spark.session import default_cpus, get_spark


def executed_plan(df) -> str:
    """Physical-plan string of a DataFrame (shared by the plan-shape tests)."""
    return df._jdf.queryExecution().executedPlan().toString()


def jobs_run(spark, fn):
    """(fn(), the number of Spark jobs fn started on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bela-spark-tests", master=f"local[{default_cpus()}]", shuffle_partitions=8
    )
    yield s
    s.stop()
