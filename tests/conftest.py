import pytest

from mpnsm_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mpnsm_spark_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcript table shared across tests."""
    from mpnsm_spark.generator import generate_transcripts, with_value

    df = with_value(generate_transcripts(spark, n_convs=40, n_turns=4000, seed=42))
    df = df.cache()
    df.count()
    return df


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn submitted)``,
    counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001
        # job starts reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
