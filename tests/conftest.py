import pytest

from mahout_samsara_book_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def small_arrow_batches(spark):
    """Seven-row Arrow batches: every partition arrives as several."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        yield
    finally:
        spark.conf.set(key, old)
