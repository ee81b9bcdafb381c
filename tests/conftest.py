import pytest


@pytest.fixture(scope="session")
def spark():
    from skar_spark.session import get_spark
    s = get_spark(app="skar_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
