import pytest


@pytest.fixture(scope="session")
def spark():
    from cpp_parquet_spark.session import get_spark
    s = get_spark(app="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
