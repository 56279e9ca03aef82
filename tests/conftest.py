import os

import pytest

os.environ.setdefault("SPARK_GRAFT_UI", "false")

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from bfs_mapreduce_spark.session import get_session

    spark = get_session(
        app_name="bfs_mapreduce_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def smoke_tables(spark, sf_smoke_dir):
    from bfs_mapreduce_spark.sources.readers import load_tables

    return load_tables(spark, sf_smoke_dir)
