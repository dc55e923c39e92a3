import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from gomysql2pg_spark.session import get_spark

    # SPARK_GRAFT_CPUS sizes local[N] to the host; the 8 shuffle
    # partitions stay fixed so plans do not depend on it
    spark = get_spark(
        app_name="gomysql2pg-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS") or 8,
        shuffle_partitions=8,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from gomysql2pg_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
