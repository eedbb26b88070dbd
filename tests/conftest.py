import contextlib
import os

import pytest

TEST_SF_DIR = os.environ.get("SJSPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mannheimsearchjoinsengine_spark.session import get_spark

    s = get_spark(app_name="sjspark-tests", cores=int(os.environ.get("SJSPARK_TEST_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_conf(spark):
    """``with spark_conf({key: value, ...}):`` sets session confs for the
    block and restores the previous values after it."""

    @contextlib.contextmanager
    def _set(confs: dict):
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return _set


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
