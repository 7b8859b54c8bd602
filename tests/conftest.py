import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from promi_spark.session import get_spark

    s = get_spark("promi_spark_tests")
    yield s


@pytest.fixture
def pinned_rdds(spark):
    """A function returning the ids of the RDDs pinned in the block
    manager right now: persisted relations and checkpoints alike."""

    def ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    return ids


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def event_log(spark, sf_dir):
    from promi_spark.io import load_event_log

    return load_event_log(spark, sf_dir).cache()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con
