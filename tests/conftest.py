from __future__ import annotations

import duckdb
import pytest

from splade_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="splade-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return duck_con(SF_SMOKE)


def query_rows(queries) -> list[tuple[int, str]]:
    """(qid, text) rows of a query relation: the driver-resident batch
    the search entry points take."""
    return [(int(r.qid), r.text) for r in queries.collect()]
