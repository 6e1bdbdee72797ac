"""Registry-wide checks on the driver contract that start no Spark job.

Spark's output schema must match the oracle's, so the DuckDB side alone
decides whether a row's output is flat: the driver's canonicalizer hashes
values, and a LIST/ARRAY/MAP/STRUCT cell is unhashable there.
"""

import duckdb
import pytest
from duckdb.typing import DuckDBPyType

from ecokg_spark.contract import _CERT_WINDOW, ORACLES, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NESTED = {"list", "array", "map", "struct", "union"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for tbl in TABLES:
        c.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{SF}/{tbl}.parquet'")
    yield c
    c.close()


def test_every_query_has_one_oracle_in_registry_order():
    assert list(ORACLES) == list(QUERIES)
    assert list(QUERIES)[:len(_CERT_WINDOW)] == _CERT_WINDOW


def test_no_oracle_outputs_a_nested_column(con):
    nested = []
    for name, sql in ORACLES.items():
        for col, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall():
            if DuckDBPyType(typ).id in NESTED:
                nested.append((name, col, typ))
    assert not nested
