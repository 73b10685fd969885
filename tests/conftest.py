from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from angelone_clickhouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_rows():
    """``rows(sf_dir, sql)``: the row set of a DuckDB oracle over the
    fixture tables of ``sf_dir``."""
    import duckdb

    from angelone_clickhouse_spark import TABLES

    def rows(sf_dir: str, sql: str) -> set[tuple]:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        return set(con.sql(sql).fetchall())

    return rows
