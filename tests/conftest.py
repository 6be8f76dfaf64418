from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from a_share_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="module")
def duck(sf_smoke):
    """One DuckDB connection with a view over each table at the smoke
    scale factor, as the oracles read them."""
    import duckdb

    import sweep

    con = duckdb.connect()
    for t in sweep.TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_smoke}/{t}.parquet')")
    yield con
    con.close()
