from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (REPO_ROOT, os.path.join(REPO_ROOT, "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from crypto_prediction_etl_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_DIR_SMOKE)


@pytest.fixture(scope="session")
def duck(sf_dir):
    """One DuckDB connection with the testdata views, shared by the suite."""
    from .oracle import duckdb_conn

    con = duckdb_conn(sf_dir)
    yield con
    con.close()
