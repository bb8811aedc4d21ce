"""Shared fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    from tools.verify_local import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()
