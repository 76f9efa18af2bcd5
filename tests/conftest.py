"""Shared fixtures: one SparkSession and one DuckDB connection per run.

The DuckDB connection pre-registers every fixture table as a view of the
same parquet file (``googleanalytics_etl_spark.oracle.register_views``),
replicating the driver's oracle environment.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from googleanalytics_etl_spark import get_spark
from googleanalytics_etl_spark.oracle import register_views

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gae-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_small(duck):
    register_views(duck, SF_SMALL)
    return duck
