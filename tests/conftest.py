from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_cloudsql_airflow_bigquery_spark.catalog import TABLES
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark
from gcp_cloudsql_airflow_bigquery_spark.testing import register_duckdb_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    register_duckdb_views(con, SF_DIR, TABLES)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
