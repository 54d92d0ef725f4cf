from __future__ import annotations

import os
import sys
from contextlib import contextmanager

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


@pytest.fixture()
def crash_mid_swap():
    """A context manager that stops every table commit after the swap's
    first rename, as a killed driver would: the live table is moved
    aside to its ``__old`` sibling, the new version is not moved in."""
    from gcp_cloudsql_airflow_bigquery_spark import pipeline

    def swap(spark, target_path, vdir, version):
        p, fs = pipeline._hadoop_path(spark, target_path)
        if fs.exists(p):
            old, _ = pipeline._hadoop_path(spark, f"{target_path}__old{version}")
            fs.rename(p, old)
        raise RuntimeError("injected crash between renames")

    @contextmanager
    def crashing():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(pipeline, "_swap_into_place", swap)
            yield

    return crashing
