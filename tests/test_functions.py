"""Unit tests for the ETL transforms (ops C/D/E) per SURVEY.md §5."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql.types import DecimalType, DoubleType, LongType

from gcp_cloudsql_airflow_bigquery_spark.functions import (
    bq_type_for,
    map_types,
    repair_broken_nulls,
    repair_csv_columns,
    sanitize_column_name,
    sanitize_columns,
    spark_type_for,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# --- op C: type mapper (reference dags/cloudsql_to_bigquery.py:152-165) ---

@pytest.mark.parametrize(
    ("src", "bq"),
    [
        ("datetime", "DATETIME"),
        ("DATETIME(6)", "DATETIME"),
        ("timestamp", "DATETIME"),
        ("date", "DATE"),
        ("tinyint", "INTEGER"),
        ("smallint", "INTEGER"),
        ("int", "INTEGER"),
        ("bigint", "INTEGER"),
        ("float", "FLOAT"),
        ("double", "FLOAT"),
        ("decimal(10,2)", "FLOAT"),  # the lossy branch (:163-164)
        ("varchar(255)", "STRING"),  # fallback (:165)
        ("text", "STRING"),
        ("blob", "STRING"),
    ],
)
def test_bq_type_collapse(src, bq):
    assert bq_type_for(src) == bq


def test_spark_type_modes():
    assert isinstance(spark_type_for("decimal(10,2)", "legacy"), DoubleType)
    t = spark_type_for("decimal(10,2)", "fidelity")
    assert t == DecimalType(10, 2)
    assert isinstance(spark_type_for("bigint", "fidelity"), LongType)


def test_map_types_casts(spark):
    df = spark.createDataFrame(
        [Row(a="1", b="2.5", c="x")],
    )
    out = map_types(df, {"a": "int", "b": "decimal(4,1)"}, mode="legacy")
    assert dict(out.dtypes) == {"a": "bigint", "b": "double", "c": "string"}
    row = out.collect()[0]
    assert row.a == 1 and row.b == 2.5 and row.c == "x"
    fid = map_types(df, {"b": "decimal(4,1)"}, mode="fidelity")
    assert dict(fid.dtypes)["b"] == "decimal(4,1)"


# --- op D: name sanitization (reference :187) ---

def test_sanitize_names():
    assert sanitize_column_name("my col") == "my_col"
    assert sanitize_column_name("a/b") == "a_and_b"
    assert sanitize_column_name('we"ird') == "weird"
    assert sanitize_column_name('has spa/ce"s') == "has_spa_and_ces"


def test_sanitize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["my col", "a/b"])
    assert sanitize_columns(df).columns == ["my_col", "a_and_b"]


# --- op E: CSV repair (reference :258-261) ---

def test_repair_broken_nulls_sed_parity(spark):
    # lineSep pinned to \n so the defective \r stays inside the value
    lines = spark.read.option("lineSep", "\n").text(f"{FIXTURES}/broken_nulls.csv")
    fixed = [r.value for r in repair_broken_nulls(lines).collect()]
    assert fixed == [
        '1,"","",4',  # adjacent markers: both rewritten (double pass)
        '"",2,3,4',  # row-start variant
        '1,2,3,""',  # row-end variant
        "5,6,7,\"abc\\r",  # trailing \r" → \\r (quote dropped, as sed does)
        '8,"",9,10',  # mid-row variant
    ]


def test_repair_csv_columns(spark):
    df = spark.createDataFrame(
        [Row(a='"N', b="ok"), Row(a="N", b="line\r"), Row(a="x", b=None)]
    )
    out = repair_csv_columns(df).collect()
    assert out[0].a is None and out[0].b == "ok"
    assert out[1].a is None and out[1].b == "line\\r"
    assert out[2].a == "x" and out[2].b is None


class TestSchemaEvolution:
    def test_widen_type_lattice(self):
        from pyspark.sql import types as T

        from gcp_cloudsql_airflow_bigquery_spark.functions.evolve import widen_type

        assert widen_type(T.IntegerType(), T.LongType()) == T.LongType()
        assert widen_type(T.LongType(), T.IntegerType()) == T.LongType()
        assert widen_type(T.FloatType(), T.DoubleType()) == T.DoubleType()
        assert widen_type(T.IntegerType(), T.FloatType()) == T.DoubleType()
        assert widen_type(T.DateType(), T.TimestampType()) == T.TimestampType()
        # int digits max(8, 8) = 8, scale max(2, 4) = 4 -> (12, 4)
        assert (
            widen_type(T.DecimalType(10, 2), T.DecimalType(12, 4))
            == T.DecimalType(12, 4)
        )
        assert widen_type(T.DecimalType(10, 2), T.LongType()) == T.DecimalType(22, 2)
        # irreconcilable -> the reference's STRING fallback
        assert widen_type(T.BooleanType(), T.LongType()) == T.StringType()
        assert (
            widen_type(
                T.ArrayType(T.IntegerType()), T.ArrayType(T.LongType())
            )
            == T.ArrayType(T.LongType(), True)
        )

    def test_union_evolved_over_drifted_snapshots(self, spark):
        import datetime as dt

        from gcp_cloudsql_airflow_bigquery_spark.functions.evolve import (
            union_evolved,
        )

        day1 = spark.createDataFrame(
            [(1, 10, dt.date(2024, 1, 1))], "id int, v int, d date"
        )
        # v widened to bigint, d became timestamp, new column extra
        day2 = spark.createDataFrame(
            [(2, 20_000_000_000, dt.datetime(2024, 1, 2, 3), "x")],
            "id int, v bigint, d timestamp, extra string",
        )
        out = union_evolved([day1, day2])
        assert [f.name for f in out.schema.fields] == ["id", "v", "d", "extra"]
        types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert types == {
            "id": "int",
            "v": "bigint",
            "d": "timestamp",
            "extra": "string",
        }
        rows = {r.id: r for r in out.collect()}
        assert rows[1].extra is None and rows[1].v == 10
        assert rows[1].d == dt.datetime(2024, 1, 1, 0, 0)
        assert rows[2].v == 20_000_000_000 and rows[2].extra == "x"

    def test_union_evolved_conflicting_types_fall_back_to_string(self, spark):
        from gcp_cloudsql_airflow_bigquery_spark.functions.evolve import (
            union_evolved,
        )

        a = spark.createDataFrame([(1, True)], "id int, flag boolean")
        b = spark.createDataFrame([(2, 7)], "id int, flag bigint")
        out = union_evolved([a, b])
        assert dict(out.dtypes)["flag"] == "string"
        vals = {r.id: r.flag for r in out.collect()}
        assert vals == {1: "true", 2: "7"}
