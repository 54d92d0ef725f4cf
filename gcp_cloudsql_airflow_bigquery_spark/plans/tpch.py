"""TPC-H query shapes adapted to the fixture star schema (columns the
fixture lacks — ps_supplycost, l_shipmode, comments — are substituted
with equivalents; the JOIN/AGG/PREDICATE structure is preserved).
Shapes Q1/2/4/7/13/15/18/21 live in :mod:`.relational` /
:mod:`.advanced`; this module adds Q3, Q5, Q6, Q10, Q14, Q19.

Conventions as elsewhere: decimal-cast money sums cast back to double,
unique tie-breakers on every ORDER BY ... LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

_DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _rev(df: DataFrame) -> F.Column:
    return (
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
        .cast("double")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev(li).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue where the supplier and customer share a nation, per Asian
    nation and a one-year window."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_rev(li).alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_rev(li).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share in one ship-month (fixture ``p_type`` is a
    plain category, so equality stands in for TPC-H's LIKE 'PROMO%')."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC))).cast("double")
                * 100.0
                / F.sum(rev).cast("double")
            ),
            6,
        ).alias("promo_pct")
    )


_Q14_SQL = """
SELECT ROUND(
         CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) * 100.0
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
         6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs band predicate (brand × size × quantity), the classic
    pushdown-vs-join-filter stress shape."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


register(q3_shipping_priority, _Q3_SQL)
register(q5_local_supplier_volume, _Q5_SQL)
register(q6_forecast_revenue, _Q6_SQL)
register(q10_returned_items, _Q10_SQL)
register(q14_promo_revenue, _Q14_SQL)
register(q19_discounted_revenue, _Q19_SQL)

