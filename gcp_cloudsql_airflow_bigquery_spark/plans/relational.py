"""The delegated SQL surface (SURVEY.md §2b) as named DataFrame plans.

The reference executes no join/agg/window/sort/set-op itself but exposes
arbitrary SQL through ``export_query`` (reference
``dags/cloudsql_to_bigquery.py:66``) and ``stage_final_query``
(``dags/cloudsql_to_bigquery.py:11,70``); this module provides that
surface natively.  Every plan here:

- is pure DataFrame API (or ``spark.sql`` where the construct is
  SQL-only, e.g. GROUPING SETS) so Catalyst handles pushdown, pruning,
  join selection and whole-stage codegen;
- aliases every computed column to match its oracle SQL string;
- is deterministic: windows/limits order by unique tie-breaker keys.

Cross-engine float parity: per-row money expressions are exact multiples
of 1e-6 (2-decimal prices × 2-decimal rates), so we cast each row to
``decimal(18,6)`` before SUM — the sum is then exact in both Spark and
DuckDB regardless of accumulation order — and cast the result back to
double for a stable output schema.

Scale notes: dimension tables (region/nation/part/supplier/customer at
these ratios) are broadcast; the only shuffles are on aggregate keys.
AQE handles skew and partition coalescing at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

# money expr cast: exact per-row -> exact SUM in any order -> double out
_DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _revenue(li: DataFrame) -> F.Column:
    return F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    ).cast("double")


# ---------------------------------------------------------------------------
# Flagship: the join-merge finalize the reference declares but never runs
# (reference dags/cloudsql_to_bigquery.py:11 — "join the stage table with
# the existing table") materialized as the star-join revenue rollup.
# ---------------------------------------------------------------------------

def flagship_revenue_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # fact joins shuffle on orderkey/custkey; nation+region are tiny -> broadcast
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _revenue(li).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("r_name"), F.col("n_name"))
    )


_FLAGSHIP_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY revenue DESC, r_name, n_name
"""


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan partial-agg on low-cardinality keys."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_base_price"),
            _revenue(li).alias("sum_disc_price"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast(_DEC)
            ).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


_AGG_BASIC_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       ROUND(AVG(o_totalprice), 4) AS avg_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


_AGG_CD_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("n_items") > 50)
    )


_AGG_HAVING_SQL = """
SELECT l_suppkey, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 50
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("sum_bal"),
        )
    )


_AGG_ROLLUP_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"),
    )


_AGG_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_AGG_GSETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# Filters / projection (the export_query incremental-predicate surface,
# reference README.md:8 "use time/id in the sync select")
# ---------------------------------------------------------------------------

def filter_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental predicate + narrow projection; both reach the parquet
    scan (PushedFilters / ReadSchema in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


_FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_discount > 0.05
"""


# ---------------------------------------------------------------------------
# Joins — every type incl. broadcast/semi/anti/cross (SURVEY §2b "joins")
# ---------------------------------------------------------------------------

def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"),
        )
    )


_JOIN_INNER_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


_JOIN_LEFT_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


_JOIN_RIGHT_SQL = """
SELECT c_nationkey, COUNT(o_orderkey) AS n_big_orders
FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .withColumnRenamed("c_nationkey", "nationkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
        .withColumnRenamed("s_nationkey", "nationkey")
    )
    return (
        c.join(s, "nationkey", "full")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


_JOIN_FULL_SQL = """
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
  USING (nationkey)
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_nationkey"
    )


_JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


_JOIN_CROSS_SQL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's ONE deliberate explicit-hint demo: `F.broadcast`
    surface exercised against a dim-scale table.  `part` scales with SF,
    so production plans never hint it (SCALE.md "broadcast policy"; this
    slot is the sole allowlisted exception in
    tests/test_plan_shapes.py::test_no_forced_broadcast_of_sf_scaling_tables)
    — at 100 TB you would drop the hint and let AQE decide, exactly as
    every other registered plan does."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(_revenue(li).alias("revenue"), F.count("*").alias("n_items"))
    )


_JOIN_BROADCAST_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


_SCALAR_SUBQ_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
"""


# ---------------------------------------------------------------------------
# Windows — ranking / analytic / frames (SURVEY §2b "windows")
# ---------------------------------------------------------------------------

def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


_WINDOW_RANK_SQL = """
SELECT * FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         RANK()       OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         ROW_NUMBER() OVER w AS rn
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
) WHERE rn <= 5
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


_WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       FIRST_VALUE(o_totalprice) OVER w AS first_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame.  The running sum is
    accumulated in the same deterministic order in both engines, over a
    decimal cast, so it is exact."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spend"),
        F.count("*").over(w).alias("n_so_far"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_spend,
       COUNT(*) OVER w AS n_so_far
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE(4) — via ``operators.curation.exact_ntile``'s
    two-phase prefix-sum rank, not a bare ``Window.orderBy`` (which
    would serialize every customer onto a single task); results are
    identical to SQL NTILE by construction (differential-tested in
    tests/test_curation.py)."""
    from ..operators.curation import exact_ntile

    c = _t(spark, sf_dir, "customer")
    key = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    return exact_ntile(
        c.select("c_custkey", "c_acctbal"), 4, key, bucket_col="quartile"
    ).select("c_custkey", "quartile")


_WINDOW_NTILE_SQL = """
SELECT c_custkey,
       NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
FROM customer
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


_TOPK_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# Sort / limit, set ops
# ---------------------------------------------------------------------------

def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


_SORT_LIMIT_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _seg(spark: SparkSession, sf_dir: str, seg: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == seg)
        .select("c_custkey", "c_nationkey")
    )


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_nationkey")
    )
    return _seg(spark, sf_dir, "BUILDING").union(big)


_SET_UNION_ALL_SQL = """
SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
"""


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_nationkey")
    )
    return _seg(spark, sf_dir, "BUILDING").union(big).distinct()


_SET_UNION_SQL = """
SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_nationkey")
    )
    return _seg(spark, sf_dir, "BUILDING").intersect(big)


_SET_INTERSECT_SQL = """
SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_nationkey")
    )
    return _seg(spark, sf_dir, "BUILDING").subtract(big)


_SET_EXCEPT_SQL = """
SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
"""


# ---------------------------------------------------------------------------
# Scalar functions — string / date / math / JSON / case / cast
# (SURVEY §2b "scalar fns"; op E's regexp_replace lives in functions.repair)
# ---------------------------------------------------------------------------

def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.length("c_name").alias("name_len"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
    )


_STRING_SQL = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_mktsegment) AS seg_lower,
       SUBSTR(c_name, 1, 8) AS name_prefix,
       CONCAT(c_mktsegment, '-', CAST(c_custkey AS VARCHAR)) AS seg_key,
       REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS name_masked,
       LENGTH(c_name) AS name_len,
       TRIM('  x  ') AS trimmed
FROM customer
"""


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.trunc("o_orderdate", "month").alias("order_month_start"),
        F.to_date("o_orderdate").alias("order_date"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")
        ).alias("days_to_2002"),
        # the v1 {{ ds_nodash }} snapshot-suffix format (reference
        # dags/cloudsql_to_bigquery.py:109,226) as a date_format
        F.date_format("o_orderdate", "yyyyMMdd").alias("ds_nodash"),
    )


_DATE_SQL = """
SELECT o_orderkey,
       YEAR(o_orderdate) AS order_year,
       MONTH(o_orderdate) AS order_month,
       DAY(o_orderdate) AS order_day,
       DATE_TRUNC('month', o_orderdate) AS order_month_start,
       CAST(o_orderdate AS DATE) AS order_date,
       DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       STRFTIME(o_orderdate, '%Y%m%d') AS ds_nodash
FROM orders
"""


def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.round(F.col("l_extendedprice") / 1000, 2).alias("price_k"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_discount" ).alias("disc_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       ABS(l_quantity - 25) AS qty_dev,
       ROUND(l_extendedprice / 1000, 2) AS price_k,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_discount) AS BIGINT) AS disc_ceil,
       SQRT(l_quantity) AS qty_sqrt,
       l_orderkey % 7 AS key_mod7,
       GREATEST(l_discount, l_tax) AS max_rate,
       LEAST(l_discount, l_tax) AS min_rate
FROM lineitem WHERE l_orderkey % 100 = 0
"""


def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over events.props (the NDJSON surface of v2,
    reference dags/copy_cloudsql_to_bigquery_v2.py:109)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("price_bucket")).agg(
        F.count("*").alias("n_orders")
    )


_CASE_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The type-collapse surface of op C (reference
    dags/cloudsql_to_bigquery.py:152-165): INT->LONG widening,
    DECIMAL->DOUBLE, fallback->STRING, DATETIME/DATE passthrough."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        F.floor("o_totalprice").cast("long").alias("price_long"),
        F.col("o_orderdate").cast("date").alias("od_date"),
        F.col("o_orderstatus").alias("status_str"),
    )


_CAST_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(o_custkey AS DOUBLE) AS cust_dbl,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_long,
       CAST(o_orderdate AS DATE) AS od_date,
       o_orderstatus AS status_str
FROM orders WHERE o_orderkey % 50 = 0
"""


# ---------------------------------------------------------------------------
# Dedup (full-refresh last-write-wins semantics of ops F/H)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_returnflag", "l_linestatus").distinct()


_DEDUP_EXACT_SQL = """
SELECT DISTINCT l_orderkey, l_returnflag, l_linestatus FROM lineitem
"""


def dedup_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based dedup keeping a deterministic 'latest' row — the upsert
    semantics op I implies (reference dags/cloudsql_to_bigquery.py:11)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").desc(),
        F.col("l_partkey").desc(),
        F.col("l_quantity").desc(),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    )


_DEDUP_LWW_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber DESC, l_partkey DESC,
                                     l_quantity DESC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

register(flagship_revenue_by_region_nation, _FLAGSHIP_SQL)
register(pricing_summary, _PRICING_SQL)
register(agg_basic, _AGG_BASIC_SQL)
register(agg_count_distinct, _AGG_CD_SQL)
register(agg_having, _AGG_HAVING_SQL)
register(agg_rollup, _AGG_ROLLUP_SQL)
register(agg_cube, _AGG_CUBE_SQL)
register(agg_grouping_sets, _AGG_GSETS_SQL)
register(filter_incremental, _FILTER_SQL)
register(join_inner, _JOIN_INNER_SQL)
register(join_left, _JOIN_LEFT_SQL)
register(join_right, _JOIN_RIGHT_SQL)
register(join_full, _JOIN_FULL_SQL)
register(join_semi, _JOIN_SEMI_SQL)
register(join_anti, _JOIN_ANTI_SQL)
register(join_cross, _JOIN_CROSS_SQL)
register(join_broadcast, _JOIN_BROADCAST_SQL)
register(scalar_subquery, _SCALAR_SUBQ_SQL)
register(window_rank, _WINDOW_RANK_SQL)
register(window_lag_lead, _WINDOW_LAG_SQL)
register(window_running, _WINDOW_RUNNING_SQL)
register(window_ntile, _WINDOW_NTILE_SQL)
register(topk_per_group, _TOPK_SQL)
register(sort_limit, _SORT_LIMIT_SQL)
register(set_union_all, _SET_UNION_ALL_SQL)
register(set_union_distinct, _SET_UNION_SQL)
register(set_intersect, _SET_INTERSECT_SQL)
register(set_except, _SET_EXCEPT_SQL)
register(string_funcs, _STRING_SQL)
register(date_funcs, _DATE_SQL)
register(math_funcs, _MATH_SQL)
register(json_funcs, _JSON_SQL)
register(case_expr, _CASE_SQL)
register(cast_types, _CAST_SQL)
register(dedup_exact, _DEDUP_EXACT_SQL)
register(dedup_last_write_wins, _DEDUP_LWW_SQL)


def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST (new r10) — the two relative-position
    window functions missing from the ranking family (window_rank
    covers rank/dense_rank/row_number, window_ntile the bucketing):
    account-balance percentile position within each nation.  Both are
    exact rational doubles ((rank-1)/(n-1), peers/n) computed from the
    same integers in both engines, rounded to 6 like every double
    output."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_WINDOW_PCT_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST()    OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
"""

register(window_percent_rank_cume, _WINDOW_PCT_SQL)
