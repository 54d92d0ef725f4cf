"""Extended SQL-surface plans (SURVEY.md §2b, beyond the core rows):
statistical aggregates, percentiles, pivot/unpivot, correlated
subqueries in SQL form, array aggregation, null/conditional scalar
functions, RANGE window frames, and TPC-H-style multi-join shapes.

Same conventions as :mod:`.relational`: decimal-cast sums, ROUND(...,4)
for interpolated stats, unique tie-breaker orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_tables
from ..operators import curation as curation_ops
from . import register

_DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("o_totalprice"), 4).alias("price_var"),
        F.round(F.stddev_pop("o_totalprice"), 4).alias("price_stddev_pop"),
        F.round(F.median("o_totalprice"), 4).alias("price_median"),
    )


_AGG_STATS_SQL = """
SELECT o_orderstatus,
       ROUND(STDDEV_SAMP(o_totalprice), 4) AS price_stddev,
       ROUND(VAR_SAMP(o_totalprice), 4) AS price_var,
       ROUND(STDDEV_POP(o_totalprice), 4) AS price_stddev_pop,
       ROUND(MEDIAN(o_totalprice), 4) AS price_median
FROM orders GROUP BY o_orderstatus
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("p75"),
    )


_AGG_PCT_SQL = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75
FROM lineitem GROUP BY l_returnflag
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
FROM orders GROUP BY o_orderpriority
"""


def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")


_UNPIVOT_SQL = """
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
"""


def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the spark.sql surface (the
    stage_final_query hook executes exactly this way)."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          AND c_acctbal > 8000
        """
    )


_SQL_EXISTS_SQL = """
SELECT c_custkey, c_acctbal FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  AND c_acctbal > 8000
"""


def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        """
    )


_SQL_IN_SQL = """
SELECT p_partkey, p_name FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
"""


def split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


_SPLIT_SQL = """
SELECT word, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
"""


def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Emit the sorted key list as a comma-joined string: array-valued
    # columns are not hashable by the driver's pandas canonicalizer, and
    # a flat string is the portable cross-engine representation anyway.
    s = _t(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("s_suppkey")).cast("array<string>"),
            ",",
        ).alias("supp_keys"),
        F.count("*").alias("n_suppliers"),
    )


_ARRAY_AGG_SQL = """
SELECT s_nationkey,
       ARRAY_TO_STRING(LIST_SORT(LIST(s_suppkey)), ',') AS supp_keys,
       COUNT(*) AS n_suppliers
FROM supplier GROUP BY s_nationkey
"""


def null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return c.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("-")
        ).alias("seg_coalesced"),
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal_nonneg"),
        F.isnull(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))).alias(
            "is_building"
        ),
    )


_NULL_SQL = """
SELECT c_custkey,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '-') AS seg_coalesced,
       CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg,
       NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building
FROM customer WHERE c_custkey % 10 = 0
"""


def between_like_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 20)
        & F.col("p_name").like("%widget%")
        & F.col("p_type").isin("PROMO", "ECONOMY")
    ).select("p_partkey", "p_name", "p_type", "p_size")


_BETWEEN_SQL = """
SELECT p_partkey, p_name, p_type, p_size FROM part
WHERE p_size BETWEEN 10 AND 20
  AND p_name LIKE '%widget%'
  AND p_type IN ('PROMO', 'ECONOMY')
"""


def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0)
        ).alias("returned_qty"),
        F.round(
            F.avg(F.when(F.col("l_tax") > 0, F.col("l_extendedprice"))), 4
        ).alias("avg_taxed_price"),
    )


_COND_AGG_SQL = """
SELECT l_linestatus,
       COUNT(*) FILTER (l_discount > 0.05) AS n_discounted,
       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS returned_qty,
       ROUND(AVG(l_extendedprice) FILTER (l_tax > 0), 4) AS avg_taxed_price
FROM lineitem GROUP BY l_linestatus
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering: count of same-customer
    orders within ±10000 of each order's price (value-based frame, so
    tie order is irrelevant — deterministic by construction)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-10000, 10000)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).alias("n_near_price"),
    )


_RANGE_FRAME_SQL = """
SELECT o_orderkey, o_custkey,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)
         AS n_near_price
FROM orders
"""


def late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per priority, orders with >=1 lineitem shipped
    more than 60 days after the order date (semi-join, interval math)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        o, li.l_orderkey == o.o_orderkey
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_late_orders"))
    )


_LATE_SHIP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue by (supplier nation, customer nation,
    year) — two independent dim chains off the same fact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
            .cast("double")
            .alias("volume")
        )
    )


_TRADE_VOLUME_SQL = """
SELECT supp_nation, cust_nation, ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS ship_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name < n2.n_name
)
GROUP BY supp_nation, cust_nation, ship_year
"""


register(agg_stats, _AGG_STATS_SQL)
register(agg_percentiles, _AGG_PCT_SQL)
register(pivot_status, _PIVOT_SQL)
register(unpivot_part, _UNPIVOT_SQL)
register(sql_exists_subquery, _SQL_EXISTS_SQL)
register(sql_in_subquery, _SQL_IN_SQL)
register(split_explode, _SPLIT_SQL)
register(array_agg_sorted, _ARRAY_AGG_SQL)
register(null_funcs, _NULL_SQL)
register(between_like_in, _BETWEEN_SQL)
register(conditional_agg, _COND_AGG_SQL)
register(window_range_frame, _RANGE_FRAME_SQL)
register(late_shipment_orders, _LATE_SHIP_SQL)
register(nation_trade_volume, _TRADE_VOLUME_SQL)


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics: percent_rank / cume_dist / nth_value over
    a unique (price, key) ordering so peer groups are single rows on
    both engines."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_lowest"),
    )


_WINDOW_ANALYTICS_SQL = """
SELECT o_orderkey, o_orderpriority,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_lowest
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, "*").alias("brand_rpad"),
        F.repeat(F.col("p_type"), 2).alias("type_twice"),
        F.reverse("p_name").alias("name_rev"),
        F.translate("p_type", "AEO", "aeo").alias("type_tr"),
        F.split_part("p_name", F.lit(" "), F.lit(2)).alias("name_word2"),
        F.instr("p_name", "e").alias("first_e"),
    )


_STRING2_SQL = """
SELECT p_partkey,
       LPAD(p_brand, 12, '*') AS brand_lpad,
       RPAD(p_brand, 12, '*') AS brand_rpad,
       REPEAT(p_type, 2) AS type_twice,
       REVERSE(p_name) AS name_rev,
       TRANSLATE(p_type, 'AEO', 'aeo') AS type_tr,
       SPLIT_PART(p_name, ' ', 2) AS name_word2,
       STRPOS(p_name, 'e') AS first_e
FROM part WHERE p_partkey % 7 = 0
"""


def math_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.pow("l_quantity", 2), 6).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.signum(F.col("l_quantity") - 25).cast("int").alias("qty_sign"),
    )


_MATH2_SQL = """
SELECT l_orderkey, l_linenumber,
       ROUND(POWER(l_quantity, 2), 6) AS qty_sq,
       ROUND(LN(l_extendedprice), 6) AS price_ln,
       ROUND(LOG10(l_extendedprice), 6) AS price_log10,
       ROUND(EXP(l_discount), 6) AS disc_exp,
       CAST(SIGN(l_quantity - 25) AS INTEGER) AS qty_sign
FROM lineitem WHERE l_orderkey % 13 = 0
"""


def date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic beyond the core suite. DuckDB quirks handled in
    the oracle: no ``add_months`` (→ ``+ INTERVAL``), 0-based
    ``dayofweek`` (→ ``+ 1``)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus3m"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
        F.date_add(d, 7).alias("plus7d"),
    )


_DATE2_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
       LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
       QUARTER(o_orderdate) AS qtr,
       DAYOFWEEK(o_orderdate) + 1 AS dow,
       WEEKOFYEAR(o_orderdate) AS iso_week,
       CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS plus7d
FROM orders WHERE o_orderkey % 11 = 0
"""


def custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    outer-joined so zero-order customers appear (the join predicate
    carries an extra filter, exercising non-key join conditions)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_CUSTDIST_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with customer context, top-20 by price. The HAVING runs map-side
    partial aggregation on the fact before any join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 190)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


_LARGE_VOLUME_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 190) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier order. The classic formulation is a correlated
    EXISTS / NOT EXISTS pair; here it is one window pass over the fact
    keyed by order (single shuffle), oracle-checked against the
    correlated-subquery SQL."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    flagged = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .cast("int")
        .alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    per_item = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
        F.size(
            F.collect_set(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).over(w)
        ).alias("n_late_supps"),
    )
    return (
        per_item.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1)
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


_LONE_LATE_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


register(window_analytics, _WINDOW_ANALYTICS_SQL)
register(string_funcs2, _STRING2_SQL)
register(math_funcs2, _MATH2_SQL)
register(date_funcs2, _DATE2_SQL)
register(custdist, _CUSTDIST_SQL)
register(large_volume_orders, _LARGE_VOLUME_SQL)
register(lone_late_supplier, _LONE_LATE_SQL)


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions. Oracle quirks:
    DuckDB ``range(a, b)`` is end-exclusive (Spark ``sequence`` is
    inclusive), ``list_distinct`` is unordered (sorted on both sides),
    ``list_slice`` takes an inclusive end (Spark ``slice`` takes a
    length), and Spark ANSI mode needs ``try_element_at`` to match
    DuckDB's NULL on out-of-bounds."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 9 == 0)
    seq = F.sequence(F.lit(1), F.col("p_size") % 5 + 1)

    def s(arr: F.Column) -> F.Column:
        # array columns are not hashable by the driver's pandas
        # canonicalizer — emit the comma-joined string form
        return F.array_join(arr.cast("array<string>"), ",")

    return p.select(
        "p_partkey",
        s(seq).alias("seq"),
        F.array_contains(seq, 3).alias("has3"),
        F.try_element_at(seq, F.lit(4)).alias("fourth"),
        s(F.slice(seq, 1, 2)).alias("first2"),
        F.size(seq).alias("n"),
        s(F.filter(seq, lambda x: x % 2 == 0)).alias("evens"),
        s(F.transform(seq, lambda x: x * 10)).alias("tens"),
        F.aggregate(seq, F.lit(0), lambda a, x: a + x).alias("total"),
        s(
            F.sort_array(
                F.array_distinct(F.concat(seq, F.array(F.lit(1), F.lit(2))))
            )
        ).alias("dedup_sorted"),
    )


_ARRAY_FUNCS_SQL = """
SELECT p_partkey,
       array_to_string(range(1, p_size % 5 + 2), ',') AS seq,
       list_contains(range(1, p_size % 5 + 2), 3) AS has3,
       range(1, p_size % 5 + 2)[4] AS fourth,
       array_to_string(list_slice(range(1, p_size % 5 + 2), 1, 2), ',') AS first2,
       len(range(1, p_size % 5 + 2)) AS n,
       COALESCE(array_to_string(list_filter(range(1, p_size % 5 + 2), x -> x % 2 = 0), ','), '') AS evens,
       array_to_string(list_transform(range(1, p_size % 5 + 2), x -> x * 10), ',') AS tens,
       list_reduce(range(1, p_size % 5 + 2), (a, x) -> a + x) AS total,
       array_to_string(list_sort(list_distinct(range(1, p_size % 5 + 2) || [1, 2])), ',') AS dedup_sorted
FROM part WHERE p_partkey % 9 = 0
"""


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based sampling — the scalable substitute for
    TABLESAMPLE when the sample must be reproducible across engines and
    runs: md5 of the key is portable, the predicate pushes down, and no
    shuffle or seed state is involved."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1)
    return li.filter(bucket.isin("0", "1")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


_SAMPLE_HASH_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
"""


def agg_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HLL distinct, quantile sketch) — the 100 TB
    path where exact distinct/percentile shuffles are unaffordable.
    Rows-only check (sketch estimates are engine-specific); accuracy is
    asserted against exact values in tests/test_oracle.py."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
    )


register(array_funcs, _ARRAY_FUNCS_SQL)
register(sample_hash, _SAMPLE_HASH_SQL)
register(agg_approx_sketch)  # rows-only: sketches are engine-specific estimates


def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING flags — how a consumer tells subtotal rows
    from genuine NULL-keyed groups."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
    )


_GROUPING_ID_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

register(agg_grouping_id, _GROUPING_ID_SQL)


def supplier_best_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: rows matching a correlated per-group maximum.
    Spark-first this is a window max + filter (one shuffle), not a
    re-scan correlated subquery."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    return (
        s.withColumn("max_bal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("max_bal"))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


_BEST_BALANCE_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier s1
WHERE s_acctbal = (SELECT MAX(s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = s1.s_nationkey)
"""


def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue-per-supplier view joined back for the
    top suppliers (decimal-cast sums for exact parity)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
        .cast("double")
        .alias("total_revenue")
    )
    return (
        rev.join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy(F.col("total_revenue").desc(), "s_suppkey")
        .limit(5)
    )


_TOP_REVENUE_SQL = """
SELECT s_suppkey, s_name, total_revenue
FROM (SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem GROUP BY l_suppkey) rev
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY total_revenue DESC, s_suppkey LIMIT 5
"""


def posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (token position matters in text pipelines).
    DuckDB's 1-based generate_subscripts ↔ Spark's 0-based posexplode."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 17 == 0)
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    ).withColumn("pos", F.col("pos") + 1)


_POSEXPLODE_SQL = """
SELECT p_partkey,
       generate_subscripts(string_split(p_name, ' '), 1) AS pos,
       unnest(string_split(p_name, ' ')) AS word
FROM part WHERE p_partkey % 17 = 0
"""

register(supplier_best_balance, _BEST_BALANCE_SQL)
register(top_revenue_suppliers, _TOP_REVENUE_SQL)
register(posexplode_words, _POSEXPLODE_SQL)


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 over the customer dim: a derived incoming batch
    (every 5th customer; every 10th actually changed) applied to an
    open-version history — changed keys close and re-open, unchanged
    pass through untouched (`pipeline.scd2_apply`)."""
    from ..pipeline import scd2_apply

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    existing = c.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    incoming = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        F.lit("2024-06-01").cast("date").alias("effective_date"),
    )
    return scd2_apply(existing, incoming, ["c_custkey"])


_SCD2_SQL = """
WITH existing AS (
  SELECT c_custkey, c_name, c_acctbal,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer
),
incoming AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
         DATE '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 5 = 0
),
changed AS (
  SELECT i.* FROM incoming i JOIN existing e USING (c_custkey)
  WHERE i.c_acctbal IS DISTINCT FROM e.c_acctbal
     OR i.c_name IS DISTINCT FROM e.c_name
)
SELECT e.c_custkey, e.c_name, e.c_acctbal, e.valid_from, c.eff AS valid_to
FROM existing e JOIN changed c USING (c_custkey)
UNION ALL
SELECT e.* FROM existing e
WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, eff, NULL FROM changed
"""

register(scd2_customer_history, _SCD2_SQL)


def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar suite. DuckDB parity: ``regexp_replace`` needs the
    'g' flag to replace all (Spark always does)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 13 == 0)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.col("p_name").rlike(r"^[a-z]+ ").alias("starts_word"),
        F.array_join(
            F.regexp_extract_all("p_name", F.lit(r"[aeiou]+"), 0), ","
        ).alias("vowel_runs"),
        F.regexp_replace("p_type", r"[AEIOU]", "_").alias("type_masked"),
    )


_REGEXP_SQL = r"""
SELECT p_partkey,
       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
       regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
       array_to_string(regexp_extract_all(p_name, '[aeiou]+'), ',') AS vowel_runs,
       regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_masked
FROM part WHERE p_partkey % 13 = 0
"""


def explode_outer_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive as NULL — the
    LEFT-JOIN-shaped unnest."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 23 == 0)
    zwords = F.filter(F.split("p_name", " "), lambda w: w.startswith("s"))
    return p.select(
        "p_partkey", F.explode_outer(zwords).alias("s_word")
    )


_EXPLODE_OUTER_SQL = """
SELECT p_partkey,
       unnest(CASE WHEN len(l) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE l END) AS s_word
FROM (SELECT p_partkey,
             list_filter(string_split(p_name, ' '), w -> w LIKE 's%') AS l
      FROM part WHERE p_partkey % 23 = 0)
"""


def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: carry the last known (non-null) balance forward per
    nation in customer-key order — `last(ignorenulls)` over a running
    frame, the time-series imputation primitive."""
    c = _t(spark, sf_dir, "customer")
    sparse = F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal"))
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        sparse.alias("sparse_bal"),
        F.last(sparse, ignorenulls=True).over(w).alias("filled_bal"),
    )


_FFILL_SQL = """
SELECT c_custkey, c_nationkey,
       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END AS sparse_bal,
       last_value(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END IGNORE NULLS)
         OVER (PARTITION BY c_nationkey ORDER BY c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_bal
FROM customer
"""

register(regexp_funcs, _REGEXP_SQL)
register(explode_outer_words, _EXPLODE_OUTER_SQL)
register(forward_fill, _FFILL_SQL)


def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: Pearson correlation + sample covariance of
    price vs quantity per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
    )


_AGG_CORR_SQL = """
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS qty_price_covar
FROM lineitem GROUP BY l_returnflag
"""


def events_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral rollup: events enriched through customer→nation dims
    (broadcast), aggregated per (nation, event_type) — the events-side
    realization of the reference's Fact⋈Dim model."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ev.join(c, "user_id")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 6).alias(
                "total_value"
            ),
        )
    )


_EVENTS_ROLLUP_SQL = """
SELECT n_name, event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, event_type
"""

register(agg_corr, _AGG_CORR_SQL)
register(events_user_rollup, _EVENTS_ROLLUP_SQL)


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL over projections of the fact table (the
    fixture's planted duplicate rows make ALL vs DISTINCT observable)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return a.exceptAll(b)


_SET_EXCEPT_ALL_SQL = """
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25
EXCEPT ALL
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
"""


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_discount") >= 0.02).select("l_orderkey", "l_partkey")
    return a.intersectAll(b)


_SET_INTERSECT_ALL_SQL = """
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25
INTERSECT ALL
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_discount >= 0.02
"""

register(set_except_all, _SET_EXCEPT_ALL_SQL)
register(set_intersect_all, _SET_INTERSECT_ALL_SQL)


def order_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer robust outliers (>= 2 MADs from the customer's
    median order price) via the grouped-map ``applyInPandas`` surface
    (`operators/stats.mad_outliers`) — oracle-checked against DuckDB's
    native median/mad."""
    from ..operators.stats import mad_outliers

    o = _t(spark, sf_dir, "orders")
    return mad_outliers(o, "o_custkey", "o_totalprice", "o_orderkey")


_MAD_OUTLIERS_SQL = """
WITH stats AS (
  SELECT o_custkey, median(o_totalprice) AS med, mad(o_totalprice) AS md
  FROM orders GROUP BY 1
)
SELECT o_custkey, o_orderkey, o_totalprice,
       ROUND(ABS(o_totalprice - med) / md, 6) AS mad_score
FROM orders JOIN stats USING (o_custkey)
WHERE md > 0 AND ROUND(ABS(o_totalprice - med) / md, 6) >= 2.0
"""

register(order_price_outliers, _MAD_OUTLIERS_SQL)


def price_histogram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning (floor arithmetic — the portable width_bucket)
    plus bitwise aggregates per bin."""
    li = _t(spark, sf_dir, "lineitem")
    binned = li.select(
        F.floor(F.col("l_extendedprice") / 10000).cast("bigint").alias("price_bin"),
        F.col("l_linenumber").cast("bigint").alias("ln"),
    )
    return binned.groupBy("price_bin").agg(
        F.count("*").alias("n"),
        F.bit_and("ln").alias("ln_and"),
        F.bit_or("ln").alias("ln_or"),
        F.bit_xor("ln").alias("ln_xor"),
    )


_HISTOGRAM_BITS_SQL = """
SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS price_bin,
       COUNT(*) AS n,
       BIT_AND(CAST(l_linenumber AS BIGINT)) AS ln_and,
       BIT_OR(CAST(l_linenumber AS BIGINT)) AS ln_or,
       BIT_XOR(CAST(l_linenumber AS BIGINT)) AS ln_xor
FROM lineitem GROUP BY 1
"""

register(price_histogram_bits, _HISTOGRAM_BITS_SQL)


def geomean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: grouped-agg pandas UDF (Arrow-batched
    geometric mean) — the aggregation class Spark's built-ins lack."""
    from ..operators.stats import geomean_udaf

    geomean = geomean_udaf()
    li = _t(spark, sf_dir, "lineitem")
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg
    return li.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 4).alias("price_geomean")
    )


_GEOMEAN_SQL = """
SELECT l_returnflag,
       ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS price_geomean
FROM lineitem GROUP BY l_returnflag
"""


def sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: sentence-split documents
    through a lateral join — the UDTF class of SURVEY §2b's UDF row."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            import re

            if text is None:
                return
            parts = [p for p in re.split(r"[.!?]+\s+", text) if p != ""]
            for i, p in enumerate(parts):
                yield i + 1, p

    spark.udtf.register("split_sentences", SplitSentences)
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT doc_id, s.sent_idx, s.sentence
        FROM _udtf_docs, LATERAL split_sentences(text) s
        """
    )


_SENTENCES_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[.!?]+\s+'), p -> p <> '') AS ps
  FROM documents WHERE doc_id % 50 = 0
)
SELECT doc_id,
       generate_subscripts(ps, 1) AS sent_idx,
       unnest(ps) AS sentence
FROM parts
"""

register(geomean_prices, _GEOMEAN_SQL)
register(sentences_udtf, _SENTENCES_SQL)


def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two deterministic derived snapshots of orders:
    yesterday = keys with o_orderkey % 7 != 0; today = keys with
    o_orderkey % 5 != 0 and a 10% price bump on keys % 3 == 0.  Exercises
    insert (% 7 == 0 keys appearing), delete (% 5 == 0 keys vanishing)
    and update (price-bumped keys) through ``pipeline.snapshot_diff``'s
    single full-outer join."""
    from ..pipeline import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


_SNAPSHOT_CDC_SQL = """
WITH old AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 5 <> 0
), j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
                OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                THEN 'update' END AS change_type,
         COALESCE(n.o_custkey, o.o_custkey) AS o_custkey,
         COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
         COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
         COALESCE(n.o_orderdate, o.o_orderdate) AS o_orderdate,
         COALESCE(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority
  FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM j WHERE change_type IS NOT NULL
"""

register(snapshot_cdc_diff, _SNAPSHOT_CDC_SQL)


def customer_name_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join: customer-name pairs within
    edit distance 1, via deletion-neighborhood blocking
    (``operators/fuzzy.fuzzy_name_pairs`` — equi-join on hashed
    1-deletion variants + exact levenshtein refine; the oracle is the
    naive O(n²) levenshtein join, so blocking recall is hash-checked,
    not assumed)."""
    from ..operators.fuzzy import fuzzy_name_pairs

    c = _t(spark, sf_dir, "customer")
    return fuzzy_name_pairs(c, "c_custkey", "c_name")


_FUZZY_NAME_SQL = """
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       levenshtein(a.c_name, b.c_name) AS distance
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= 1
"""

register(customer_name_neardup, _FUZZY_NAME_SQL)


def part_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics #3 (with connected components + PageRank):
    triangle count of the part co-occurrence graph (parts ordered
    together in one order = an edge).  Runs the degree-ordered
    orientation algorithm (``operators/graph.triangle_count``) whose
    wedge join is hub-skew-proof; the oracle is the direct 3-way SQL
    join, so the orientation trick is hash-verified against the naive
    definition."""
    from ..operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "o")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return triangle_count(edges)


_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT COUNT(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
"""

register(part_cooccurrence_triangles, _TRIANGLES_SQL)


def customer_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge/purge-style candidate pairs: customers compared only with
    their 3 successors in name order, kept within 2 edits
    (``operators/fuzzy.sorted_neighborhood_pairs``).  The global rank is
    range-partitioned + offset-reconstructed, never a one-partition
    window; the oracle replays the same definition with a plain
    ROW_NUMBER window."""
    from ..operators.fuzzy import sorted_neighborhood_pairs

    c = load_table(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        c, "c_custkey", "c_name", window=3, max_distance=2
    )


_SORTED_NEIGHBORHOOD_SQL = """
WITH ranked AS (
  SELECT c_custkey AS k, c_name AS n,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS r
  FROM customer
)
SELECT a.k AS key_a, b.k AS key_b, levenshtein(a.n, b.n) AS distance
FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 3
WHERE levenshtein(a.n, b.n) <= 2
"""

register(customer_sorted_neighborhood, _SORTED_NEIGHBORHOOD_SQL)


def customer_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: deletion-neighborhood fuzzy pairs
    (edit distance <= 1, ``operators/fuzzy.fuzzy_name_pairs``) closed
    into entities via iterative min-label connected components
    (``operators/graph``) — each matched customer keyed to the smallest
    custkey of its entity, with matching blocked within nation (the
    textbook ER blocking key — it also bounds component size, keeping
    both the label-propagation round count and the oracle's recursive
    closure component-quadratic in the block, not the corpus).  The
    merge/purge composition a real master-data pipeline runs;
    oracle-checked against a recursive-CTE closure over the identical
    levenshtein pair set."""
    from ..operators.fuzzy import fuzzy_name_pairs
    from ..operators.graph import connected_components

    c = load_table(spark, sf_dir, "customer")
    nat = c.select("c_custkey", "c_nationkey")
    pairs = (
        fuzzy_name_pairs(c, "c_custkey", "c_name")
        .join(nat.select(F.col("c_custkey").alias("key_a"),
                         F.col("c_nationkey").alias("nat_a")), "key_a")
        .join(nat.select(F.col("c_custkey").alias("key_b"),
                         F.col("c_nationkey").alias("nat_b")), "key_b")
        .filter(F.col("nat_a") == F.col("nat_b"))
        .select(F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b"))
    )
    labels = connected_components(pairs, "id_a", "id_b")
    return labels.select(
        F.col("node").alias("c_custkey"), F.col("label").alias("entity_id")
    )


_ENTITY_CLUSTERS_SQL = """
WITH RECURSIVE
good AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND a.c_nationkey = b.c_nationkey
   AND levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (SELECT id_a AS a, id_b AS b FROM good
          UNION SELECT id_b, id_a FROM good),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS c_custkey, LEAST(a, MIN(b)) AS entity_id FROM reach GROUP BY a
"""

register(customer_entity_clusters, _ENTITY_CLUSTERS_SQL)


def url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar functions over synthetic URLs derived from customer
    rows (the fixtures carry no URLs, so both engines build the SAME
    url in-query — the doc_pii_redact pattern): ``parse_url`` host /
    path / query-param extraction on the Spark side, regexp replays on
    the DuckDB side."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    url = F.concat(
        F.lit("https://shop"),
        (F.col("c_nationkey") % 5).cast("string"),
        F.lit(".example.com/cust/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.lower(F.col("c_mktsegment")),
        F.lit("&v=2"),
    )
    return c.select(
        "c_custkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("seg")).alias("seg"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
    )


_URL_SQL = r"""
WITH u AS (
  SELECT c_custkey,
         'https://shop' || (c_nationkey % 5) || '.example.com/cust/' ||
         c_custkey || '?seg=' || lower(c_mktsegment) || '&v=2' AS url
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT c_custkey,
       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '[?&]seg=([^&#]*)', 1) AS seg,
       regexp_extract(url, '^([a-z]+)://', 1) AS proto
FROM u
"""

register(url_funcs, _URL_SQL)


def part_affinity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top part pairs by pointwise mutual
    information (co-order frequency vs independence), support ≥ 3
    orders.  The pair space is the per-order self-join of DISTINCT
    items — bounded by (items-per-order)² per order, linear in orders
    at any scale; part frequencies join on the uniform ``l_partkey``
    key.  Deterministic top-50 (rounded PMI desc, then pair)."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("n_p"))
    n = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    scored = (
        pairs.join(freq.select(F.col("l_partkey").alias("pa"), F.col("n_p").alias("n_a")), "pa")
        .join(freq.select(F.col("l_partkey").alias("pb"), F.col("n_p").alias("n_b")), "pb")
        .crossJoin(F.broadcast(n))  # scalar stays in-plan, no driver action
        .select(
            "pa",
            "pb",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab")
                    * F.col("n_orders").cast("double")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "pa", "pb").limit(50)


_PMI_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
freq AS (SELECT l_partkey, COUNT(*) AS n_p FROM items GROUP BY 1)
SELECT pa, pb, n_ab,
       ROUND(ln(n_ab * CAST(n.n_orders AS DOUBLE) / (fa.n_p * fb.n_p)), 6) AS pmi
FROM pairs
JOIN freq fa ON pairs.pa = fa.l_partkey
JOIN freq fb ON pairs.pb = fb.l_partkey
CROSS JOIN n
ORDER BY pmi DESC, pa, pb
LIMIT 50
"""

register(part_affinity_pmi, _PMI_SQL)


def orders_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outliers: orders whose price deviates from
    their status group's MEDIAN by more than 1.9× the median absolute
    deviation (the fixture's uniform prices cap the score near 2.04 —
    max-deviation ≈ half-range over MAD ≈ quarter-range — so 1.9 is
    the discriminating tail; heavy-tailed real data uses the classic
    3-6×) — the scale-proof alternative to mean/stddev z-scores
    (one extreme order cannot drag its own threshold).  Two grouped
    exact-percentile aggregations (group count is tiny, so exact
    median is cheap) + broadcast joins back onto the fact; both
    engines compute the identical interpolated medians."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.5).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
        "med",
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderstatus")
        .filter(F.col("adev") > 1.9 * F.col("mad"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.round("med", 4).alias("group_median"),
            F.round(F.col("adev") / F.col("mad"), 4).alias("mad_score"),
        )
    )


_MAD_SQL = """
WITH med AS (
  SELECT o_orderstatus, QUANTILE_CONT(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
),
dev AS (
  SELECT o.o_orderstatus, o.o_orderkey, o.o_totalprice,
         ABS(o.o_totalprice - m.med) AS adev, m.med
  FROM orders o JOIN med m ON o.o_orderstatus = m.o_orderstatus
),
mad AS (
  SELECT o_orderstatus, QUANTILE_CONT(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice,
       ROUND(d.med, 4) AS group_median,
       ROUND(d.adev / m.mad, 4) AS mad_score
FROM dev d JOIN mad m ON d.o_orderstatus = m.o_orderstatus
WHERE d.adev > 1.9 * m.mad
"""

register(orders_price_mad_outliers, _MAD_SQL)


def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: weekly gross revenue with the
    previous week's value and growth rate (lag window over the tiny
    week-grain rollup; decimal-exact sums before the ratio)."""
    li = _t(spark, sf_dir, "lineitem")
    wk = (
        li.groupBy(F.date_trunc("week", "l_shipdate").cast("date").alias("wk"))
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC)).alias("rev")
        )
    )
    w = Window.orderBy("wk")
    prev = F.lag("rev").over(w)
    return wk.select(
        "wk",
        F.col("rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.round(
            (F.col("rev") - prev) / prev.cast("double"), 6
        ).alias("wow_growth"),
    )


_WOW_SQL = """
WITH wk AS (
  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
         SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM lineitem GROUP BY 1
)
SELECT wk,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(LAG(rev) OVER (ORDER BY wk) AS DOUBLE) AS prev_revenue,
       ROUND((rev - LAG(rev) OVER (ORDER BY wk))
             / CAST(LAG(rev) OVER (ORDER BY wk) AS DOUBLE), 6) AS wow_growth
FROM wk
"""

register(weekly_revenue_growth, _WOW_SQL)


def supplier_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational SLA view: order→ship latency percentiles per
    supplier nation.  The fact joins orders on the shuffle key and the
    two dims broadcast; exact percentiles on the day-grain diffs."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg(lat), 4).alias("avg_days"),
            F.percentile(lat, 0.5).alias("p50_days"),
            F.percentile(lat, 0.95).alias("p95_days"),
            F.max(lat).alias("max_days"),
        )
    )


_FULFILL_SQL = """
SELECT n_name,
       COUNT(*) AS n_items,
       ROUND(AVG(datediff('day', o_orderdate, l_shipdate)), 4) AS avg_days,
       QUANTILE_CONT(datediff('day', o_orderdate, l_shipdate), 0.5) AS p50_days,
       QUANTILE_CONT(datediff('day', o_orderdate, l_shipdate), 0.95) AS p95_days,
       MAX(datediff('day', o_orderdate, l_shipdate)) AS max_days
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1
"""

register(supplier_fulfillment_latency, _FULFILL_SQL)


def map_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType/StructType surface: ``from_json`` into ``map<string,int>``
    (the NDJSON props of reference dags/copy_cloudsql_to_bigquery_v2.py:109),
    per-user event-type maps via ``map_from_entries``, and the map
    higher-order functions (``map_filter``/``transform_values``) plus
    lexicographic struct MAX — all Catalyst expressions inside
    whole-stage codegen, no UDFs.  Two shuffles total: (user, type)
    partial counts, then the user rollup.  Oracle parity notes: DuckDB
    has no map HOFs, so the oracle derives the identical canonical
    strings/scalars from the (user, type) counts directly; Spark
    ``size``/int arithmetic is cast to long to match DuckDB BIGINT,
    and the props sum is BIGINT-cast on both sides (DuckDB SUM →
    HUGEINT, the historical json_funcs r1 lesson)."""
    e = _t(spark, sf_dir, "events")
    cnts = (
        e.withColumn(
            "k_val",
            F.try_element_at(F.from_json("props", "map<string,int>"), F.lit("k")),
        )
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("k_val").alias("sum_k"))
    )
    per_user = cnts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m"),
        F.sum("sum_k").alias("sum_props_k"),
        F.max(
            F.struct(F.col("cnt").alias("c"), F.col("event_type").alias("t"))
        ).alias("top"),
    )
    return per_user.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_sorted"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("n_events"),
        F.array_join(
            F.array_sort(F.map_keys(F.map_filter("m", lambda k, v: v >= 3))), ","
        ).alias("hot_types"),
        F.try_element_at(
            F.transform_values("m", lambda k, v: v * 2), F.lit("purchase")
        )
        .cast("long")
        .alias("purchase_doubled"),
        F.array_join(
            F.transform(
                F.map_entries("m"),
                lambda kv: F.concat(
                    kv["key"], F.lit(":"), kv["value"].cast("string")
                ),
            ),
            ",",
        ).alias("entries_str"),
        "sum_props_k",
        F.col("top.c").alias("top_cnt"),
        F.col("top.t").alias("top_type"),
    )


_MAP_STRUCT_SQL = """
WITH kv AS (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         SUM(CAST(props->>'$.k' AS INTEGER)) AS sum_k
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_types,
       string_agg(event_type, ',' ORDER BY event_type) AS keys_sorted,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       COALESCE(string_agg(event_type, ',' ORDER BY event_type)
                  FILTER (WHERE cnt >= 3), '') AS hot_types,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN cnt * 2 END)
            AS BIGINT) AS purchase_doubled,
       string_agg(event_type || ':' || cnt, ',' ORDER BY event_type)
         AS entries_str,
       CAST(SUM(sum_k) AS BIGINT) AS sum_props_k,
       (MAX({'c': cnt, 't': event_type})).c AS top_cnt,
       (MAX({'c': cnt, 't': event_type})).t AS top_type
FROM kv GROUP BY user_id
"""

register(map_struct_funcs, _MAP_STRUCT_SQL)


def part_cooccurrence_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics #4 (new r7): 3-core of the repeat co-purchase
    graph — parts ordered together in at least TWO distinct orders
    form an edge; 6 peeling rounds of ``operators/graph.k_core`` strip
    everything not embedded in a dense mutual-bundling neighborhood
    (the host-graph k-core quality filter of web-corpus curation,
    applied to the co-order graph).  The result is the 6-round peel,
    not a converged k-core: at sf0.01 the symmetric edge count is still
    falling after round 8 (7276 → 5584 → … → 4704 at round 6), while
    sf0.001 never peels and sf0.1 peels to nothing by round 2.  The
    DuckDB oracle replays the same 6 rounds as chained CTEs, like the
    PageRank/LPA replays."""
    from ..operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("a", "b")
    )
    return (
        k_core(edges, k=3, rounds=6)
        .select(F.col("node").alias("part"), "core_degree")
        .orderBy("part")
    )


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """DuckDB replay of ``graph.k_core`` over a prior CTE
    ``e0(u, v)`` (symmetrized, deduped): per round, degrees →
    alive(deg >= k) → edge restriction to alive×alive."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""d{i} AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg FROM e{i - 1} GROUP BY u
)""")
        steps.append(f"""a{i} AS MATERIALIZED (
  SELECT u FROM d{i} WHERE deg >= {k}
)""")
        steps.append(f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN a{i} x ON e.u = x.u
  JOIN a{i} y ON e.v = y.u
)""")
    return ",\n".join(steps)


_KCORE_SQL = f"""
WITH he AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
e0 AS (
  SELECT u, v FROM he
  UNION
  SELECT v AS u, u AS v FROM he
),
{_kcore_unrolled_sql(3, 6)}
SELECT u AS part, COUNT(*) AS core_degree
FROM e6 GROUP BY u ORDER BY part
"""

register(part_cooccurrence_kcore, _KCORE_SQL)


def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (new r7): for part pairs
    co-occurring in at least 2 orders, support / directional
    confidence / lift — the classic a-priori first level, and the
    probabilistic refinement of ``part_affinity_pmi`` (PMI ≈ log
    lift).  Top-50 by lift (deterministic pair tie-break).

    Scale shape: the pair frame is the per-order self-join (order
    size is bounded — TPC-H ≤ 7 items — so the explode is linear in
    lineitem), item/order totals are map-side-combined aggregates, and
    the totals attach via broadcast (item counts are |parts|-sized,
    the 1-row order count rides along).  Top-50 is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )  # 1-row frame, rides along broadcast — no driver-side action
    item = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n_p")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    out = (
        pairs.join(item.withColumnRenamed("p", "a"), "a")
        .withColumnRenamed("n_p", "n_a")
        .join(item.withColumnRenamed("p", "b"), "b")
        .withColumnRenamed("n_p", "n_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_ab") / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                (F.col("n_ab") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "a", "b").limit(50)


_ASSOC_RULES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
item AS (SELECT l_partkey AS p, COUNT(*) AS n_p FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT a, b, n_ab,
       ROUND(n_ab * 1.0 / (SELECT n FROM n_orders), 6) AS support,
       ROUND(n_ab * 1.0 / ia.n_p, 6) AS conf_a_to_b,
       ROUND(n_ab * 1.0 / ib.n_p, 6) AS conf_b_to_a,
       ROUND(n_ab * 1.0 * (SELECT n FROM n_orders) / (ia.n_p * ib.n_p), 6)
         AS lift
FROM pairs
JOIN item ia ON ia.p = a
JOIN item ib ON ib.p = b
ORDER BY lift DESC, a, b LIMIT 50
"""

register(part_association_rules, _ASSOC_RULES_SQL)


def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (new r7): per-nation weekly
    revenue trend via ``regr_slope`` / ``regr_intercept`` /
    ``regr_r2`` / ``regr_count`` over (week index, weekly revenue) —
    the built-in OLS family the window/statistics surface had not yet
    exercised.  Weekly revenue is decimal-summed before the double
    cast (the float-parity convention), the week index is an exact
    integer day-diff, and the coefficient outputs are rounded per the
    agg_corr covariance convention.

    Scale shape: fact⋈dims with broadcast dims, one (nation, week)
    partial aggregation, then the regression runs over the tiny
    nation×week frame — model-sized."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wk = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC))
            .cast("double")
            .alias("rev")
        )
    )
    w0 = wk.agg(F.min("wk").alias("w0"))
    trend = wk.crossJoin(F.broadcast(w0)).withColumn(
        "x", (F.datediff("wk", "w0") / 7).cast("long")
    )
    return trend.groupBy("n_name").agg(
        F.regr_count("rev", "x").alias("n_weeks"),
        F.round(F.regr_slope("rev", "x"), 4).alias("slope"),
        F.round(F.regr_intercept("rev", "x"), 4).alias("intercept"),
        F.round(F.regr_r2("rev", "x"), 6).alias("r2"),
    )


_REVENUE_TREND_SQL = """
WITH wk AS (
  SELECT n_name, CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
w0 AS (SELECT MIN(wk) AS w0 FROM wk),
trend AS (
  SELECT n_name, rev,
         CAST(datediff('day', (SELECT w0 FROM w0), wk) / 7 AS BIGINT) AS x
  FROM wk
)
SELECT n_name,
       REGR_COUNT(rev, x) AS n_weeks,
       ROUND(REGR_SLOPE(rev, x), 4) AS slope,
       ROUND(REGR_INTERCEPT(rev, x), 4) AS intercept,
       ROUND(REGR_R2(rev, x), 6) AS r2
FROM trend GROUP BY 1
"""

register(nation_revenue_trend, _REVENUE_TREND_SQL)


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time (new r7) via the DIFFERENCE-ARRAY
    pattern: an order is active from its order week through the week
    its last lineitem ships (the fixture's lineitem carries
    ``l_shipdate`` only); instead of joining every week
    against every active interval (the O(weeks × orders) interval-stab
    join), each order emits +1 at its open week and −1 after its close
    week, the deltas aggregate per week, and one cumulative sum yields
    the backlog — THE scale-correct way to count overlapping
    intervals.

    Scale shape: one (order) close-date aggregation, a 2-row-per-order
    delta explode, one per-week delta aggregation, then the cumulative
    sum runs via :func:`operators.curation.global_cumsum` — the
    range-partitioned two-phase prefix sum, NOT a bare
    ``Window.orderBy`` — so there is no single-partition stage at ANY
    span (r7 leaned on the week frame being calendar-bounded;
    VERDICT r7 #5 removed even that caveat)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    spans = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("closed"))
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("open_wk"),
            F.date_add(
                F.date_trunc("week", "closed").cast("date"), 7
            ).alias("close_wk"),
        )
    )
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("open_wk").alias("wk"), F.lit(1).alias("d")),
                F.struct(F.col("close_wk").alias("wk"), F.lit(-1).alias("d")),
            )
        ).alias("e")
    ).select("e.wk", "e.d")
    weekly = deltas.groupBy("wk").agg(
        F.sum("d").cast("long").alias("net_delta")
    )
    cum = curation_ops.global_cumsum(
        weekly, ["wk"], "net_delta", out_col="open_backlog"
    )
    return cum.select(
        "wk", "net_delta", F.col("open_backlog").cast("long").alias("open_backlog")
    )


_OPEN_BACKLOG_SQL = """
WITH spans AS (
  SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS open_wk,
         CAST(date_trunc('week', c.closed) AS DATE) + 7 AS close_wk
  FROM (SELECT l_orderkey, MAX(l_shipdate) AS closed
        FROM lineitem GROUP BY 1) c
  JOIN orders o ON o.o_orderkey = c.l_orderkey
),
deltas AS (
  SELECT open_wk AS wk, 1 AS d FROM spans
  UNION ALL
  SELECT close_wk AS wk, -1 AS d FROM spans
),
weekly AS (
  SELECT wk, CAST(SUM(d) AS BIGINT) AS net_delta FROM deltas GROUP BY wk
)
SELECT wk, net_delta,
       CAST(SUM(net_delta) OVER (ORDER BY wk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_backlog
FROM weekly
"""

register(orders_open_backlog, _OPEN_BACKLOG_SQL)


def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer inter-order gaps (new
    r7) — "how long until a customer orders again", with the last
    order of every customer right-censored at the corpus's final order
    date (the standard churn-analysis framing).  Durations are binned
    to weeks; per bin the at-risk count is total durations minus
    everything that completed or censored in EARLIER bins, and the
    survival estimate is the running product ``prod(1 - d_i/n_i)``
    computed as ``EXP(SUM(LN(.)))`` so both engines evaluate it with
    one ordered window — the same closed-form-over-recurrence trick as
    the CUSUM query.  A bin whose factor hits exactly zero (everyone
    remaining exits) zeroes the curve from there on via a running
    saw-zero flag instead of feeding LN(0).

    Scale shape: the gap extraction is one window partitioned by
    customer (LEAD over each customer's order dates), the bin
    aggregation is a plain groupBy, and the ordered KM pass runs over
    the BIN-GRAIN frame — bounded by max-duration/7 rows (~350 for
    this calendar span) regardless of corpus size, so the single
    unpartitioned window is over a provably tiny frame.  All inputs to
    the survival product are integer-derived, so the only cross-engine
    drift is LN/EXP libm ulps, absorbed by the 1e-6 rounding."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    dur = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.lead("o_orderdate").over(w).alias("nxt"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.when(
                F.col("nxt").isNotNull(),
                F.datediff("nxt", "o_orderdate"),
            )
            .otherwise(F.datediff("maxd", "o_orderdate"))
            .alias("dur"),
            F.col("nxt").isNotNull().cast("int").alias("event"),
        )
    )
    b = dur.groupBy(
        F.floor(F.col("dur") / F.lit(7.0)).cast("bigint").alias("t_week")
    ).agg(
        F.sum("event").alias("n_events"),
        F.sum(F.lit(1) - F.col("event")).alias("n_censored"),
    )
    wall = Window.orderBy("t_week").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wprev = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, 0)
    r = b.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(wall)
        - F.coalesce(
            F.sum(F.col("n_events") + F.col("n_censored")).over(wprev),
            F.lit(0),
        ),
    ).withColumn(
        "factor", F.lit(1.0) - F.col("n_events") / F.col("n_risk")
    )
    out = r.withColumn(
        "saw_zero",
        F.max((F.col("factor") <= 0).cast("int")).over(wc),
    ).withColumn(
        "sum_ln",
        F.sum(F.log(F.when(F.col("factor") > 0, F.col("factor")))).over(wc),
    )
    return out.select(
        "t_week",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        F.when(F.col("saw_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("sum_ln"), 6))
        .alias("survival"),
    )


_SURVIVAL_KM_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
m AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
dur AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate, maxd) END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM o, m
),
b AS (
  SELECT CAST(FLOOR(dur / 7.0) AS BIGINT) AS t_week,
         CAST(SUM(event) AS BIGINT) AS n_events,
         CAST(SUM(1 - event) AS BIGINT) AS n_censored
  FROM dur GROUP BY 1
),
r AS (
  SELECT *,
         CAST(SUM(n_events + n_censored) OVER () AS BIGINT)
           - CAST(COALESCE(SUM(n_events + n_censored) OVER (
               ORDER BY t_week ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM b
),
k AS (
  SELECT *, 1.0 - n_events * 1.0 / n_risk AS factor FROM r
)
SELECT t_week, n_risk, n_events, n_censored,
       CASE WHEN MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER wc = 1
            THEN 0.0
            ELSE ROUND(EXP(SUM(LN(CASE WHEN factor > 0 THEN factor END))
                           OVER wc), 6) END AS survival
FROM k
WINDOW wc AS (ORDER BY t_week ROWS UNBOUNDED PRECEDING)
"""

register(customer_survival_km, _SURVIVAL_KM_SQL)


def customer_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring (new r7) on top of the
    existing merge/purge blocker: every sorted-neighborhood candidate
    pair (``operators/fuzzy.sorted_neighborhood_pairs`` — the same
    candidates as ``customer_sorted_neighborhood``) gets a
    log-likelihood match weight from three field comparisons: name
    within 1 edit, equal nation, equal market segment.  The
    u-probabilities (chance agreement between two RANDOM records) for
    the exact fields are estimated from the data itself —
    ``sum(n_v*(n_v-1)) / (N*(N-1))`` over the value frequencies, the
    standard frequency-based bootstrap — while the fuzzy name field
    uses fixed clerical priors (m=0.95, u=0.005), which is how
    production F-S setups start before an EM pass.  Weight =
    ``ln(m/u)`` on agreement, ``ln((1-m)/(1-u))`` on disagreement,
    summed over fields.

    Scale shape: candidate generation is the blocked (range-partitioned
    rank, window=3) pair set — never a cross join; each u-probability
    is ONE value-frequency aggregation reduced to a scalar and
    broadcast back as a 1-row frame; scoring is a pure row expression
    over the candidate pairs."""
    from ..operators.fuzzy import sorted_neighborhood_pairs

    m_name, u_name, m_nat, m_seg = 0.95, 0.005, 0.9, 0.8
    c = load_table(spark, sf_dir, "customer")
    n_total = c.agg(F.count("*").alias("n"))

    def _u_exact(col: str):
        freq = c.groupBy(col).agg(F.count("*").alias("nv"))
        return freq.crossJoin(F.broadcast(n_total)).agg(
            (
                F.sum(F.col("nv") * (F.col("nv") - 1))
                / F.first(F.col("n") * (F.col("n") - 1))
            ).alias(f"u_{col}")
        )

    pairs = sorted_neighborhood_pairs(
        c, "c_custkey", "c_name", window=3, max_distance=2
    )
    a = c.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    j = (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .crossJoin(F.broadcast(_u_exact("c_nationkey")))
        .crossJoin(F.broadcast(_u_exact("c_mktsegment")))
    )
    agree_name = F.col("distance") <= 1
    agree_nat = F.col("nat_a") == F.col("nat_b")
    agree_seg = F.col("seg_a") == F.col("seg_b")

    def _w(agree, m, u):
        return F.when(agree, F.log(F.lit(m) / u)).otherwise(
            F.log((F.lit(1.0) - F.lit(m)) / (F.lit(1.0) - u))
        )

    weight = (
        _w(agree_name, m_name, F.lit(u_name))
        + _w(agree_nat, m_nat, F.col("u_c_nationkey"))
        + _w(agree_seg, m_seg, F.col("u_c_mktsegment"))
    )
    return j.select(
        "key_a",
        "key_b",
        agree_name.alias("agree_name"),
        agree_nat.alias("agree_nation"),
        agree_seg.alias("agree_segment"),
        F.round(weight, 6).alias("match_weight"),
    )


_LINKAGE_SCORES_SQL = """
WITH ranked AS (
  SELECT c_custkey AS k, c_name AS n,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS r
  FROM customer
),
pairs AS (
  SELECT a.k AS key_a, b.k AS key_b, levenshtein(a.n, b.n) AS distance
  FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 3
  WHERE levenshtein(a.n, b.n) <= 2
),
tot AS (SELECT COUNT(*) AS n FROM customer),
u_nat AS (
  SELECT SUM(nv * (nv - 1)) * 1.0 / (ANY_VALUE(n) * (ANY_VALUE(n) - 1)) AS u
  FROM (SELECT COUNT(*) AS nv FROM customer GROUP BY c_nationkey), tot
),
u_seg AS (
  SELECT SUM(nv * (nv - 1)) * 1.0 / (ANY_VALUE(n) * (ANY_VALUE(n) - 1)) AS u
  FROM (SELECT COUNT(*) AS nv FROM customer GROUP BY c_mktsegment), tot
)
SELECT p.key_a, p.key_b,
       p.distance <= 1 AS agree_name,
       ca.c_nationkey = cb.c_nationkey AS agree_nation,
       ca.c_mktsegment = cb.c_mktsegment AS agree_segment,
       ROUND(
         (CASE WHEN p.distance <= 1 THEN LN(0.95 / 0.005)
               ELSE LN(0.05 / 0.995) END)
         + (CASE WHEN ca.c_nationkey = cb.c_nationkey
                 THEN LN(0.9 / u_nat.u) ELSE LN(0.1 / (1 - u_nat.u)) END)
         + (CASE WHEN ca.c_mktsegment = cb.c_mktsegment
                 THEN LN(0.8 / u_seg.u) ELSE LN(0.2 / (1 - u_seg.u)) END),
         6) AS match_weight
FROM pairs p
JOIN customer ca ON ca.c_custkey = p.key_a
JOIN customer cb ON cb.c_custkey = p.key_b,
u_nat, u_seg
"""

register(customer_linkage_scores, _LINKAGE_SCORES_SQL)


def orders_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud screen (new r7): the first-significant-digit
    distribution of order totals per order priority, chi-square-tested
    against the Benford expectation ``log10(1 + 1/d)`` — the classic
    forensic-accounting anomaly gate for financial amount columns.
    The digit is taken from the DECIMAL(18,2) string form (never from
    ``log10`` of a double, whose last-ulp behavior at exact powers of
    ten differs between engines), the chi-square sums over the DENSE
    1..9 digit grid (unobserved digits contribute their full ``n*p``
    term), and the pass flag compares the ROUNDED statistic against
    the 0.01 critical value for 8 degrees of freedom (20.09).

    Scale shape: one (priority, digit) count shuffle over orders, then
    everything runs on the 5x9 dense grid with per-priority totals
    broadcast back — broadcast-sized at any corpus scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    cnt = (
        o.select("o_orderpriority", digit.alias("d"))
        .groupBy("o_orderpriority", "d")
        .agg(F.count("*").alias("nd"))
    )
    tot = cnt.groupBy("o_orderpriority").agg(F.sum("nd").alias("n"))
    grid = (
        tot.select("o_orderpriority")
        .crossJoin(spark.range(1, 10).select(F.col("id").cast("int").alias("d")))
        .join(cnt, ["o_orderpriority", "d"], "left")
        .join(F.broadcast(tot), "o_orderpriority")
        .select(
            "o_orderpriority",
            "n",
            F.coalesce("nd", F.lit(0)).alias("nd"),
            F.log10(F.lit(1.0) + 1.0 / F.col("d")).alias("exp_frac"),
        )
    )
    chi2 = F.round(
        F.sum(
            F.pow(F.col("nd") / F.col("n") - F.col("exp_frac"), F.lit(2.0))
            / F.col("exp_frac")
        )
        * F.first("n"),
        4,
    )
    return (
        grid.groupBy("o_orderpriority")
        .agg(F.first("n").cast("bigint").alias("n_orders"), chi2.alias("chi2"))
        .withColumn("benford_ok", F.col("chi2") <= 20.09)
    )


_BENFORD_SQL = """
WITH src AS (
  SELECT o_orderpriority,
         CAST(SUBSTRING(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                        1, 1) AS INTEGER) AS d
  FROM orders WHERE o_totalprice >= 1
),
cnt AS (
  SELECT o_orderpriority, d, COUNT(*) AS nd FROM src GROUP BY 1, 2
),
tot AS (
  SELECT o_orderpriority, CAST(SUM(nd) AS BIGINT) AS n FROM cnt GROUP BY 1
),
digits AS (SELECT unnest(generate_series(1, 9)) AS d),
grid AS (
  SELECT t.o_orderpriority, t.n, COALESCE(c.nd, 0) AS nd,
         LOG10(1.0 + 1.0 / g.d) AS exp_frac
  FROM tot t CROSS JOIN digits g
  LEFT JOIN cnt c ON c.o_orderpriority = t.o_orderpriority AND c.d = g.d
),
chi AS (
  SELECT o_orderpriority,
         CAST(ANY_VALUE(n) AS BIGINT) AS n_orders,
         ROUND(SUM(POW(nd * 1.0 / n - exp_frac, 2) / exp_frac)
               * ANY_VALUE(n), 4) AS chi2
  FROM grid GROUP BY 1
)
SELECT o_orderpriority, n_orders, chi2, chi2 <= 20.09 AS benford_ok
FROM chi
"""

register(orders_benford_screen, _BENFORD_SQL)


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (new r7): the exact Gini coefficient of
    total order revenue across purchasing customers, via the sorted
    rank formula ``G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n`` — the
    one-number inequality KPI behind "what share of revenue do the top
    customers carry".  Per-customer revenue is DECIMAL-summed (exact,
    engine-independent), and the global rank comes from
    ``operators/curation.global_rank`` — the range-partitioned
    prefix-sum machinery, NOT a single-partition ROW_NUMBER window
    (the oracle replays the identical order with a plain window,
    which DuckDB can afford).

    Scale shape: one customer-grain aggregation over orders, then the
    rank and the two weighted sums run on the customer-grain frame
    with no unpartitioned window anywhere — the same economics as
    ``exact_ntile``."""
    from ..operators.curation import global_rank

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    ranked = global_rank(rev, ["rev", "o_custkey"], rank_col="rk")
    n = F.count("*")
    return ranked.agg(
        n.alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("rk") * F.col("rev")) / (n * F.sum("rev"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
r AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk FROM rev
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(rev), 2) AS total_revenue,
       ROUND(2.0 * SUM(rk * rev) / (COUNT(*) * SUM(rev))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM r
"""

register(customer_revenue_gini, _GINI_SQL)


def nation_revenue_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (new r7): median pairwise slope per
    nation over the same weekly revenue series as
    ``nation_revenue_trend`` — the outlier-resistant complement of
    that query's OLS ``regr_slope`` (one blowout week moves OLS, not
    the median slope; breakdown point 29%).  Intercept =
    ``median(rev − slope·x)``, the standard Theil-Sen estimator.

    Scale shape: the pair frame is the WEEKLY model frame self-joined
    per nation (~weeks²·nations rows — model-sized, never the fact
    table); both medians are exact ``percentile``/``quantile_cont``
    linear interpolation, which average the same two order statistics
    in both engines.  Fact-side work is identical to the OLS query:
    broadcast dims, one (nation, week) partial aggregation.

    Span limit: unlike the OLS twin (linear in weeks), the pair frame
    grows QUADRATICALLY with the time span — ~66k pairs/nation at the
    fixture's 1-year span, ~27M pairs/nation for a 20-year span.
    Still model-sized (pairs never touch the fact table), but for
    multi-decade spans prefer the OLS twin or pre-bucket weeks to a
    coarser grain before pairing (VERDICT r7 #8)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wk = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC))
            .cast("double")
            .alias("rev")
        )
    )
    w0 = wk.agg(F.min("wk").alias("w0"))
    pts = wk.crossJoin(F.broadcast(w0)).select(
        "n_name",
        (F.datediff("wk", "w0") / 7).cast("long").alias("x"),
        "rev",
    )
    a = pts.select("n_name", F.col("x").alias("xa"), F.col("rev").alias("ra"))
    b = pts.select("n_name", F.col("x").alias("xb"), F.col("rev").alias("rb"))
    slopes = (
        a.join(b, "n_name")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "n_name",
            (
                (F.col("rb") - F.col("ra")) / (F.col("xb") - F.col("xa"))
            ).alias("s"),
        )
    )
    med = slopes.groupBy("n_name").agg(
        F.expr("percentile(s, 0.5)").alias("slope_med"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    resid = pts.join(med, "n_name").groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.first("n_pairs").alias("n_pairs"),
        F.round(F.first("slope_med"), 4).alias("ts_slope"),
        F.round(
            F.expr("percentile(rev - slope_med * x, 0.5)"), 4
        ).alias("ts_intercept"),
    )
    return resid.select("n_name", "n_weeks", "n_pairs", "ts_slope", "ts_intercept")


_THEILSEN_SQL = """
WITH wk AS (
  SELECT n_name, CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
w0 AS (SELECT MIN(wk) AS w0 FROM wk),
pts AS (
  SELECT n_name,
         CAST(datediff('day', (SELECT w0 FROM w0), wk) / 7 AS BIGINT) AS x,
         rev
  FROM wk
),
slopes AS (
  SELECT a.n_name, (b.rev - a.rev) / (b.x - a.x) AS s
  FROM pts a JOIN pts b ON a.n_name = b.n_name AND a.x < b.x
),
med AS (
  SELECT n_name, quantile_cont(s, 0.5) AS slope_med,
         COUNT(*) AS n_pairs
  FROM slopes GROUP BY 1
)
SELECT p.n_name,
       COUNT(*) AS n_weeks,
       ANY_VALUE(m.n_pairs) AS n_pairs,
       ROUND(ANY_VALUE(m.slope_med), 4) AS ts_slope,
       ROUND(quantile_cont(p.rev - m.slope_med * p.x, 0.5), 4) AS ts_intercept
FROM pts p JOIN med m USING (n_name)
GROUP BY 1
"""

register(nation_revenue_theilsen, _THEILSEN_SQL)


def part_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (new r8) over the part
    co-occurrence graph: for part pairs NOT currently linked (support
    < 2) but sharing common neighbors, score ``sum_z 1/ln(deg(z))`` —
    the classic "products frequently bought with the same companions"
    recommendation prior, completing the graph family (CC / PageRank /
    LPA / k-core / triangles) with its link-PREDICTION member.
    Top-30 by (rounded score, pair) — deterministic.

    Scale shape: edges come from the basket-bounded per-order pair
    explode (TPC-H order size <= 7, linear in lineitem — the
    ``part_association_rules`` frame); the common-neighbor join fans
    out deg(z) per endpoint, so z is HUB-CAPPED at degree <= 256 (the
    production-standard bound for AA/common-neighbor scoring: a
    warehouse-hub part that co-occurs with everything carries ~zero
    signal, 1/ln(deg) -> 0, and would alone quadratically dominate
    the join).  The cap is part of the operator contract and mirrored
    in the oracle.  Anti-join back to the edge set removes existing
    links; top-30 is TakeOrderedAndProject.  The edge/degree lineage
    appears several times in the static plan (pa/pb self-join, the
    anti-join) — at runtime AQE's exchange reuse collapses the
    repeats (measured: 8 ReusedExchange nodes in the final adaptive
    plan), so the fact-side work executes once."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("a", "b")
    )
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )  # directed both ways: (x, neighbor)
    deg = und.groupBy(F.col("a").alias("z")).agg(F.count("*").alias("deg"))
    # neighbors-of-z with z's degree attached, hub-capped
    nz = (
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
        .join(deg.filter(F.col("deg") <= 256), "z")
        # decimal-cast the per-neighbor weight so the SUM is
        # order-independent across partitionings/engines (the repo's
        # BM25/PRF convention — a double sum near a round-6 boundary
        # could flip the top-30 cutoff, ADVICE r8)
        .withColumn("w", (1.0 / F.log(F.col("deg"))).cast("decimal(28,10)"))
        .filter(F.col("deg") >= 2)
    )
    pa = nz.select("z", F.col("x").alias("a"), "w")
    pb = nz.select("z", F.col("x").alias("b"))
    scored = (
        pa.join(pb, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.round(F.sum("w").cast("double"), 6).alias("aa_score"))
        .join(edges, ["a", "b"], "left_anti")
    )
    return scored.orderBy(
        F.col("aa_score").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(30)


_ADAMIC_ADAR_SQL = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT a.p AS a, b.p AS b
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
),
deg AS (SELECT a AS z, COUNT(*) AS deg FROM und GROUP BY 1),
nz AS (
  SELECT und.b AS z, und.a AS x,
         CAST(1.0 / LN(deg.deg) AS DECIMAL(28,10)) AS w
  FROM und JOIN deg ON und.b = deg.z
  WHERE deg.deg BETWEEN 2 AND 256
),
scored AS (
  SELECT pa.x AS a, pb.x AS b,
         ROUND(CAST(SUM(pa.w) AS DOUBLE), 6) AS aa_score
  FROM nz pa JOIN nz pb ON pa.z = pb.z AND pa.x < pb.x
  GROUP BY 1, 2
)
SELECT s.a, s.b, s.aa_score
FROM scored s
ANTI JOIN edges e ON s.a = e.a AND s.b = e.b
ORDER BY s.aa_score DESC, s.a, s.b
LIMIT 30
"""

register(part_adamic_adar, _ADAMIC_ADAR_SQL)


def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 history (new r8): rebuild a
    versioned customer dimension from the order stream — one row per
    (customer, active day) version carrying cumulative order count and
    decimal-exact cumulative spend, with ``valid_from`` / ``valid_to``
    validity intervals (open ``valid_to`` = current version) and a
    dense version number.  The warehouse-history surface the
    reference's WRITE_TRUNCATE reloads throw away every run
    (reference ``dags/cloudsql_to_bigquery.py:209-236`` replaces the
    table wholesale; SCD2 is what a warehouse KEEPS instead).

    Scale shape: one (customer, day) pre-aggregation, then LEAD /
    ROW_NUMBER / running windows all sharing the SAME (custkey ×
    order-date) partitioning — one shuffle, three window functions on
    one sorted pass; the cumulative spend is summed in DECIMAL so
    results are partitioning-independent."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
    ).agg(
        F.count(F.lit(1)).alias("n_day"),
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("spend_day"),
    )
    w = Window.partitionBy("custkey").orderBy("valid_from")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "custkey",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.sum("n_day").over(wc).cast("long").alias("n_orders_cum"),
        F.round(F.sum("spend_day").over(wc).cast("double"), 2).alias(
            "spend_cum"
        ),
    )


_SCD2_SQL = """
WITH daily AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from,
         COUNT(*) AS n_day,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend_day
  FROM orders GROUP BY 1, 2
)
SELECT custkey, valid_from,
       LEAD(valid_from) OVER w AS valid_to,
       CAST(ROW_NUMBER() OVER w AS INT) AS version,
       CAST(SUM(n_day) OVER (PARTITION BY custkey ORDER BY valid_from
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_orders_cum,
       ROUND(CAST(SUM(spend_day) OVER (PARTITION BY custkey
            ORDER BY valid_from ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
         AS spend_cum
FROM daily
WINDOW w AS (PARTITION BY custkey ORDER BY valid_from)
"""

register(customer_scd2_history, _SCD2_SQL)


def nation_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST (new r8): the non-parametric
    significance twin of the Theil-Sen ESTIMATOR, on the same weekly
    revenue series — ``S = Σ_{i<j} sign(rev_j − rev_i)``, normal
    approximation ``z = (S ∓ 1)/sqrt(n(n−1)(2n+5)/18)`` with
    continuity correction, and a 5% two-sided trend flag (compared on
    the ROUNDED z, the r7 boundary-tie rule).  Theil-Sen says how
    steep; Mann-Kendall says whether to believe it.

    Scale shape: identical to the Theil-Sen twin — the sign-pair
    frame is the WEEKLY model frame self-joined per nation
    (weeks²·nations rows, same quadratic span caveat documented
    there); S is an exact integer sum, the variance is integer
    arithmetic, one sqrt/divide per nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wk = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC))
            .cast("double")
            .alias("rev")
        )
        # r10: one eager materialization of the weekly model frame for
        # its three consumers (a/b sign-pair sides, cnt) — the 4-table
        # fact join runs once (same rationale as the Theil-Sen twin)
        .localCheckpoint(eager=True)
    )
    a = wk.select("n_name", F.col("wk").alias("wa"), F.col("rev").alias("ra"))
    b = wk.select("n_name", F.col("wk").alias("wb"), F.col("rev").alias("rb"))
    s = (
        a.join(b, "n_name")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("n_name")
        .agg(
            F.sum(F.signum(F.col("rb") - F.col("ra")))
            .cast("long")
            .alias("s_stat")
        )
    )
    cnt = wk.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_weeks"))
    j = s.join(cnt, "n_name")
    nw = F.col("n_weeks").cast("double")
    var = nw * (nw - 1) * (2 * nw + 5) / 18.0
    z = F.round(
        F.when(
            F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var)
        )
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
        4,
    )
    return j.select(
        "n_name",
        "n_weeks",
        "s_stat",
        z.alias("z"),
        (F.abs(z) > 1.96).alias("trending"),
    )


_MANN_KENDALL_SQL = """
WITH wk AS (
  SELECT n_name, CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
s AS (
  SELECT a.n_name,
         CAST(SUM(SIGN(b.rev - a.rev)) AS BIGINT) AS s_stat
  FROM wk a JOIN wk b ON a.n_name = b.n_name AND a.wk < b.wk
  GROUP BY 1
),
cnt AS (SELECT n_name, COUNT(*) AS n_weeks FROM wk GROUP BY 1),
j AS (
  SELECT s.n_name, cnt.n_weeks, s.s_stat,
         ROUND(CASE
           WHEN s.s_stat > 0 THEN (s.s_stat - 1)
             / SQRT(cnt.n_weeks * (cnt.n_weeks - 1.0)
                    * (2.0 * cnt.n_weeks + 5) / 18.0)
           WHEN s.s_stat < 0 THEN (s.s_stat + 1)
             / SQRT(cnt.n_weeks * (cnt.n_weeks - 1.0)
                    * (2.0 * cnt.n_weeks + 5) / 18.0)
           ELSE 0.0 END, 4) AS z
  FROM s JOIN cnt ON s.n_name = cnt.n_name
)
SELECT n_name, CAST(n_weeks AS BIGINT) AS n_weeks, s_stat, z,
       ABS(z) > 1.96 AS trending
FROM j
"""

register(nation_mann_kendall, _MANN_KENDALL_SQL)


def nation_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per nation (new r8): the
    smallest whole-dollar price band at which the running quantity
    reaches half the nation's total — the weighted order statistic
    Spark has no builtin for (``percentile`` weighs rows equally; a
    10 000-unit line and a 1-unit line are not the same evidence
    about "the typical traded price").

    Scale shape: the fact-sized work is one (nation, price-band)
    aggregation (bands are whole dollars — the grid bounds the
    cumulative frame by the PRICE DOMAIN, not the row count, the same
    quantization argument as the KS drift grid); the running-quantity
    window and the half-total pick run on that band frame.  All
    arithmetic is exact longs — no FP in the selection, so the pick
    is bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    banded = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.floor("l_extendedprice").cast("long").alias("band"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        # r10: the price-band model frame feeds both the total and the
        # cumulative window — materialize once, scan the fact side once
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = banded.groupBy("n_name").agg(
        F.sum("qty").cast("long").alias("total_qty")
    )
    cum = banded.select(
        "n_name", "band", F.sum("qty").over(w).alias("cum_qty")
    )
    return (
        cum.join(F.broadcast(tot), "n_name")
        .filter(F.col("cum_qty") * 2 >= F.col("total_qty"))
        .groupBy("n_name", "total_qty")
        .agg(F.min("band").alias("wmedian_price_band"))
        .select("n_name", "total_qty", "wmedian_price_band")
    )


_WEIGHTED_MEDIAN_SQL = """
WITH banded AS (
  SELECT n_name, CAST(FLOOR(l_extendedprice) AS BIGINT) AS band,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
tot AS (
  SELECT n_name, CAST(SUM(qty) AS BIGINT) AS total_qty
  FROM banded GROUP BY 1
),
cum AS (
  SELECT n_name, band,
         SUM(qty) OVER (PARTITION BY n_name ORDER BY band
                        ROWS UNBOUNDED PRECEDING) AS cum_qty
  FROM banded
)
SELECT c.n_name, t.total_qty,
       MIN(c.band) AS wmedian_price_band
FROM cum c JOIN tot t ON c.n_name = t.n_name
WHERE c.cum_qty * 2 >= t.total_qty
GROUP BY 1, 2
"""

register(nation_weighted_median_price, _WEIGHTED_MEDIAN_SQL)


def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index (new r8): monthly aggregate price level
    relative to the first month, holding the BASE month's quantity
    basket fixed — ``I_t = Σ p_t·q_0 / Σ p_0·q_0`` over parts traded
    in both months (p = monthly average unit price, q_0 = base-month
    quantity) — the classic inflation-style index a revenue warehouse
    reports (raw revenue conflates price moves with volume moves;
    the index isolates price).

    Scale shape: one (part, month) fact aggregation; the base-month
    slice joins back on partkey (part-cardinality frame, not
    fact-sized); numerator/denominator are DECIMAL sums so the ratio
    is order-independent; the month list output is calendar-bounded.
    Unit price p = decimal revenue / long quantity, computed with
    identical operand order in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("mo"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    ).localCheckpoint(eager=True)  # r10: one fact pass for m0/base/cur
    m0 = pm.agg(F.min("mo").alias("mo0"))
    base = (
        pm.join(F.broadcast(m0), pm.mo == F.col("mo0"))
        .select(
            "pk",
            (F.col("rev").cast("double") / F.col("qty")).alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    cur = pm.select(
        "pk",
        "mo",
        (F.col("rev").cast("double") / F.col("qty")).alias("pt"),
    )
    j = cur.join(base, "pk")
    return (
        j.groupBy("mo")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum((F.col("pt") * F.col("q0")).cast("decimal(28,8)")).alias(
                "num"
            ),
            F.sum((F.col("p0") * F.col("q0")).cast("decimal(28,8)")).alias(
                "den"
            ),
        )
        .select(
            "mo",
            "n_parts",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("laspeyres_index"),
        )
    )


_PRICE_INDEX_SQL = """
WITH pm AS (
  SELECT l_partkey AS pk,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
         SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
m0 AS (SELECT MIN(mo) AS mo0 FROM pm),
base AS (
  SELECT pk, CAST(rev AS DOUBLE) / qty AS p0, qty AS q0
  FROM pm, m0 WHERE pm.mo = m0.mo0
),
cur AS (
  SELECT pk, mo, CAST(rev AS DOUBLE) / qty AS pt FROM pm
),
j AS (SELECT cur.mo, cur.pt, base.p0, base.q0
      FROM cur JOIN base ON cur.pk = base.pk)
SELECT mo, COUNT(*)::BIGINT AS n_parts,
       ROUND(CAST(SUM(CAST(pt * q0 AS DECIMAL(28,8))) AS DOUBLE)
             / CAST(SUM(CAST(p0 * q0 AS DECIMAL(28,8))) AS DOUBLE), 6)
         AS laspeyres_index
FROM j GROUP BY 1
"""

register(part_price_index, _PRICE_INDEX_SQL)


def brand_price_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per part brand
    (new r9) — the bivariate-association member of the robust-stats
    family (Theil-Sen slope, Mann-Kendall trend, χ² independence), the
    classic "do bigger orders move on price" merchandising diagnostic.

    Cross-engine exactness: the five moment sums (Σx, Σy, Σxy, Σx²,
    Σy²) are computed in DECIMAL from decimal-cast inputs — exact and
    partial-aggregation-order independent — and the final correlation
    is one identically-ordered double expression on both sides, so the
    only FP ops are the same correctly-rounded divisions/sqrt.

    Scale shape: one fact-scan aggregation shuffled on the join key
    plus the brand groupBy; part joins WITHOUT a broadcast hint
    (SF-scaling table — r9 broadcast policy), Catalyst/AQE picks the
    strategy."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # narrow decimals so the cross-products fit DuckDB's
    # non-widening multiply: qty <= 50 (9,2), price 2dp (12,2);
    # products are (22,4) — exact at any SF reachable by the sums
    x = F.col("l_quantity").cast("decimal(9,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_items"),
        F.round(corr, 6).alias("price_qty_corr"),
    )


_BRAND_CORR_SQL = """
WITH m AS (
  SELECT p_brand,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(9,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
         SUM(CAST(l_quantity AS DECIMAL(9,2))
             * CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_items,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS price_qty_corr
FROM m
"""

register(brand_price_qty_corr, _BRAND_CORR_SQL)


def brand_monthly_rank_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movers-and-shakers leaderboard (new r9): part brands ranked by
    monthly revenue with their rank movement vs the previous month —
    the standard merchandising "what's climbing" report, and the
    rank-dynamics member of the window family (dense_rank over a
    bounded grain + LAG across the time axis).

    Cross-engine exactness: revenue is the decimal-cast sum; ranks are
    integers off the ROUNDED revenue (ties broken by brand) so a
    boundary ulp can't flip an ordering the oracle doesn't see.

    Scale shape: one fact-sized (brand, month) aggregation; everything
    after runs on the bounded brand×calendar grain (two windows on the
    same partitioning)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.date_trunc("month", "l_shipdate").cast("date").alias("mo"),
        )
        .agg(
            # round the EXACT decimal, then cast: a half-cent tie on
            # the double cast rounds differently per engine
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    wrank = Window.partitionBy("mo").orderBy(
        F.col("revenue").desc(), F.col("p_brand")
    )
    wlag = Window.partitionBy("p_brand").orderBy("mo")
    ranked = rev.withColumn("rnk", F.rank().over(wrank)).withColumn(
        "prev_rnk", F.lag("rnk").over(wlag)
    )
    return ranked.select(
        "mo",
        "p_brand",
        "revenue",
        F.col("rnk").cast("long").alias("rnk"),
        (F.col("prev_rnk") - F.col("rnk")).cast("long").alias("rank_gain"),
    )


_RANK_MOVES_SQL = """
WITH rev AS (
  SELECT p_brand,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
         CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
r1 AS (
  SELECT mo, p_brand, revenue,
         RANK() OVER (PARTITION BY mo
                      ORDER BY revenue DESC, p_brand) AS rnk
  FROM rev
),
ranked AS (
  SELECT mo, p_brand, revenue, rnk,
         LAG(rnk) OVER (PARTITION BY p_brand ORDER BY mo) AS prev_rnk
  FROM r1
)
SELECT mo, p_brand, revenue,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(prev_rnk - rnk AS BIGINT) AS rank_gain
FROM ranked
"""

register(brand_monthly_rank_moves, _RANK_MOVES_SQL)


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation
    (new r9): sum of squared revenue shares across a nation's
    suppliers — the market-concentration member of the distribution
    family (Gini = inequality, HHI = concentration), with the standard
    DOJ bands flagged off the ROUNDED statistic.

    Cross-engine exactness: per-supplier revenue is an exact decimal
    sum; shares are double quotients of identical decimals cast to
    double, and the share-squared terms are DECIMAL-cast before the
    final sum (order-independent).

    Scale shape: one fact-scan (supplier) aggregation shuffled on the
    join key, then everything lives on the supplier×nation grain;
    supplier and nation join unhinted per the r9 broadcast policy
    (nation is under threshold and auto-broadcasts)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
            ).alias("rev")
        )
    )
    # single-scan: the nation total is a window over the supplier-grain
    # frame (exact DECIMAL window sum — engine-safe), not an agg⋈agg
    # self-join that would statically re-derive the fact scan
    wn = Window.partitionBy("n_name")
    share = rev.select(
        "n_name",
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(wn).cast("double")
        ).alias("sh"),
    )
    hhi = F.round(
        F.sum((F.col("sh") * F.col("sh")).cast("decimal(28,15)")).cast("double"),
        6,
    )
    return (
        share.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            hhi.alias("hhi"),
        )
        .withColumn(
            "band",
            F.when(F.col("hhi") < 0.15, F.lit("unconcentrated"))
            .when(F.col("hhi") < 0.25, F.lit("moderate"))
            .otherwise(F.lit("high")),
        )
        .orderBy("n_name")
    )


_HHI_SQL = """
WITH rev AS (
  SELECT n_name, s_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
share AS (
  SELECT n_name,
         CAST(rev AS DOUBLE)
           / CAST(SUM(rev) OVER (PARTITION BY n_name) AS DOUBLE) AS sh
  FROM rev
),
agg AS (
  SELECT n_name,
         COUNT(*)::BIGINT AS n_suppliers,
         ROUND(CAST(SUM(CAST(sh * sh AS DECIMAL(28,15))) AS DOUBLE), 6) AS hhi
  FROM share GROUP BY 1
)
SELECT n_name, n_suppliers, hhi,
       CASE WHEN hhi < 0.15 THEN 'unconcentrated'
            WHEN hhi < 0.25 THEN 'moderate'
            ELSE 'high' END AS band
FROM agg ORDER BY n_name
"""

register(nation_supplier_hhi, _HHI_SQL)


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (new r10) — the classic marketing cohort cut:
    per customer, quintile scores on Recency (latest order date),
    Frequency (order count), and Monetary (lifetime spend), combined
    into a cell code and a named segment.  The reference's warehouse
    users run exactly this class of query on the landed orders table.

    Scores use ``curation.exact_ntile`` (distributed NTILE via
    range-partitioned prefix-sum ranks — no single-partition window
    over the customer dimension, which is SF-scaling), chained once
    per measure; ties break on custkey so both engines assign
    identical buckets.  Monetary sums DECIMAL(18,2) before scoring —
    the cross-engine FP-parity rule.

    Scale shape: one orders aggregation (customer-keyed shuffle), then
    three customer-sized range shuffles for the quintile ranks; no
    orders-sized window anywhere."""
    from ..operators.curation import exact_ntile

    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_date"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = exact_ntile(
        base,
        5,
        [F.col("last_date").desc(), F.col("custkey").asc()],
        bucket_col="r_score",
    )
    scored = exact_ntile(
        scored,
        5,
        [F.col("n_orders").desc(), F.col("custkey").asc()],
        bucket_col="f_score",
    )
    scored = exact_ntile(
        scored,
        5,
        [F.col("monetary").desc(), F.col("custkey").asc()],
        bucket_col="m_score",
    )
    seg = (
        F.when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2)
            & (F.col("m_score") <= 2),
            "champions",
        )
        .when(F.col("f_score") <= 2, "loyal")
        .when(F.col("m_score") <= 2, "big_spender")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 3), "at_risk")
        .when(F.col("r_score") >= 4, "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "custkey",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm_cell"),
        seg.alias("segment"),
    )


# NTILE(5) buckets: 1 = best (most recent / most orders / highest
# spend), matching the DESC sort in the Spark path.
_RFM_SQL = """
WITH base AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_date,
         COUNT(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1
),
s AS (
  SELECT custkey,
         NTILE(5) OVER (ORDER BY last_date DESC, custkey) AS r_score,
         NTILE(5) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
  FROM base
)
SELECT custkey, r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_cell,
       CASE
         WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
           THEN 'champions'
         WHEN f_score <= 2 THEN 'loyal'
         WHEN m_score <= 2 THEN 'big_spender'
         WHEN r_score >= 4 AND f_score <= 3 THEN 'at_risk'
         WHEN r_score >= 4 THEN 'hibernating'
         ELSE 'regular'
       END AS segment
FROM s
"""

register(customer_rfm_segments, _RFM_SQL)


def part_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (new r10) —
    the fourth structural statistic on the graph family (with
    connected components, PageRank/k-core, and triangles): the Pearson
    correlation of endpoint degrees over all edges, positive when
    popular parts co-occur with popular parts.

    Cross-engine exactness by construction: every sum in the Pearson
    formula (n, Σx, Σxy, Σx²) is a sum of INTEGER degree products —
    bit-exact in any summation order — computed in DECIMAL(38,0) so
    they stay exact past 2^53 at any SF; only the final closed-form
    division/sqrt touches doubles, identically in both engines.

    Scale shape: one edge-list distinct, one node-degree aggregation,
    two degree joins (key-partitioned), one scalar aggregate.  The
    edge symmetrization doubles the frame instead of running two
    correlated aggregates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "o").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    sym = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    xy = (
        sym.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("dy")),
            "b",
        )
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    return s.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (n * sxy - sx * sx) / (n * sxx - sx * sx), 6
        ).alias("assortativity"),
    )


# The symmetrized frame makes Σx = Σy and Σx² = Σy², so Pearson
# reduces to (nΣxy − (Σx)²) / (nΣx² − (Σx)²); all sums are integer
# (HUGEINT in DuckDB, DECIMAL(38,0) in Spark) so the doubles fed to
# the final division are identical.
_ASSORTATIVITY_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
),
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY 1),
xy AS (
  SELECT dx.d AS x, dy.d AS y
  FROM sym JOIN deg dx ON sym.u = dx.node JOIN deg dy ON sym.v = dy.node
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM xy
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS assortativity
FROM s
"""

register(part_graph_assortativity, _ASSORTATIVITY_SQL)


def orders_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and winsorized mean order price per priority class
    (new r10) — the robust-location companions to the MAD/weighted-
    median family: the trimmed mean drops each tail's bottom/top
    ``cnt div 10`` rows, the winsorized mean CLAMPS them to the
    boundary order's price.  Rank-based (row_number over
    (price, orderkey)), NOT percentile-interpolation-based, so both
    engines pick identical boundary rows — no percentile_cont
    interpolation drift.  The winsorized sum is derived arithmetically
    as trimmed_sum + lo·low_boundary + lo·high_boundary, all in
    DECIMAL(18,2), so only the final mean division touches doubles.

    Scale shape: one priority-partitioned window (bounded partitions:
    5 priority classes — acceptable because each class still spreads
    over the orders shuffle; for open-keyed groups this would be
    curation.global_rank per group), one aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy("price", "o_orderkey")
    wc = Window.partitionBy("priority")
    r = (
        o.withColumn("rk", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .withColumn("lo", F.expr("cnt div 10"))
    )
    agg = r.groupBy("priority").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max(F.when(F.col("rk") == F.col("lo") + 1, F.col("price"))).alias(
            "lo_val"
        ),
        F.max(
            F.when(F.col("rk") == F.col("cnt") - F.col("lo"), F.col("price"))
        ).alias("hi_val"),
        F.sum(
            F.when(
                (F.col("rk") > F.col("lo"))
                & (F.col("rk") <= F.col("cnt") - F.col("lo")),
                F.col("price"),
            )
        ).alias("tsum"),
        F.max("lo").cast("long").alias("lo_n"),
    )
    tn = F.col("n") - 2 * F.col("lo_n")
    wsum = (
        F.col("tsum")
        + F.col("lo_n") * F.col("lo_val")
        + F.col("lo_n") * F.col("hi_val")
    )
    return agg.select(
        "priority",
        "n",
        F.round(F.col("tsum").cast("double") / tn, 4).alias("trimmed_mean"),
        F.round(wsum.cast("double") / F.col("n"), 4).alias("winsor_mean"),
    )


_TRIMMED_MEAN_SQL = """
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         o_orderkey
  FROM orders
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY price, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY priority) AS cnt
  FROM o
),
r2 AS (SELECT *, cnt // 10 AS lo FROM r),
agg AS (
  SELECT priority,
         CAST(MAX(cnt) AS BIGINT) AS n,
         MAX(CASE WHEN rk = lo + 1 THEN price END) AS lo_val,
         MAX(CASE WHEN rk = cnt - lo THEN price END) AS hi_val,
         SUM(CASE WHEN rk > lo AND rk <= cnt - lo THEN price END) AS tsum,
         CAST(MAX(lo) AS BIGINT) AS lo_n
  FROM r2 GROUP BY 1
)
SELECT priority, n,
       ROUND(CAST(tsum AS DOUBLE) / (n - 2 * lo_n), 4) AS trimmed_mean,
       ROUND(CAST(tsum + lo_n * lo_val + lo_n * hi_val AS DOUBLE) / n, 4)
         AS winsor_mean
FROM agg
"""

register(orders_trimmed_mean_price, _TRIMMED_MEAN_SQL)


def brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand (new r10): the
    slope of ln(monthly quantity) on ln(monthly mean unit price) —
    the economics companion of ``brand_price_qty_corr`` (direction
    only) and ``part_price_index`` (price level only): HOW MUCH does
    volume move per 1% price move.

    Cross-engine exactness: the monthly unit price is ROUNDED on the
    double quotient of exact decimal sums before LN, so both engines
    take logs of identical doubles; each per-month OLS term
    (x, y, xy, x²) is DECIMAL-cast before the per-brand sum (the
    weekday-chi² per-cell idiom) and the slope is the closed form on
    those exact sums.

    Scale shape: one fact⋈part join on the partkey shuffle key, one
    (brand, month) aggregation; the OLS runs on the bounded
    brand×calendar frame."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("month")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias(
                "rev"
            ),
        )
        .select(
            "p_brand",
            F.log(
                F.round(
                    F.col("rev").cast("double") / F.col("qty").cast("double"),
                    6,
                )
            ).alias("x"),
            F.log(F.col("qty").cast("double")).alias("y"),
        )
    )
    terms = m.select(
        "p_brand",
        F.col("x").cast("decimal(28,12)").alias("cx"),
        F.col("y").cast("decimal(28,12)").alias("cy"),
        (F.col("x") * F.col("y")).cast("decimal(28,12)").alias("cxy"),
        (F.col("x") * F.col("x")).cast("decimal(28,12)").alias("cxx"),
    )
    s = terms.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cx").alias("sx"),
        F.sum("cy").alias("sy"),
        F.sum("cxy").alias("sxy"),
        F.sum("cxx").alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return s.select(
        F.col("p_brand").alias("brand"),
        F.col("n").cast("long").alias("n_months"),
        F.round(
            (n * sxy - sx * sy) / (n * sxx - sx * sx), 6
        ).alias("elasticity"),
    ).orderBy("brand")


_ELASTICITY_SQL = """
WITH m AS (
  SELECT p.p_brand,
         date_trunc('month', l.l_shipdate) AS month,
         SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS qty,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
xy AS (
  SELECT p_brand,
         LN(ROUND(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE), 6)) AS x,
         LN(CAST(qty AS DOUBLE)) AS y
  FROM m
),
terms AS (
  SELECT p_brand,
         CAST(x AS DECIMAL(28,12)) AS cx, CAST(y AS DECIMAL(28,12)) AS cy,
         CAST(x * y AS DECIMAL(28,12)) AS cxy,
         CAST(x * x AS DECIMAL(28,12)) AS cxx
  FROM xy
),
s AS (
  SELECT p_brand, COUNT(*) AS n, SUM(cx) AS sx, SUM(cy) AS sy,
         SUM(cxy) AS sxy, SUM(cxx) AS sxx
  FROM terms GROUP BY 1
)
SELECT p_brand AS brand, CAST(n AS BIGINT) AS n_months,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS elasticity
FROM s ORDER BY 1
"""

register(brand_price_elasticity, _ELASTICITY_SQL)


def part_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the part co-purchase
    graph (new r10): ``2·triangles(v) / (deg(v)·(deg(v)−1))`` — how
    clique-like each part's neighborhood is, the NODE-level refinement
    of the global ``part_cooccurrence_triangles`` count and the local
    companion of ``part_graph_assortativity``.

    Triangle enumeration uses DEGREE-ORDERED orientation (each
    undirected edge points from the lexicographically smaller
    ``(deg, node)`` endpoint), so every triangle is emitted exactly
    once from a wedge whose center's out-degree is O(√E) — the
    hub-skew-proof bound of ``operators/graph.triangle_count``, kept
    in-plan here because each of the triangle's three nodes needs the
    credit.  All arithmetic is integer until the final rounded ratio.

    Scale shape: one per-order self-join (bounded by items-per-order²
    per order), one degree aggregation, one wedge join capped by the
    orientation bound, one closing semi-join, one credit aggregation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "o").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = F.col("da") <= F.col("db")  # tie → a (a < b by construction)
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"),
    )
    # r10 optimization (guide §2.3/§2.4): triangle enumeration switched
    # from the wedge join + closing semi-join (materializes Σ outdeg²
    # wedge ROWS through a shuffle, then shuffles them again for the
    # semi) to the EDGE-ITERATOR form — each oriented edge (s,t)
    # intersects the two O(√E)-capped out-neighbor ARRAYS, emitting
    # only actual triangles.  Set-identical output: w ∈ N⁺(s)∩N⁺(t)
    # ⇔ (s→t, s→w, t→w) ⇔ the wedge (s;t,w) closed by t→w, and each
    # triangle has exactly one such source edge, so `tri` holds the
    # same (s,t,w) triples and every count downstream is the same
    # INTEGER.  Measured at sf0.1: execution 17→3.4 s (adjacency
    # frame auto-broadcasts under the threshold at bench SF; at scale
    # it key-partitions — both strategy choices left to Catalyst).
    adj = o.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    tri = (
        o.join(adj.select(F.col("s"), F.col("nbrs").alias("ns")), "s")
        .join(adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nt")), "t")
        .select(
            "s",
            F.col("t").alias("v"),
            F.explode(F.array_intersect("ns", "nt")).alias("w"),
        )
    )
    credits = (
        tri.select(F.col("s").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(credits, "node", "left")
        .select(
            F.col("node").alias("partkey"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("d").cast("double") * (F.col("d") - 1)),
                    6,
                ),
            ).alias("lcc"),
        )
    )


_LCC_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY 1
),
o AS (
  SELECT CASE WHEN da.d <= db.d THEN e.u ELSE e.v END AS s,
         CASE WHEN da.d <= db.d THEN e.v ELSE e.u END AS t,
         CASE WHEN da.d <= db.d THEN db.d ELSE da.d END AS dt
  FROM e JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node
),
tri AS (
  SELECT e1.s, e1.t AS v, e2.t AS w
  FROM o e1 JOIN o e2
    ON e1.s = e2.s
   AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.s = e1.t AND e3.t = e2.t)
),
credits AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT s AS node FROM tri
    UNION ALL SELECT v AS node FROM tri
    UNION ALL SELECT w AS node FROM tri
  ) GROUP BY 1
)
SELECT deg.node AS partkey,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(c.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.d >= 2
            THEN ROUND(2.0 * COALESCE(c.triangles, 0)
                       / (CAST(deg.d AS DOUBLE) * (deg.d - 1)), 6)
       END AS lcc
FROM deg LEFT JOIN credits c ON deg.node = c.node
"""

register(part_clustering_coefficient, _LCC_SQL)


def part_item_cf_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering recommendations (new r10):
    cosine similarity between parts over their CUSTOMER purchase sets
    (``co/√(n_i·n_j)``), top-5 recommendations for each of the 20
    most-purchased parts — the classic "customers who bought this
    also bought" recommender, the personalization complement of the
    global ``part_affinity_pmi``/``part_association_rules`` rules.

    Cross-engine exactness: every input to the cosine is an exact
    integer customer count, so the doubles are identical; ranking is
    by ``(ROUND(cos,6) DESC, co DESC, partkey)`` — the rounded-score
    tie-break idiom of the retrieval family.

    Scale shape: one fact⋈orders join on the orderkey shuffle key,
    one distinct, one per-customer self-join bounded by each
    customer's item count (linear in customers at fixed basket
    width), the focus set via TakeOrdered (never a global window),
    and a row_number over the 20 bounded candidate lists."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ui = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    cnt = ui.groupBy("i").agg(F.count(F.lit(1)).alias("n"))
    x = ui.select("c", F.col("i").alias("ia"))
    y = ui.select("c", F.col("i").alias("ib"))
    co = (
        x.join(y, "c")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    sym = co.unionAll(
        co.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"), "co")
    )
    focus = cnt.orderBy(F.col("n").desc(), F.col("i").asc()).limit(20)
    cand = (
        sym.join(focus.select(F.col("i").alias("ia"), F.col("n").alias("na")), "ia")
        .join(cnt.select(F.col("i").alias("ib"), F.col("n").alias("nb")), "ib")
        .filter(F.col("co") >= 2)
        .withColumn(
            "cosine",
            F.round(
                F.col("co")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ),
        )
    )
    w = Window.partitionBy("ia").orderBy(
        F.col("cosine").desc(), F.col("co").desc(), F.col("ib").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("ia").alias("item"),
            F.col("na").cast("long").alias("item_users"),
            F.col("ib").alias("rec"),
            F.col("nb").cast("long").alias("rec_users"),
            F.col("co").cast("long").alias("co_users"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_ITEM_CF_SQL = """
WITH ui AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cnt AS (SELECT i, COUNT(*) AS n FROM ui GROUP BY 1),
co AS (
  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS co
  FROM ui a JOIN ui b ON a.c = b.c AND a.i < b.i
  GROUP BY 1, 2
),
sym AS (
  SELECT ia, ib, co FROM co
  UNION ALL SELECT ib AS ia, ia AS ib, co FROM co
),
focus AS (SELECT i, n FROM cnt ORDER BY n DESC, i LIMIT 20),
cand AS (
  SELECT s.ia, f.n AS na, s.ib, c2.n AS nb, s.co,
         ROUND(s.co / SQRT(CAST(f.n AS DOUBLE) * c2.n), 6) AS cosine
  FROM sym s
  JOIN focus f ON s.ia = f.i
  JOIN cnt c2 ON s.ib = c2.i
  WHERE s.co >= 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
                               ORDER BY cosine DESC, co DESC, ib) AS rank
  FROM cand
)
SELECT ia AS item, CAST(na AS BIGINT) AS item_users,
       ib AS rec, CAST(nb AS BIGINT) AS rec_users,
       CAST(co AS BIGINT) AS co_users, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

register(part_item_cf_recs, _ITEM_CF_SQL)


_ALS_ROUNDS = 3
_ALS_LAMBDA = 0.1


def _als_solve(joined: DataFrame, key: str, f1: str, f2: str) -> DataFrame:
    """One ALS half-step: per-``key`` ridge solve of the 2×2 normal
    equations ``(FᵀF + λI)x = Fᵀr`` in closed form.  Every moment is a
    DECIMAL-cast term sum (order-independent) and the solved factors
    are ROUND(12)-pinned, so both engines iterate identical doubles."""
    d = F.col
    terms = joined.select(
        key,
        (d(f1) * d(f1)).cast("decimal(28,12)").alias("t11"),
        (d(f1) * d(f2)).cast("decimal(28,12)").alias("t12"),
        (d(f2) * d(f2)).cast("decimal(28,12)").alias("t22"),
        (d(f1) * d("r")).cast("decimal(28,12)").alias("tb1"),
        (d(f2) * d("r")).cast("decimal(28,12)").alias("tb2"),
    )
    m = terms.groupBy(key).agg(
        (F.sum("t11").cast("double") + _ALS_LAMBDA).alias("a11"),
        F.sum("t12").cast("double").alias("a12"),
        (F.sum("t22").cast("double") + _ALS_LAMBDA).alias("a22"),
        F.sum("tb1").cast("double").alias("b1"),
        F.sum("tb2").cast("double").alias("b2"),
    )
    det = d("a11") * d("a22") - d("a12") * d("a12")
    return m.select(
        key,
        F.round((d("a22") * d("b1") - d("a12") * d("b2")) / det, 12).alias("x1"),
        F.round((d("a11") * d("b2") - d("a12") * d("b1")) / det, 12).alias("x2"),
    )


def brand_als_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 ALS matrix factorization of the customer×brand quantity
    matrix (new r10) — the MODEL-BASED recommender next to the
    memory-based ``part_item_cf_recs``: alternating ridge solves of
    the 2×2 normal equations per entity, the collaborative-filtering
    shape of Koren/Hu-style implicit-feedback factorization at the
    smallest honest rank.  Output: per-brand latent factors and
    training RMSE after 3 unrolled rounds.

    Fixed-round determinism (the Markov/HITS/Lloyd unroll convention):
    brand factors init from the portable md5→[−0.5,0.5) hash, every
    half-step's moments are DECIMAL-cast term sums, each solve is the
    closed-form 2×2 inverse on identical doubles, and factors are
    ROUND(12)-pinned per half-step — the oracle replays all 6 solves
    as CTEs.

    Scale shape: the ratings frame (one fact⋈orders⋈part aggregation)
    is lineage-cut once (the PageRank edge-frame economics); each
    half-step is ONE key-partitioned join+agg — user solves shuffle on
    custkey, brand solves on brand; factor frames are entity-sized,
    never collected (the 2×2 algebra runs IN-PLAN — no driver-side
    linear algebra, unlike MLlib's ALS blocks at this rank)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("r")
        )
        .localCheckpoint(eager=True)  # re-scanned by all 6 half-steps;
        # EAGER on purpose: lazy checkpoints race 32 tasks into
        # recomputing unmaterialized partitions (measured 2.8x solo)
    )
    q = ratings.select("brand").distinct().select(
        "brand",
        F.lit(1.0).alias("q1"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("als#"), F.col("brand"))), 1, 8),
                16,
                10,
            ).cast("double")
            / F.lit(4294967296.0)
            - F.lit(0.5)
        ).alias("q2"),
    )
    pfac = None
    for _ in range(_ALS_ROUNDS):
        pfac = _als_solve(
            ratings.join(q, "brand"), "custkey", "q1", "q2"
        ).select(
            "custkey", F.col("x1").alias("p1"), F.col("x2").alias("p2")
        ).localCheckpoint(eager=True)
        q = _als_solve(
            ratings.join(pfac, "custkey"), "brand", "p1", "p2"
        ).select(
            "brand", F.col("x1").alias("q1"), F.col("x2").alias("q2")
        ).localCheckpoint(eager=True)
    scored = (
        ratings.join(pfac, "custkey")
        .join(q, "brand")
        .select(
            "brand",
            (
                (F.col("r") - (F.col("p1") * F.col("q1") + F.col("p2") * F.col("q2")))
                * (F.col("r") - (F.col("p1") * F.col("q1") + F.col("p2") * F.col("q2")))
            )
            .cast("decimal(28,12)")
            .alias("se"),
        )
    )
    return (
        scored.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raters"),
            F.round(
                F.sqrt(F.sum("se").cast("double") / F.count(F.lit(1))), 6
            ).alias("rmse"),
        )
        .join(q, "brand")
        .select(
            "brand",
            "n_raters",
            F.round("q1", 6).alias("q1"),
            F.round("q2", 6).alias("q2"),
            "rmse",
        )
        .orderBy("brand")
    )


def _als_sql() -> str:
    solve = """
{out} AS MATERIALIZED (
  SELECT {key},
         ROUND((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 12) AS x1,
         ROUND((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 12) AS x2
  FROM (
    SELECT {key},
           CAST(SUM(CAST({f1} * {f1} AS DECIMAL(28,12))) AS DOUBLE)
             + CAST(0.1 AS DOUBLE) AS a11,
           CAST(SUM(CAST({f1} * {f2} AS DECIMAL(28,12))) AS DOUBLE) AS a12,
           CAST(SUM(CAST({f2} * {f2} AS DECIMAL(28,12))) AS DOUBLE)
             + CAST(0.1 AS DOUBLE) AS a22,
           CAST(SUM(CAST({f1} * r AS DECIMAL(28,12))) AS DOUBLE) AS b1,
           CAST(SUM(CAST({f2} * r AS DECIMAL(28,12))) AS DOUBLE) AS b2
    FROM ratings JOIN {factors} USING ({joinkey})
    GROUP BY {key}
  )
)"""
    parts = ["""
WITH ratings AS MATERIALIZED (
  SELECT o.o_custkey AS custkey, p.p_brand AS brand,
         CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS r
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
q0 AS MATERIALIZED (
  SELECT brand, CAST(1.0 AS DOUBLE) AS q1,
         CAST(concat('0x', substr(md5('als#' || brand), 1, 8)) AS UBIGINT)
           / 4294967296.0 - CAST(0.5 AS DOUBLE) AS q2
  FROM (SELECT DISTINCT brand FROM ratings)
)"""]
    for i in range(1, _ALS_ROUNDS + 1):
        parts.append("," + solve.format(
            out=f"praw{i}", key="custkey", f1="q1", f2="q2",
            factors=(
                f"(SELECT brand, x1 AS q1, x2 AS q2 FROM qraw{i - 1})"
                if i > 1 else "q0"
            ),
            joinkey="brand",
        ))
        parts.append("," + solve.format(
            out=f"qraw{i}", key="brand", f1="p1", f2="p2",
            factors=f"(SELECT custkey, x1 AS p1, x2 AS p2 FROM praw{i})",
            joinkey="custkey",
        ))
    parts.append(f"""
SELECT q.brand,
       CAST(COUNT(*) AS BIGINT) AS n_raters,
       ROUND(q.x1, 6) AS q1,
       ROUND(q.x2, 6) AS q2,
       ROUND(SQRT(CAST(SUM(CAST((rt.r - (pf.x1 * q.x1 + pf.x2 * q.x2))
                                * (rt.r - (pf.x1 * q.x1 + pf.x2 * q.x2))
                                AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*)), 6) AS rmse
FROM ratings rt
JOIN praw{_ALS_ROUNDS} pf ON rt.custkey = pf.custkey
JOIN qraw{_ALS_ROUNDS} q ON rt.brand = q.brand
GROUP BY q.brand, q.x1, q.x2
ORDER BY 1
""")
    return "".join(parts)


register(brand_als_factors, _als_sql())


def customer_hazard_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over customer inter-order gaps
    (new r10) — the estimator TWIN of ``customer_survival_km``: where
    KM multiplies survival factors, Nelson-Aalen SUMS the per-bin
    hazard increments ``d_i/n_i``, is defined even when a bin empties
    the risk set, and ``exp(−H)`` gives the Fleming-Harrington
    survival estimate that should track the KM curve.

    Same duration/censoring machinery as KM (LEAD per customer,
    right-censor at the corpus max date, week bins); the per-bin
    increment is DECIMAL-cast before the ordered cumulative window so
    DuckDB's segment-tree and Spark's sequential window sums agree
    bit-for-bit (the t-closeness cumsum lesson).

    Scale shape: one customer-partitioned window + one bin groupBy;
    the ordered hazard pass runs over the BIN-GRAIN frame (bounded by
    max-duration/7 rows at any SF — the documented KM tiny-frame
    exception to the no-unpartitioned-window rule)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    dur = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.lead("o_orderdate").over(w).alias("nxt"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.when(
                F.col("nxt").isNotNull(),
                F.datediff("nxt", "o_orderdate"),
            )
            .otherwise(F.datediff("maxd", "o_orderdate"))
            .alias("dur"),
            F.col("nxt").isNotNull().cast("int").alias("event"),
        )
    )
    b = dur.groupBy(
        F.floor(F.col("dur") / F.lit(7.0)).cast("bigint").alias("t_week")
    ).agg(
        F.sum("event").alias("n_events"),
        F.sum(F.lit(1) - F.col("event")).alias("n_censored"),
    )
    wall = Window.orderBy("t_week").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wprev = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, 0)
    r = b.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(wall)
        - F.coalesce(
            F.sum(F.col("n_events") + F.col("n_censored")).over(wprev),
            F.lit(0),
        ),
    ).withColumn(
        "inc",
        (F.col("n_events").cast("double") / F.col("n_risk"))
        .cast("decimal(28,12)"),
    )
    out = r.withColumn("ch", F.sum("inc").over(wc).cast("double"))
    return out.select(
        "t_week",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        F.round("ch", 6).alias("cum_hazard"),
        F.round(F.exp(-F.col("ch")), 6).alias("surv_na"),
    ).orderBy("t_week")


_HAZARD_NA_SQL = """
WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
dur AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN DATE_DIFF('day', o_orderdate, nxt)
              ELSE DATE_DIFF('day', o_orderdate, maxd) END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (
    SELECT o_custkey, o_orderdate,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS nxt
    FROM orders
  ), maxd
),
b AS (
  SELECT CAST(FLOOR(dur / 7.0) AS BIGINT) AS t_week,
         SUM(event) AS n_events,
         SUM(1 - event) AS n_censored
  FROM dur GROUP BY 1
),
r AS (
  SELECT *,
         SUM(n_events + n_censored) OVER ()
           - COALESCE(SUM(n_events + n_censored)
                        OVER (ORDER BY t_week
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_risk
  FROM b
),
h AS (
  SELECT *,
         CAST(SUM(CAST(CAST(n_events AS DOUBLE) / n_risk
                       AS DECIMAL(28,12)))
                OVER (ORDER BY t_week
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS ch
  FROM r
)
SELECT t_week,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       ROUND(ch, 6) AS cum_hazard,
       ROUND(EXP(-ch), 6) AS surv_na
FROM h ORDER BY 1
"""

register(customer_hazard_na, _HAZARD_NA_SQL)


def part_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier of the part catalog (new r10):
    the parts no buyer can strictly improve on — no other part is both
    cheaper (retail price) and larger (size).  The multi-objective
    complement of the single-axis top-k family, via
    ``operators/stats.skyline_2d``'s range-partitioned prefix-max (the
    scale-correct formulation — the cost-grain frame never lands on
    one task).

    Exactness: price is DECIMAL-cast once on both engines before any
    comparison, so dominance tests are exact; no floats are produced.

    Scale shape: one cost-grain aggregation + one range shuffle of
    that frame + a partition-count² offsets self-join + one equi-join
    back to the catalog scan."""
    from ..operators.stats import skyline_2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
        F.col("p_size").alias("size"),
    )
    return skyline_2d(p, "price", "size").select(
        "p_partkey",
        "p_brand",
        # dominance compares ran on the exact decimal; the OUTPUT cell
        # goes out as double (a Spark Decimal cell pandas-lands as
        # object vs DuckDB's float64 — the json_funcs dtype lesson)
        F.col("price").cast("double").alias("price"),
        F.col("size").cast("int").alias("size"),
    )


_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, p_brand,
         CAST(p_retailprice AS DECIMAL(12,2)) AS price,
         p_size AS size
  FROM part
)
SELECT p_partkey, p_brand, CAST(price AS DOUBLE) AS price,
       CAST(size AS INT) AS size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size)
)
"""

register(part_skyline_price_size, _SKYLINE_SQL)


def array_zip_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface (new r10): per order, the
    line quantities and prices are collected into ``l_linenumber``-
    sorted arrays, combined with ``zip_with`` (elementwise product),
    folded with ``aggregate`` into a DECIMAL-exact total, and probed
    with ``array_max``/``size``/``exists`` — the arrays-of-structs
    HOF row next to ``map_struct_funcs``'s map HOFs.  All HOFs are
    whole-stage-codegen expressions; the fold accumulates DECIMAL so
    Spark's in-array order and DuckDB's aggregate order agree exactly.

    Scale shape: one orderkey aggregation; arrays are bounded by lines
    per order (≤7 in TPC-H at any SF)."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))
        ).alias("lines")
    )
    qty = F.transform(F.col("lines"), lambda s: s["l_quantity"])
    price = F.transform(F.col("lines"), lambda s: s["l_extendedprice"])
    prods = F.zip_with(
        qty, price, lambda q, p: (q * p).cast("decimal(28,6)")
    )
    total = F.aggregate(
        prods,
        F.lit(0).cast("decimal(28,6)"),
        # aggregate() requires merge-out type == zero type; decimal
        # addition widens (28,6)+(28,6) -> (29,6), so re-pin the scale
        lambda acc, x: (acc + x).cast("decimal(28,6)"),
    )
    return per_order.select(
        "orderkey",
        F.size("lines").cast("int").alias("n_lines"),
        F.array_max(qty).alias("max_qty"),
        F.exists(qty, lambda q: q >= 50).alias("has_bulk_line"),
        F.round(total.cast("double"), 2).alias("qty_weighted_total"),
    )


_ARRAY_ZIP_SQL = """
SELECT l_orderkey AS orderkey,
       CAST(COUNT(*) AS INT) AS n_lines,
       MAX(l_quantity) AS max_qty,
       BOOL_OR(l_quantity >= 50) AS has_bulk_line,
       ROUND(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE), 2) AS qty_weighted_total
FROM lineitem
GROUP BY 1
"""

register(array_zip_funcs, _ARRAY_ZIP_SQL)


def customer_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (new r10): does the BUILDING market segment
    re-order at a different tempo than everyone else?  Runs the
    standard two-group log-rank over the same right-censored
    inter-order gap frame as ``customer_survival_km`` — per week bin
    the observed group-1 events are compared to their hypergeometric
    expectation ``d_j * n1_j / n_j`` and the Mantel-Haenszel variance
    accumulates ``d_j (n1_j/n_j)(1-n1_j/n_j)(n_j-d_j)/(n_j-1)``; the
    chi-square is ``U^2/V`` with 1 dof compared to 3.8415 (both sides
    ROUNDED, the boundary-tie rule).  The survival-curve COMPARISON
    member of the survival family (KM estimates one curve,
    Nelson-Aalen its hazard; log-rank decides whether two differ).

    Scale shape: one per-customer LEAD window, one bin-grain groupBy
    pivoted to per-group columns, then ordered windows over the
    BIN-GRAIN frame (bounded by the calendar span / 7 regardless of
    SF — the documented KM bound) and a 1-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("g1"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    dur = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.lead("o_orderdate").over(w).alias("nxt"),
        )
        .join(c, "o_custkey")
        .crossJoin(F.broadcast(maxd))
        .select(
            F.when(
                F.col("nxt").isNotNull(), F.datediff("nxt", "o_orderdate")
            )
            .otherwise(F.datediff("maxd", "o_orderdate"))
            .alias("dur"),
            F.col("nxt").isNotNull().cast("int").alias("event"),
            "g1",
        )
    )
    b = dur.groupBy(
        F.floor(F.col("dur") / F.lit(7.0)).cast("bigint").alias("t_week")
    ).agg(
        F.sum(F.col("event") * F.col("g1")).alias("d1"),
        F.sum("event").alias("d"),
        F.sum("g1").alias("x1"),
        F.count(F.lit(1)).alias("x"),
    )
    wprev = Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("t_week").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = b.select(
        "t_week",
        "d1",
        "d",
        (
            F.sum("x1").over(wall) - F.coalesce(F.sum("x1").over(wprev), F.lit(0))
        ).alias("n1"),
        (
            F.sum("x").over(wall) - F.coalesce(F.sum("x").over(wprev), F.lit(0))
        ).alias("n"),
    ).filter(F.col("d") > 0)
    term_u = F.col("d1") - F.col("d") * F.col("n1") / F.col("n")
    term_v = (
        F.col("d")
        * (F.col("n1") / F.col("n"))
        * (1 - F.col("n1") / F.col("n"))
        * (F.col("n") - F.col("d"))
        / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
    )
    agg = r.agg(
        F.sum("d1").cast("bigint").alias("events_g1"),
        (F.sum("d") - F.sum("d1")).cast("bigint").alias("events_g0"),
        F.sum(term_u).alias("u"),
        F.sum(term_v).alias("v"),
    )
    chi2 = F.round(F.col("u") * F.col("u") / F.nullif(F.col("v"), F.lit(0.0)), 4)
    return agg.select(
        "events_g1",
        "events_g0",
        F.round("u", 4).alias("observed_minus_expected"),
        F.round("v", 4).alias("variance"),
        chi2.alias("chi2"),
        F.coalesce(chi2 > 3.8415, F.lit(False)).alias("significant"),
    )


_LOGRANK_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
m AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
dur AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate, maxd) END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
  FROM o JOIN customer ON c_custkey = o_custkey, m
),
b AS (
  SELECT CAST(FLOOR(dur / 7.0) AS BIGINT) AS t_week,
         SUM(event * g1) AS d1, SUM(event) AS d,
         SUM(g1) AS x1, COUNT(*) AS x
  FROM dur GROUP BY 1
),
r AS (
  SELECT t_week, d1, d,
         SUM(x1) OVER () - COALESCE(SUM(x1) OVER (
           ORDER BY t_week ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS n1,
         SUM(x) OVER () - COALESCE(SUM(x) OVER (
           ORDER BY t_week ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS n
  FROM b
),
agg AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS events_g1,
         CAST(SUM(d) - SUM(d1) AS BIGINT) AS events_g0,
         SUM(d1 - d * n1 * 1.0 / n) AS u,
         SUM(d * (n1 * 1.0 / n) * (1 - n1 * 1.0 / n) * (n - d)
             / NULLIF(CAST(n - 1 AS DOUBLE), 0)) AS v
  FROM r WHERE d > 0
)
SELECT events_g1, events_g0,
       ROUND(u, 4) AS observed_minus_expected,
       ROUND(v, 4) AS variance,
       ROUND(u * u / NULLIF(v, 0), 4) AS chi2,
       COALESCE(ROUND(u * u / NULLIF(v, 0), 4) > 3.8415, FALSE)
         AS significant
FROM agg
"""

register(customer_logrank_test, _LOGRANK_SQL)


def nation_weekly_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (new r10): per nation, does weekly
    order VOLUME move with weekly revenue?  The rank-based
    (monotone-association) member of the correlation family next to
    Pearson ``brand_price_qty_corr`` — robust to the heavy-tailed
    revenue distribution because only ranks enter the estimate.
    Tied weeks take AVERAGE (midrank) fractional ranks via
    ``RANK() + (tie_count - 1)/2`` — identical arithmetic on both
    engines — and revenue ties are made exact by ranking the
    DECIMAL-cast weekly sum (never a float).  Spearman rho is then
    Pearson ``corr`` of the two midrank columns.

    Scale shape: one (nation, week) aggregation over the orders ⨝
    customer ⨝ nation star; the rank windows partition BY NATION over
    week-grain frames (bounded by the calendar span, ~25 × ~400 rows
    at any SF); one per-nation corr aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    wk = (
        o.join(c, "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .groupBy(
            "n_name",
            F.weekofyear("o_orderdate").alias("_wk"),
            F.year("o_orderdate").alias("_yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )
    )
    wn = Window.partitionBy("n_name")
    # DOUBLED midranks stay integral (rank + (ties-1)/2 halves), so all
    # correlation sums below are exact bigints; rho is scale-invariant.
    ranked = wk.select(
        "n_name",
        (
            2 * F.rank().over(wn.orderBy("n_orders"))
            + F.count(F.lit(1)).over(wn.partitionBy("n_name", "n_orders"))
            - 1
        ).alias("x"),
        (
            2 * F.rank().over(wn.orderBy("rev"))
            + F.count(F.lit(1)).over(wn.partitionBy("n_name", "rev"))
            - 1
        ).alias("y"),
    )
    s = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n_weeks") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n_weeks") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        "n_name",
        "n_weeks",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("spearman_rho"),
    ).orderBy("n_name")


_SPEARMAN_SQL = """
WITH wk AS (
  SELECT n_name, week(o_orderdate) AS _wk, year(o_orderdate) AS _yr,
         COUNT(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT n_name,
         2 * RANK() OVER (PARTITION BY n_name ORDER BY n_orders)
           + COUNT(*) OVER (PARTITION BY n_name, n_orders) - 1 AS x,
         2 * RANK() OVER (PARTITION BY n_name ORDER BY rev)
           + COUNT(*) OVER (PARTITION BY n_name, rev) - 1 AS y
  FROM wk
),
s AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_weeks,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM ranked GROUP BY 1
)
SELECT n_name, n_weeks,
       ROUND(CAST(n_weeks * sxy - sx * sy AS DOUBLE)
             / NULLIF(SQRT(CAST(n_weeks * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n_weeks * syy - sy * sy AS DOUBLE)), 0), 6)
         AS spearman_rho
FROM s ORDER BY 1
"""

register(nation_weekly_spearman, _SPEARMAN_SQL)


def orders_cmh_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test (new r10): does URGENT/HIGH order
    priority associate with RETURNED lines (l_returnflag = 'R'),
    CONTROLLING for ship year?  The stratified 2×2 member of the
    hypothesis-test family — the calendar confounds both priority mix
    and returns, so the marginal chi-square (``events_weekday_chi2``'s
    shape) would be Simpson-vulnerable; CMH pools the per-stratum
    evidence instead.  Continuity-corrected ``(|U|-0.5)²/V`` against
    the 1-dof 3.8415 critical value, both sides ROUNDED (the
    boundary-tie rule).  All margins are exact integers; only the
    final ratio is floating point.

    Scale shape: one lineitem⨝orders join (both SF-scaling — the join
    shuffles on orderkey and Catalyst/AQE picks the strategy, no
    hints), one stratum-grain aggregation (|ship years| = 7 rows), one
    1-row rollup."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.year("l_shipdate").alias("ship_year"),
        (F.col("l_returnflag") == "R").cast("int").alias("late"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("exposed"),
    )
    strata = (
        li.join(o, "l_orderkey")
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("exposed").alias("r1"),
            F.sum("late").alias("c1"),
            F.sum(F.col("exposed") * F.col("late")).alias("a"),
        )
        .filter(F.col("n") > 1)
    )
    u_term = F.col("a") - F.col("r1") * F.col("c1") / F.col("n")
    v_term = (
        F.col("r1")
        * (F.col("n") - F.col("r1"))
        * F.col("c1")
        * (F.col("n") - F.col("c1"))
        / (
            F.col("n").cast("double")
            * F.col("n")
            * (F.col("n") - 1)
        )
    )
    agg = strata.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("exposed_late"),
        F.sum(u_term).alias("u"),
        F.sum(v_term).alias("v"),
    )
    chi2 = F.round(
        (F.abs(F.col("u")) - 0.5)
        * (F.abs(F.col("u")) - 0.5)
        / F.nullif(F.col("v"), F.lit(0.0)),
        4,
    )
    return agg.select(
        "n_strata",
        "exposed_late",
        F.round("u", 4).alias("observed_minus_expected"),
        F.round("v", 4).alias("variance"),
        chi2.alias("chi2_cmh"),
        F.coalesce(chi2 > 3.8415, F.lit(False)).alias("significant"),
    )


_CMH_SQL = """
WITH s AS (
  SELECT year(l_shipdate) AS ship_year, COUNT(*) AS n,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END) AS r1,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS a
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1 HAVING COUNT(*) > 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(a) AS BIGINT) AS exposed_late,
         SUM(a - r1 * c1 * 1.0 / n) AS u,
         SUM(r1 * (n - r1) * c1 * (n - c1)
             / (CAST(n AS DOUBLE) * n * (n - 1))) AS v
  FROM s
)
SELECT n_strata, exposed_late,
       ROUND(u, 4) AS observed_minus_expected,
       ROUND(v, 4) AS variance,
       ROUND((ABS(u) - 0.5) * (ABS(u) - 0.5) / NULLIF(v, 0), 4) AS chi2_cmh,
       COALESCE(ROUND((ABS(u) - 0.5) * (ABS(u) - 0.5) / NULLIF(v, 0), 4)
                > 3.8415, FALSE) AS significant
FROM agg
"""

register(orders_cmh_returns, _CMH_SQL)


def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (new r10):
    each high-balance customer's three priciest orders, through the
    ``spark.sql`` surface — the LATERAL row of the subquery family
    (EXISTS/IN/scalar already covered).  Catalyst decorrelates the
    per-row limit into a ranked window under a DomainJoin, so the
    declarative form compiles to the same shuffle shape as the manual
    ``topk_per_group`` window — asserted by the unit test comparing
    both formulations row-for-row.

    Scale shape: one customer-filtered join against orders (AQE picks
    the strategy), one per-customer top-3 — no driver loops, no
    collects; the filter prunes the probe side before the join."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_acctbal > 9000
        """
    )


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
WHERE c.c_acctbal > 9000
"""

register(lateral_topk_orders, _LATERAL_TOPK_SQL)


def nation_weekly_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (new r10): the pairwise-concordance member of the
    correlation family, per nation over the same (week, year) grain as
    ``nation_weekly_spearman`` — tau counts agreeing vs disagreeing
    week PAIRS, so a single blowout week moves it by at most 1/n0
    (Spearman squares its rank gap).  Tie-corrected tau-b with the
    concordant/discordant/tie counts all EXACT integers; only the
    final ratio is floating point.

    Scale shape: the pair space is the per-nation self-join of the
    CALENDAR-BOUNDED week-grain frame (~400² / 2 pairs per nation at
    any SF — bounded by construction, the Theil-Sen precedent), never
    a pair join over raw orders."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    wk = (
        o.join(c, "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .groupBy(
            "n_name",
            F.weekofyear("o_orderdate").alias("wk"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
        )
        .withColumn(
            "i", F.col("yr") * 100 + F.col("wk")
        )
    )
    a = wk.select("n_name", F.col("i").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = wk.select("n_name", F.col("i").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, "n_name").filter(F.col("ia") < F.col("ib"))
    dx = F.signum(F.col("xb") - F.col("xa"))
    dy = F.signum((F.col("yb") - F.col("ya")).cast("double"))
    agg = pairs.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum((dx * dy > 0).cast("long")).cast("bigint").alias("concordant"),
        F.sum((dx * dy < 0).cast("long")).cast("bigint").alias("discordant"),
        F.sum(((dx == 0) & (dy != 0)).cast("long")).alias("tx"),
        F.sum(((dy == 0) & (dx != 0)).cast("long")).alias("ty"),
        F.sum(((dx == 0) & (dy == 0)).cast("long")).alias("txy"),
    )
    den = F.sqrt(
        (F.col("n0") - F.col("tx") - F.col("txy")).cast("double")
        * (F.col("n0") - F.col("ty") - F.col("txy")).cast("double")
    )
    return agg.select(
        "n_name",
        "n0",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.nullif(den, F.lit(0.0)),
            6,
        ).alias("tau_b"),
    ).orderBy("n_name")


_KENDALL_SQL = """
WITH wk AS (
  SELECT n_name, year(o_orderdate) * 100 + week(o_orderdate) AS i,
         COUNT(*) AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.n_name,
         SIGN(b.x - a.x) AS dx,
         SIGN(CAST(b.y - a.y AS DOUBLE)) AS dy
  FROM wk a JOIN wk b ON a.n_name = b.n_name AND a.i < b.i
),
agg AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant,
         SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS tx,
         SUM(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS ty,
         SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS txy
  FROM pairs GROUP BY 1
)
SELECT n_name, n0, concordant, discordant,
       ROUND((concordant - discordant)
             / NULLIF(SQRT(CAST(n0 - tx - txy AS DOUBLE)
                           * CAST(n0 - ty - txy AS DOUBLE)), 0), 6) AS tau_b
FROM agg ORDER BY 1
"""

register(nation_weekly_kendall, _KENDALL_SQL)


def groupby_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL through the spark.sql surface (new r10) — the
    every-non-aggregated-column grouping shorthand both engines added
    (Spark 3.4, DuckDB 0.6), the last ungoverned corner of the
    delegated GROUP BY matrix (explicit lists, ordinals, ROLLUP /
    CUBE / GROUPING SETS are covered).  Semantics are identical to the
    explicit list, asserted by the unit test against the DataFrame
    formulation."""
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT year(o_orderdate) AS yr, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS revenue
        FROM orders
        GROUP BY ALL
        ORDER BY yr, o_orderpriority
        """
    )


_GROUPBY_ALL_SQL = """
SELECT year(o_orderdate) AS yr, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders
GROUP BY ALL
ORDER BY yr, o_orderpriority
"""

register(groupby_all_revenue, _GROUPBY_ALL_SQL)


def lineitem_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA with interaction (new r10): do return flag and
    line status move extended price independently?  The factorial
    member of the hypothesis-test family (``events_anova_value_by_type``
    is one-way) computed from cell sufficient
    statistics only — the proportional-frequencies decomposition
    ``SS_A = Q_A − CM``, ``SS_B = Q_B − CM``, ``SS_AB = Q_cell − Q_A −
    Q_B + CM`` where every Q is a ``Σ(grain_sum²/grain_n)`` — so the
    fact table is scanned ONCE and everything after is a ≤|A|·|B|-row
    frame.  (Exact for balanced/proportional layouts; documented
    approximation for the mildly unbalanced TPC-H cells.)  Cell sums accumulate as
    exact decimals; F ratios are judged against Wilson-Hilferty
    95th-percentile chi-square/dof approximations with DERIVED dofs.

    Scale shape: one (flag, status) cell aggregation; marginal and
    grand frames are rollups of the bounded cell frame; 1-row out."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(20,2)")).alias("s"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(30,4)"
            )
        ).alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def grain(*keys):
        g = cells.groupBy(*keys) if keys else cells.groupBy()
        return g.agg(
            F.sum("n").alias("n"), F.sum("s").alias("s")
        ).agg(
            F.sum(d("s") * d("s") / F.col("n")).alias("q"),
        )
    q_cell = cells.agg(F.sum(d("s") * d("s") / F.col("n")).alias("q_cell"))
    q_a = grain("l_returnflag").select(F.col("q").alias("q_a"))
    q_b = grain("l_linestatus").select(F.col("q").alias("q_b"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.countDistinct("l_returnflag").cast("bigint").alias("ka"),
        F.countDistinct("l_linestatus").cast("bigint").alias("kb"),
    )
    j = (
        tot.crossJoin(q_cell)
        .crossJoin(q_a)
        .crossJoin(q_b)
        .withColumn("cm", d("s_tot") * d("s_tot") / F.col("n_tot"))
    )
    ss_a = F.col("q_a") - F.col("cm")
    ss_b = F.col("q_b") - F.col("cm")
    ss_ab = F.col("q_cell") - F.col("q_a") - F.col("q_b") + F.col("cm")
    ss_err = d("ss_tot") - F.col("q_cell")
    df_a = F.col("ka") - 1
    df_b = F.col("kb") - 1
    df_ab = F.col("n_cells") - F.col("ka") - F.col("kb") + 1
    df_err = F.col("n_tot") - F.col("n_cells")
    mse = ss_err / df_err

    def crit(dof):
        dd = dof.cast("double")
        return dd * F.pow(
            1.0 - 2.0 / (9.0 * dd) + 1.6449 * F.sqrt(2.0 / (9.0 * dd)), 3.0
        ) / dd  # chi2_crit/dof ~ F crit for large df_err

    out = j.select(
        F.col("n_tot"),
        F.round(ss_a / df_a / mse, 4).alias("f_returnflag"),
        F.round(ss_b / df_b / mse, 4).alias("f_linestatus"),
        F.round(ss_ab / F.nullif(df_ab.cast("double"), F.lit(0.0)) / mse, 4).alias(
            "f_interaction"
        ),
        F.round(crit(df_a), 4).alias("crit_a"),
        F.round(crit(df_b), 4).alias("crit_b"),
        F.round(crit(F.greatest(df_ab, F.lit(1))), 4).alias("crit_ab"),
    )
    return out.select(
        "n_tot",
        "f_returnflag",
        "f_linestatus",
        "f_interaction",
        (F.col("f_returnflag") > F.col("crit_a")).alias("sig_returnflag"),
        (F.col("f_linestatus") > F.col("crit_b")).alias("sig_linestatus"),
        F.coalesce(
            F.col("f_interaction") > F.col("crit_ab"), F.lit(False)
        ).alias("sig_interaction"),
    )


_TWO_WAY_ANOVA_SQL = """
WITH cells AS (
  SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS s,
         SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS ss
  FROM lineitem GROUP BY 1, 2
),
qc AS (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS q_cell
       FROM cells),
qa AS (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS q_a FROM (
        SELECT a, SUM(n) AS n, SUM(s) AS s FROM cells GROUP BY 1)),
qb AS (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS q_b FROM (
        SELECT b, SUM(n) AS n, SUM(s) AS s FROM cells GROUP BY 1)),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot, SUM(s) AS s_tot,
         SUM(ss) AS ss_tot,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
  FROM cells
),
j AS (
  SELECT tot.*, q_cell, q_a, q_b,
         CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n_tot AS cm
  FROM tot, qc, qa, qb
),
f AS (
  SELECT n_tot,
         ROUND((q_a - cm) / (ka - 1)
               / ((CAST(ss_tot AS DOUBLE) - q_cell) / (n_tot - n_cells)), 4)
           AS f_returnflag,
         ROUND((q_b - cm) / (kb - 1)
               / ((CAST(ss_tot AS DOUBLE) - q_cell) / (n_tot - n_cells)), 4)
           AS f_linestatus,
         ROUND((q_cell - q_a - q_b + cm)
               / NULLIF(CAST(n_cells - ka - kb + 1 AS DOUBLE), 0)
               / ((CAST(ss_tot AS DOUBLE) - q_cell) / (n_tot - n_cells)), 4)
           AS f_interaction,
         ROUND((ka - 1) * POW(1.0 - 2.0 / (9.0 * (ka - 1))
               + 1.6449 * SQRT(2.0 / (9.0 * (ka - 1))), 3) / (ka - 1), 4)
           AS crit_a,
         ROUND((kb - 1) * POW(1.0 - 2.0 / (9.0 * (kb - 1))
               + 1.6449 * SQRT(2.0 / (9.0 * (kb - 1))), 3) / (kb - 1), 4)
           AS crit_b,
         ROUND(GREATEST(n_cells - ka - kb + 1, 1)
               * POW(1.0 - 2.0 / (9.0 * GREATEST(n_cells - ka - kb + 1, 1))
               + 1.6449 * SQRT(2.0 / (9.0 * GREATEST(n_cells - ka - kb + 1, 1))), 3)
               / GREATEST(n_cells - ka - kb + 1, 1), 4) AS crit_ab
  FROM j
)
SELECT n_tot, f_returnflag, f_linestatus, f_interaction,
       f_returnflag > crit_a AS sig_returnflag,
       f_linestatus > crit_b AS sig_linestatus,
       COALESCE(f_interaction > crit_ab, FALSE) AS sig_interaction
FROM f
"""

register(lineitem_two_way_anova, _TWO_WAY_ANOVA_SQL)


def orders_calendar_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension ⨝ fact rollup (new r10): a date
    dimension SYNTHESIZED in-plan with ``sequence``/``explode`` from
    the fact's own min/max — the generate-series source surface the
    reference's warehouse model assumes exists — left-joined to daily
    order counts so zero-order days appear (the gap-aware calendar the
    LOCF/gap-fill family needs upstream).  Calendar attributes use the
    engine-portable forms: isodow via ``weekday()+1``, ISO week via
    ``weekofyear``, month-end via ``last_day`` equality.

    Scale shape: the dim is calendar-bounded by construction (one
    1-row min/max aggregate exploded to ~2.4k rows); the fact side is
    one day-grain count aggregation; the join is dim-sized."""
    o = _t(spark, sf_dir, "orders")
    # the fixture stores o_orderdate as TIMESTAMP (midnight); the dim is
    # DATE-grained, so cast before sequence/explode — DuckDB's oracle
    # emits DATE and the strict test canon keeps the dtypes distinct
    span = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    dim = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    ).select(
        "day",
        (F.weekday("day") + 1).cast("int").alias("isodow"),
        F.weekofyear("day").cast("int").alias("iso_week"),
        F.month("day").cast("int").alias("month"),
        F.quarter("day").cast("int").alias("quarter"),
        (F.last_day("day") == F.col("day")).alias("is_month_end"),
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        dim.join(daily, "day", "left")
        .select(
            "day",
            "isodow",
            "iso_week",
            "month",
            "quarter",
            "is_month_end",
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        )
        .orderBy("day")
    )


_CALENDAR_DIM_SQL = """
WITH span AS (
  SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1 FROM orders
),
dim AS (
  SELECT CAST(g.day AS DATE) AS day FROM span,
         LATERAL (SELECT UNNEST(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS day) g
),
daily AS (
  SELECT o_orderdate AS day, COUNT(*) AS n_orders FROM orders GROUP BY 1
)
SELECT dim.day,
       CAST(isodow(dim.day) AS INT) AS isodow,
       CAST(week(dim.day) AS INT) AS iso_week,
       CAST(month(dim.day) AS INT) AS month,
       CAST(quarter(dim.day) AS INT) AS quarter,
       last_day(dim.day) = dim.day AS is_month_end,
       CAST(COALESCE(daily.n_orders, 0) AS BIGINT) AS n_orders
FROM dim LEFT JOIN daily ON daily.day = dim.day
ORDER BY dim.day
"""

register(orders_calendar_dim_join, _CALENDAR_DIM_SQL)


def part_mode_size_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (new r10): the most common part size per
    brand with an explicit (count DESC, size ASC) tie-break — the
    engines' native ``mode()`` aggregates leave ties unspecified, so
    the portable form is the argmax over the (brand, size) count frame
    that both engines order identically.  Emits the modal size, its
    count, and its share of the brand.

    Scale shape: one (brand, size) aggregation; the ranking window
    runs over the |brands|×|sizes|-bounded count frame."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part")
    counts = p.groupBy("p_brand", "p_size").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), "p_size")
    wtot = Window.partitionBy("p_brand")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("tot", F.sum("n").over(wtot))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("p_size").cast("int").alias("mode_size"),
            F.col("n").cast("bigint").alias("n_mode"),
            F.round(F.col("n") / F.col("tot"), 6).alias("mode_share"),
        )
        .orderBy("p_brand")
    )


_MODE_SIZE_SQL = """
WITH c AS (
  SELECT p_brand, p_size, COUNT(*) AS n FROM part GROUP BY 1, 2
),
r AS (
  SELECT p_brand, p_size, n,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY n DESC, p_size) AS rn,
         SUM(n) OVER (PARTITION BY p_brand) AS tot
  FROM c
)
SELECT p_brand, CAST(p_size AS INT) AS mode_size,
       CAST(n AS BIGINT) AS n_mode,
       ROUND(n * 1.0 / tot, 6) AS mode_share
FROM r WHERE rn = 1 ORDER BY p_brand
"""

register(part_mode_size_by_brand, _MODE_SIZE_SQL)


def part_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest same-spec substitute (new r10): for every part, the
    lowest-priced part of the SAME type and size from a DIFFERENT
    brand, with the saving — the recommendation-flavored self-join the
    catalog surface was missing (top-k ranks within a group;
    substitutes rank within an ATTRIBUTE-equivalence class and exclude
    the row's own brand).  Computed without a pairwise join: rank the
    (type, size) class once, keep ranks 1-2 of DISTINCT brands, and
    resolve each member against the best other-brand row.

    Exactness: prices compare as DECIMAL; ties break on partkey.

    Scale shape: one window over (type, size) classes (bounded member
    count per class at any SF — class COUNT scales, size doesn't),
    one broadcast-eligible join of the 2-rows-per-class leaders frame
    back to the catalog."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
    )
    w = Window.partitionBy("p_type", "p_size").orderBy("price", "p_partkey")
    ranked = p.withColumn("rn", F.row_number().over(w))
    leaders = ranked.filter(F.col("rn") <= 2).select(
        "p_type",
        "p_size",
        F.col("p_brand").alias("l_brand"),
        F.col("p_partkey").alias("l_partkey"),
        F.col("price").alias("l_price"),
        "rn",
    )
    best = (
        p.join(leaders, ["p_type", "p_size"])
        .filter(F.col("l_brand") != F.col("p_brand"))
        .withColumn(
            "pick",
            F.row_number().over(
                Window.partitionBy("p_partkey").orderBy(
                    "l_price", "l_partkey"
                )
            ),
        )
        .filter(F.col("pick") == 1)
    )
    return best.select(
        "p_partkey",
        "p_brand",
        F.col("l_partkey").alias("substitute_partkey"),
        F.col("l_brand").alias("substitute_brand"),
        (F.col("price") - F.col("l_price"))
        .cast("double")
        .alias("saving"),
    ).orderBy("p_partkey")


_SUBSTITUTES_SQL = """
WITH p AS (
  SELECT p_partkey, p_brand, p_type, p_size,
         CAST(p_retailprice AS DECIMAL(12,2)) AS price
  FROM part
),
leaders AS (
  SELECT p_type, p_size, p_brand AS l_brand, p_partkey AS l_partkey,
         price AS l_price,
         ROW_NUMBER() OVER (PARTITION BY p_type, p_size
                            ORDER BY price, p_partkey) AS rn
  FROM p
),
best AS (
  SELECT p.p_partkey, p.p_brand, l.l_partkey, l.l_brand,
         CAST(p.price - l.l_price AS DOUBLE) AS saving,
         ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                            ORDER BY l.l_price, l.l_partkey) AS pick
  FROM p JOIN leaders l
    ON l.p_type = p.p_type AND l.p_size = p.p_size
   AND l.l_brand <> p.p_brand AND l.rn <= 2
)
SELECT p_partkey, p_brand, l_partkey AS substitute_partkey,
       l_brand AS substitute_brand, saving
FROM best WHERE pick = 1 ORDER BY p_partkey
"""

register(part_substitutes, _SUBSTITUTES_SQL)


def window_nth_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / first_value / last_value IGNORE NULLS surface (new
    r10): per customer over the order history, the first and second
    order prices, the most recent NON-AUTOMATIC priority seen so far
    (``last_value IGNORE NULLS`` over a running frame — the LOCF
    shape applied to a dimension), and the final price — the window
    rows the ranking/analytic matrix was missing.

    Scale shape: windows partition by customer (bounded ~10 orders per
    customer at any SF); deterministic (date, key) ordering."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    urgent = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.col("o_orderpriority"),
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first(price).over(wrun).cast("double").alias("first_price"),
        F.nth_value(price, 2).over(wrun).cast("double").alias("second_price"),
        F.last(urgent, ignorenulls=True).over(wrun).alias(
            "last_urgent_priority"
        ),
        F.last(price).over(wall).cast("double").alias("final_price"),
    ).orderBy("o_custkey", "o_orderkey")


_NTH_IGNORE_NULLS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(FIRST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_run
            AS DOUBLE) AS first_price,
       CAST(NTH_VALUE(CAST(o_totalprice AS DECIMAL(18,2)), 2) OVER w_run
            AS DOUBLE) AS second_price,
       LAST_VALUE(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN o_orderpriority END IGNORE NULLS) OVER w_run
         AS last_urgent_priority,
       CAST(LAST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_all
            AS DOUBLE) AS final_price
FROM orders
WINDOW
  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_all AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""

register(window_nth_ignore_nulls, _NTH_IGNORE_NULLS_SQL)


def part_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory segmentation (new r10): parts classed by
    revenue concentration (A = the heads covering 80% of cumulative
    revenue, B to 95%, C the tail) CROSSED with demand variability
    (X: monthly-quantity CV ≤ 0.5, Y ≤ 1.0, Z above) — the classic
    planning matrix.  The revenue cumshare runs through
    ``operators/curation.global_cumsum`` (range-partitioned prefix
    sum) over the PART-GRAIN frame, so the global ordering never
    lands on one task; CV comes from exact per-month integer quantity
    sums.  Emits the 9-cell matrix with part counts and revenue share.

    Scale shape: one lineitem aggregation to part grain, the
    global_cumsum range shuffle over that frame, one bounded 9-cell
    rollup."""
    from ..operators.curation import global_cumsum

    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(20,4)"
            )
        ).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(24,4)")
        ).alias("sqq"),
        F.countDistinct(F.trunc(F.col("l_shipdate"), "month")).alias(
            "n_months"
        ),
    )
    tot = per_part.agg(F.sum("rev").alias("rt"))
    ranked = global_cumsum(
        per_part.withColumn("neg_rev", -F.col("rev")),
        key=["neg_rev", "l_partkey"],
        value_col="rev",
        out_col="cum_rev",
    )
    mu = F.col("sq").cast("double") / F.col("n_months")
    var = F.col("sqq").cast("double") / F.col("n_months") - mu * mu
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mu
    share = F.col("cum_rev").cast("double") / F.col("rt").cast("double")
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc"),
        F.when(cv <= 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z")
        .alias("xyz"),
        "rev",
        "rt",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                (F.sum("rev") / F.max("rt")).cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )


_ABC_XYZ_SQL = """
WITH pp AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)))
           AS rev,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,4))) AS sqq,
         COUNT(DISTINCT date_trunc('month', l_shipdate)) AS n_months
  FROM lineitem GROUP BY 1
),
t AS (SELECT SUM(rev) AS rt FROM pp),
r AS (
  SELECT pp.*,
         SUM(rev) OVER (ORDER BY -rev, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM pp
),
c AS (
  SELECT CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(rt AS DOUBLE) <= 0.8
              THEN 'A'
              WHEN CAST(cum_rev AS DOUBLE) / CAST(rt AS DOUBLE) <= 0.95
              THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN SQRT(GREATEST(CAST(sqq AS DOUBLE) / n_months
                  - (CAST(sq AS DOUBLE) / n_months)
                    * (CAST(sq AS DOUBLE) / n_months), 0))
                  / (CAST(sq AS DOUBLE) / n_months) <= 0.5 THEN 'X'
              WHEN SQRT(GREATEST(CAST(sqq AS DOUBLE) / n_months
                  - (CAST(sq AS DOUBLE) / n_months)
                    * (CAST(sq AS DOUBLE) / n_months), 0))
                  / (CAST(sq AS DOUBLE) / n_months) <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz,
         rev, rt
  FROM r, t
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(rev) / MAX(rt) AS DOUBLE), 6) AS revenue_share
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""

register(part_abc_xyz, _ABC_XYZ_SQL)
