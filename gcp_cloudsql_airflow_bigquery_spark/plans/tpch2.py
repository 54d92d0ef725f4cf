"""TPC-H shapes Q8/Q9/Q11/Q12/Q16/Q17/Q20/Q22 adapted to the fixture
star schema, completing the 22-query suite (the rest live in
:mod:`.tpch`, :mod:`.relational`, :mod:`.advanced`).

The fixture lacks ``partsupp``, ``l_shipmode``, ``l_commitdate`` /
``l_receiptdate``, ``p_container``, ``p_mfgr`` and ``c_phone``; each
query documents its substitution.  The JOIN / AGG / subquery structure —
the part that exercises the engine — is preserved exactly.

Scale notes (100 TB): every query here keeps the single big-fact scan
shape — dims broadcast, one shuffle for the group-by; scalar "global
total" subqueries are computed as 1-row broadcast joins, never
``collect()``; correlated per-group thresholds (Q17) are window
functions over the same partitioning as the join key so no extra
shuffle is introduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register

_DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _rev_col() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: fraction of EUROPE-market STANDARD-part
    revenue supplied by NATION_5, per order year.  Market = customer's
    region; share nation = supplier's nation (TPC-H Q8 verbatim shape,
    p_type equality standing in for 'ECONOMY ANODIZED STEEL')."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n_cust = _t(spark, sf_dir, "nation").alias("n1")
    n_supp = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    base = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_cust), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n_supp), s.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev_col().alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("volume"))
                    .otherwise(F.lit(0).cast(_DEC))
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) t
GROUP BY o_year ORDER BY o_year
"""


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × order year over 'red' parts.  The
    fixture has no ``ps_supplycost``; cost is proxied as
    ``0.6 * p_retailprice * l_quantity`` (same expression tree:
    revenue minus a per-part unit cost times quantity)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    n = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(_DEC)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q9_SQL = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose inventory value for NATION_3 suppliers exceeds a
    fraction of the nation's total (Q11 HAVING-vs-global-scalar shape).
    ``partsupp`` is absent, so value = sum(l_extendedprice * l_quantity)
    over shipped lineitems — same grouped-sum vs broadcast-scalar
    structure.  The scalar total is a 1-row cross join (broadcast by
    AQE), not a driver collect."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (F.col("l_extendedprice") * F.col("l_quantity")).cast(_DEC)
    base = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("l_partkey"), val.alias("val"))
    )
    per_part = base.groupBy("l_partkey").agg(
        F.sum("val").cast("double").alias("part_value")
    )
    total = base.agg((F.sum("val").cast("double") * 0.001).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


_Q11_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS part_value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) * 0.001
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
ORDER BY part_value DESC, l_partkey
"""


def q12_shipping_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment priority split.  ``l_shipmode`` / receipt dates are
    absent: the two mode classes become ``l_linestatus`` and "received
    late" becomes shipped >60 days after order date.  The
    conditional-count (CASE-sum) split by priority class is verbatim."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size) excluding an
    anti-joined supplier set (negative balance stands in for the
    'Customer Complaints' comment filter; lineitem pairs stand in for
    partsupp)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(
            bad_supp,
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost to small orders: lineitems of one
    brand/type whose quantity is below 20% of that part's average.  The
    correlated per-part AVG is a window over ``l_partkey`` — Catalyst
    reuses the join-output rows, no second lineitem scan or extra
    shuffle beyond the window's own (p_container → p_type='SMALL')."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    j = li.join(p, li.l_partkey == p.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        j.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_7 who moved >50 units of 'blue' parts during
    1997 (Q20's nested-IN chain; partsupp availability becomes shipped
    quantity).  Inner aggregate → semi-join → dim filter, all
    broadcastable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("blue"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    movers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
        .orderBy("s_name", "s_suppkey")
    )


_Q20_SQL = """
SELECT s_name, s_suppkey
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'blue%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 50)
ORDER BY s_name, s_suppkey
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich customers with no orders, grouped by a code digit (the last
    digit of ``c_name`` stands in for the phone country code).  Both
    Q22 subqueries survive: scalar AVG over positive balances
    (broadcast 1-row join) and anti-join against orders — restricted to
    recent orders (>= 2000-07-01) so the no-orders set is non-empty on
    the fixture, where every customer has some historical order."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring(F.col("c_name"), -1, 1)
    )
    codes = c.filter(F.col("cntrycode").isin("1", "3", "5", "7", "9"))
    avg_bal = codes.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    )
    return (
        codes.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, codes.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


_Q22_SQL = """
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM (
  SELECT SUBSTRING(c_name, LENGTH(c_name), 1) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE SUBSTRING(c_name, LENGTH(c_name), 1) IN ('1','3','5','7','9')
    AND c_acctbal > (
      SELECT AVG(c_acctbal) FROM customer
      WHERE c_acctbal > 0
        AND SUBSTRING(c_name, LENGTH(c_name), 1) IN ('1','3','5','7','9'))
) t
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = t.c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY cntrycode ORDER BY cntrycode
"""


register(q8_market_share, _Q8_SQL)
register(q9_product_type_profit, _Q9_SQL)
register(q11_important_stock, _Q11_SQL)
register(q12_shipping_priority_class, _Q12_SQL)
register(q16_parts_supplier_relationship, _Q16_SQL)
register(q17_small_quantity_revenue, _Q17_SQL)
register(q20_potential_promotion, _Q20_SQL)
register(q22_global_sales_opportunity, _Q22_SQL)

