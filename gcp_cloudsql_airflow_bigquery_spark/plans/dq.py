"""Data-quality gate queries: declarative constraint reports over the
landed extracts (``operators/validate.py``).

The reference loads extracts with no value validation (schema
sanitization only, reference ``dags/cloudsql_to_bigquery.py:141``);
these queries are the landing contract a warehouse should check before
anything downstream runs.  Shape at scale: one aggregate pass per fact
table — null/domain/range/unique checks fold into the same agg, and
referential checks ride it too via a LEFT dimension join (broadcast
for true dims; the fact never re-scans per check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import validate as V
from . import register


def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing contract for ``orders``: null/range/domain/unique checks
    plus the ``o_custkey → customer`` referential check, all in ONE
    aggregate over one broadcast-joined scan of orders."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("dim_custkey")
    )
    joined = orders.join(
        customer,
        orders.o_custkey == F.col("dim_custkey"),
        "left",
    )
    return V.report(
        joined,
        [
            V.not_null("o_orderkey"),
            V.not_null("o_orderdate"),
            V.in_range("o_totalprice", 0, 1e9),
            V.in_set("o_orderstatus", ["F", "O", "P"]),
            V.in_range(
                "o_orderdate", "1992-01-01", "1998-12-31",
                name="o_orderdate_bounds",
            ),
            V.Check(
                "o_custkey_referential",
                F.col("o_custkey").isNotNull()
                & F.col("dim_custkey").isNull(),
            ),
        ],
        unique=[["o_orderkey"]],
    )


_DQ_ORDERS_SQL = """
WITH j AS (
  SELECT o.*, c.c_custkey AS dim_custkey
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT 'o_orderkey_not_null' AS check_name,
       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)::BIGINT AS violations,
       COUNT(*)::BIGINT AS n_rows FROM j
UNION ALL
SELECT 'o_orderdate_not_null',
       COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'o_totalprice_range',
       COUNT(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 1e9)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'o_orderstatus_domain',
       COUNT(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('F', 'O', 'P')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'o_orderdate_bounds',
       COUNT(CASE WHEN o_orderdate IS NOT NULL
                   AND (o_orderdate < '1992-01-01'
                        OR o_orderdate > '1998-12-31')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'o_custkey_referential',
       COUNT(CASE WHEN o_custkey IS NOT NULL AND dim_custkey IS NULL
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'o_orderkey_unique',
       (COUNT(*) - COUNT(DISTINCT o_orderkey))::BIGINT,
       COUNT(*)::BIGINT FROM j
"""


def dq_lineitem_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing contract for ``lineitem``: range/date-coherence checks
    plus the big-fact referential check ``l_orderkey → orders`` — a
    shuffle join at scale (orders is not broadcastable), still one
    pass over each side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("dim_orderkey")
    )
    joined = li.join(
        orders, li.l_orderkey == F.col("dim_orderkey"), "left"
    )
    return V.report(
        joined,
        [
            V.not_null("l_orderkey"),
            V.in_range("l_quantity", 1, 50),
            V.in_range("l_discount", 0.0, 0.10),
            V.in_set("l_returnflag", ["A", "N", "R"]),
            V.in_set("l_linestatus", ["F", "O"]),
            V.Check(
                "l_orderkey_referential",
                F.col("l_orderkey").isNotNull()
                & F.col("dim_orderkey").isNull(),
            ),
        ],
    )


_DQ_LINEITEM_SQL = """
WITH j AS (
  SELECT l.*, o.o_orderkey AS dim_orderkey
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'l_orderkey_not_null' AS check_name,
       COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END)::BIGINT AS violations,
       COUNT(*)::BIGINT AS n_rows FROM j
UNION ALL
SELECT 'l_quantity_range',
       COUNT(CASE WHEN l_quantity IS NOT NULL
                   AND (l_quantity < 1 OR l_quantity > 50)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'l_discount_range',
       COUNT(CASE WHEN l_discount IS NOT NULL
                   AND (l_discount < 0.0 OR l_discount > 0.10)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'l_returnflag_domain',
       COUNT(CASE WHEN l_returnflag IS NOT NULL
                   AND l_returnflag NOT IN ('A', 'N', 'R')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'l_linestatus_domain',
       COUNT(CASE WHEN l_linestatus IS NOT NULL
                   AND l_linestatus NOT IN ('F', 'O')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
UNION ALL
SELECT 'l_orderkey_referential',
       COUNT(CASE WHEN l_orderkey IS NOT NULL AND dim_orderkey IS NULL
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM j
"""


def dq_documents_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing contract for the north-star ``documents`` corpus (new
    r6): null/unique checks, the declared-vs-actual length coherence
    check (``n_chars`` must equal ``length(text)`` — the first thing a
    re-encoded or truncated landing breaks), a lang domain check, and
    a source naming-convention check — one aggregate pass, same shape
    as the fact-table gates."""
    docs = load_table(spark, sf_dir, "documents")
    return V.report(
        docs,
        [
            V.not_null("doc_id"),
            V.not_null("text"),
            V.in_set("lang", ["en", "de", "es", "fr", "zh"]),
            V.matches("source", "^src[0-9]+$"),
            V.Check(
                "n_chars_coherent",
                F.col("n_chars").isNotNull()
                & (F.col("n_chars") != F.length("text")),
            ),
            V.in_range("n_chars", 0, 100_000),
        ],
        unique=[["doc_id"]],
    )


_DQ_DOCUMENTS_SQL = """
SELECT 'doc_id_not_null' AS check_name,
       COUNT(CASE WHEN doc_id IS NULL THEN 1 END)::BIGINT AS violations,
       COUNT(*)::BIGINT AS n_rows FROM documents
UNION ALL
SELECT 'text_not_null',
       COUNT(CASE WHEN text IS NULL THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM documents
UNION ALL
SELECT 'lang_domain',
       COUNT(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM documents
UNION ALL
SELECT 'source_format',
       COUNT(CASE WHEN source IS NOT NULL
                   AND NOT regexp_matches(source, '^src[0-9]+$')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM documents
UNION ALL
SELECT 'n_chars_coherent',
       COUNT(CASE WHEN n_chars IS NOT NULL AND n_chars <> LENGTH(text)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM documents
UNION ALL
SELECT 'n_chars_range',
       COUNT(CASE WHEN n_chars IS NOT NULL
                   AND (n_chars < 0 OR n_chars > 100000)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM documents
UNION ALL
SELECT 'doc_id_unique',
       (COUNT(*) - COUNT(DISTINCT doc_id))::BIGINT,
       COUNT(*)::BIGINT FROM documents
"""


# Calendar window the events fixture is generated inside (TESTDATA.md:
# all ts fall in 2024).  FIXTURE-COUPLED by design, like
# doc_dedup_keep_best_quality's quality weights: a regenerated fixture
# with a different year must update this constant alongside, or the
# gate itself reports violations (ADVICE r6).  Shared by the Spark
# check and the DuckDB oracle below so the two can never drift apart;
# tests/test_validate.py::test_events_ts_bounds_constants_match_fixture
# asserts every fixture SF's actual ts span falls inside this window,
# so a regenerated fixture fails fast there (VERDICT r7 #6).
_EVENTS_TS_LO = "2024-01-01"
_EVENTS_TS_HI = "2025-01-01"  # exclusive


def dq_events_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing contract for the ``events`` stream (new r6): null
    checks on the identity/time/actor columns, the type domain, value
    and timestamp range gates, and event-id uniqueness — one aggregate
    pass, completing the per-table DQ gates (orders / lineitem /
    documents / events).  The ts_bounds window comes from the shared
    ``_EVENTS_TS_LO/_HI`` constants (fixture-calendar coupling
    documented there)."""
    ev = load_table(spark, sf_dir, "events")
    return V.report(
        ev,
        [
            V.not_null("event_id"),
            V.not_null("ts"),
            V.not_null("user_id"),
            V.in_set(
                "event_type",
                ["click", "view", "purchase", "signup", "error"],
            ),
            V.in_range("value", 0, 1e6),
            V.Check(
                "ts_bounds",
                F.col("ts").isNotNull()
                & (
                    (F.col("ts") < F.lit(_EVENTS_TS_LO).cast("timestamp"))
                    | (F.col("ts") >= F.lit(_EVENTS_TS_HI).cast("timestamp"))
                ),
            ),
        ],
        unique=[["event_id"]],
    )


_DQ_EVENTS_SQL = f"""
SELECT 'event_id_not_null' AS check_name,
       COUNT(CASE WHEN event_id IS NULL THEN 1 END)::BIGINT AS violations,
       COUNT(*)::BIGINT AS n_rows FROM events
UNION ALL
SELECT 'ts_not_null',
       COUNT(CASE WHEN ts IS NULL THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM events
UNION ALL
SELECT 'user_id_not_null',
       COUNT(CASE WHEN user_id IS NULL THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM events
UNION ALL
SELECT 'event_type_domain',
       COUNT(CASE WHEN event_type IS NOT NULL
                   AND event_type NOT IN
                       ('click', 'view', 'purchase', 'signup', 'error')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM events
UNION ALL
SELECT 'value_range',
       COUNT(CASE WHEN value IS NOT NULL
                   AND (value < 0 OR value > 1e6)
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM events
UNION ALL
SELECT 'ts_bounds',
       COUNT(CASE WHEN ts IS NOT NULL
                   AND (ts < TIMESTAMP '{_EVENTS_TS_LO}'
                        OR ts >= TIMESTAMP '{_EVENTS_TS_HI}')
             THEN 1 END)::BIGINT,
       COUNT(*)::BIGINT FROM events
UNION ALL
SELECT 'event_id_unique',
       (COUNT(*) - COUNT(DISTINCT event_id))::BIGINT,
       COUNT(*)::BIGINT FROM events
"""


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk gate (new r7) over the customer extract:
    k-anonymity of the (nation, account-balance band) quasi-identifier
    with ``c_mktsegment`` as the sensitive attribute — for each k in
    {2, 5, 10, 25}, how many equivalence classes (and what row
    fraction) are smaller than k, plus the worst l-diversity among the
    at-risk classes.  The privacy counterpart of the landing contracts
    above: a corpus built from user-derived rows should not ship
    singleton QI classes.  The balance band is ``FLOOR(bal / 1000)`` —
    IEEE floor on a double is bit-identical across engines (a plain
    double→int cast is NOT: DuckDB rounds, Spark truncates); scale
    shape is two stacked hash aggregations (QI classes, then one
    single-row rollup) — see
    :func:`operators.privacy.k_anonymity_report`."""
    from ..operators import privacy

    customer = load_table(spark, sf_dir, "customer")
    banded = customer.withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / F.lit(1000.0))
    )
    return privacy.k_anonymity_report(
        banded, ["c_nationkey", "bal_band"], "c_mktsegment"
    )


_K_ANONYMITY_SQL = """
WITH classes AS (
  SELECT c_nationkey, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         COUNT(*) AS cnt, COUNT(DISTINCT c_mktsegment) AS l_div
  FROM customer GROUP BY 1, 2
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MIN(cnt) AS BIGINT) AS min_class_size
  FROM classes
),
per_k AS (
  SELECT k.k_threshold,
         CAST(COUNT(CASE WHEN cnt < k.k_threshold THEN 1 END) AS BIGINT)
           AS classes_at_risk,
         CAST(COALESCE(SUM(CASE WHEN cnt < k.k_threshold THEN cnt END), 0)
              AS BIGINT) AS rows_at_risk,
         MIN(CASE WHEN cnt < k.k_threshold THEN l_div END)
           AS worst_l_diversity
  FROM classes
  CROSS JOIN (VALUES (2), (5), (10), (25)) AS k(k_threshold)
  GROUP BY 1
)
SELECT k_threshold, classes_at_risk, rows_at_risk,
       ROUND(rows_at_risk * 1.0 / n_rows, 6) AS pct_rows_at_risk,
       worst_l_diversity, n_classes, n_rows, min_class_size
FROM per_k CROSS JOIN totals
"""


register(dq_orders_report, _DQ_ORDERS_SQL)
register(dq_lineitem_report, _DQ_LINEITEM_SQL)
register(dq_documents_report, _DQ_DOCUMENTS_SQL)
register(dq_events_report, _DQ_EVENTS_SQL)
register(customer_k_anonymity, _K_ANONYMITY_SQL)


def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness gate (new r8) over the customer extract: QI =
    (nation, market segment), ordered sensitive attribute = the
    account-balance band (``FLOOR(bal/1000)``, the same IEEE-floor
    banding as ``customer_k_anonymity`` — which used the segment as
    sensitive; the two gates are each other's transpose).  Worst 20
    classes by 1-D EMD vs the global balance distribution — the
    "everyone in this class is rich" leak k-anonymity cannot see.
    Mechanics and decimal-cumsum exactness in
    :func:`operators.privacy.t_closeness_report`."""
    from ..operators import privacy

    customer = load_table(spark, sf_dir, "customer")
    banded = customer.withColumn(
        "bal_band",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long"),
    )
    return privacy.t_closeness_report(
        banded, ["c_nationkey", "c_mktsegment"], "bal_band"
    )


_T_CLOSENESS_SQL = """
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
  FROM customer
),
bands AS (SELECT bal_band, COUNT(*) AS g_cnt FROM banded GROUP BY 1),
nm AS (SELECT CAST(SUM(g_cnt) AS BIGINT) AS n_tot, COUNT(*) AS m FROM bands),
classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_n
  FROM banded GROUP BY 1, 2
),
cnts AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS k
  FROM banded GROUP BY 1, 2, 3
),
grid AS (
  SELECT c.c_nationkey, c.c_mktsegment, c.class_n, b.bal_band, b.g_cnt
  FROM classes c CROSS JOIN bands b
),
filled AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.class_n, g.bal_band,
         CAST(COALESCE(cnts.k, 0) * 1.0 / g.class_n
              - g.g_cnt * 1.0 / nm.n_tot AS DECIMAL(28,18)) AS diff_dec,
         nm.m
  FROM grid g
  LEFT JOIN cnts ON g.c_nationkey = cnts.c_nationkey
    AND g.c_mktsegment = cnts.c_mktsegment AND g.bal_band = cnts.bal_band
  CROSS JOIN nm
),
cum AS (
  SELECT c_nationkey, c_mktsegment, class_n, m,
         SUM(diff_dec) OVER (PARTITION BY c_nationkey, c_mktsegment
                             ORDER BY bal_band
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM filled
),
emd AS (
  SELECT c_nationkey, c_mktsegment, class_n, m, SUM(ABS(cum)) AS s
  FROM cum GROUP BY 1, 2, 3, 4
)
SELECT c_nationkey, c_mktsegment, CAST(class_n AS BIGINT) AS class_n,
       ROUND(CAST(s AS DOUBLE) / (m - 1), 6) AS t_emd
FROM emd
ORDER BY t_emd DESC, c_nationkey, c_mktsegment
LIMIT 20
"""

register(customer_t_closeness, _T_CLOSENESS_SQL)


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity gate (new r10), completing the privacy
    ladder next to ``customer_k_anonymity`` (class size) and
    ``customer_t_closeness`` (ordered-attribute EMD): QI = (nation,
    balance band — the same IEEE-floor banding), sensitive =
    ``c_mktsegment``; the 25 worst equivalence classes by
    (distinct_l, within-class entropy).  A class can pass k-anonymity
    with 30 members and still leak "everyone here buys AUTOMOBILE" —
    this is the gate that sees it.  Mechanics and determinism notes in
    :func:`operators.privacy.l_diversity_report`."""
    from ..operators import privacy

    customer = load_table(spark, sf_dir, "customer")
    banded = customer.withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / F.lit(1000.0))
    )
    return privacy.l_diversity_report(
        banded, ["c_nationkey", "bal_band"], "c_mktsegment", top_n=25
    )


_L_DIVERSITY_SQL = """
WITH cnts AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         c_mktsegment, COUNT(*) AS k
  FROM customer GROUP BY 1, 2, 3
),
withp AS (
  SELECT c_nationkey, bal_band, k,
         k * 1.0 / SUM(k) OVER (PARTITION BY c_nationkey, bal_band) AS p
  FROM cnts
),
cls AS (
  SELECT c_nationkey, bal_band,
         CAST(SUM(k) AS BIGINT) AS class_n,
         CAST(COUNT(*) AS BIGINT) AS distinct_l,
         ROUND(SUM(-p * LN(p)), 6) AS entropy_l
  FROM withp GROUP BY 1, 2
)
SELECT * FROM cls
ORDER BY distinct_l ASC, entropy_l ASC, c_nationkey ASC, bal_band ASC
LIMIT 25
"""

register(customer_l_diversity, _L_DIVERSITY_SQL)
