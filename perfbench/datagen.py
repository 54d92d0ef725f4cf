"""Seeded input generators for the benchmark.

Two kinds of input:

* :func:`write_star_fixture` writes the ten-table fixture every registered
  query reads (``{dir}/{table}.parquet``, one file per table) with the
  schemas and value domains of the engine's reference fixtures.  The query
  and stream ops use one fixed fixture (seed 42); the run's ``--seed``
  only permutes their order.
* :class:`StarSources` generates the star-sync sources of
  ``etl_stream_ingest`` from the run's seed: the ``customer`` dim, the
  ``part`` dim and a ``lineitem`` fact with planted ``"N`` broken-NULL
  markers, plus seeded deltas of updates and inserts keyed on the unique
  surrogate ``l_id``.

Generation is numpy + pyarrow; only loading the JDBC source uses the
session's JVM.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "red", "blue", "hot", "big", "green", "cold", "old")
P_NOUN = ("ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

BROKEN_NULL = '"N'
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _rows(sf: float, per_unit: int, floor: int = 1) -> int:
    return max(floor, int(round(sf * per_unit)))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at scale ``sf`` (lineitem ≈ 6M × sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = _rows(sf, 150_000, 10)
    n_supp = _rows(sf, 10_000, 5)
    n_part = _rows(sf, 200_000, 10)
    n_ord = _rows(sf, 1_500_000, 10)
    n_line = _rows(sf, 6_000_000, 10)
    n_ev = _rows(sf, 1_000_000, 10)
    n_users = max(10, n_cust // 10)
    n_docs = _rows(sf, 50_000, 500)
    n_emb = _rows(sf, 20_000, 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict, types: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    out: dict[str, pa.Table] = {}
    out["region"] = table(
        {"r_regionkey": np.arange(5), "r_name": list(REGIONS)},
        {"r_regionkey": i32, "r_name": s},
    )
    out["nation"] = table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    out["customer"] = table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s},
    )
    out["supplier"] = table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    pk = np.arange(n_part)
    out["part"] = table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
         "p_size": i32, "p_retailprice": f64},
    )
    out["orders"] = table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s},
    )
    out["lineitem"] = table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
         "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
         "l_discount": f64, "l_tax": f64, "l_returnflag": s,
         "l_linestatus": s, "l_shipdate": ts},
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = table(
        {
            "event_id": np.arange(n_ev),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
         "value": f64, "props": s},
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; 5% are edited
    copies of an earlier document tagged ``dup`` (near-duplicates), a few
    of them verbatim (exact duplicates)."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if words[-1] == "dup":
                words.pop()
            if rng.random() < 0.8:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors drawn around ``k`` label centroids."""
    centroids = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * dim, pa.int32()), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_star_fixture(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every fixture table as ``{out_dir}/{name}.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in star_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# star-sync sources

#: source-catalog types of the fact CSV (the ``INFORMATION_SCHEMA`` listing
#: the v1 path maps through ``functions.typemap``)
FACT_SOURCE_TYPES = {
    "l_id": "BIGINT",
    "l_custkey": "BIGINT",
    "l_partkey": "BIGINT",
    "l_quantity": "DECIMAL(12,2)",
    "l_extendedprice": "DECIMAL(12,2)",
    "l_discount": "DECIMAL(4,2)",
    "l_returnflag": "VARCHAR(1)",
    "l_shipdate": "DATE",
}
#: fact columns that receive planted ``"N`` markers, and the share of
#: their values that does
NULL_COLUMNS = ("l_returnflag", "l_discount")
NULL_RATE = 0.01


class StarSources:
    """The seeded 3-table star of the ETL ops.

    ``customer`` (dim, extracted over JDBC), ``part`` (dim, NDJSON) and
    ``lineitem`` (fact, CSV with broken-NULL markers).  The fact carries a
    surrogate key ``l_id`` that is unique by construction, so a merge on it
    has an exact expected row count.  The generator keeps the clean fact
    (markers as NULL) as the oracle's input.
    """

    def __init__(self, seed: int, sf: float):
        rng = self.rng = np.random.default_rng(seed)
        n_cust = _rows(sf, 150_000, 10)
        n_part = _rows(sf, 200_000, 10)
        self.n_fact = _rows(sf, 6_000_000, 10)
        self.customer = pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        )
        self.part = pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part),
            }
        )
        self.fact = self._fact_rows(np.arange(self.n_fact, dtype=np.int64))

    def _fact_rows(self, ids: np.ndarray) -> pd.DataFrame:
        rng, n = self.rng, len(ids)
        df = pd.DataFrame(
            {
                "l_id": ids,
                "l_custkey": rng.integers(0, len(self.customer), n),
                "l_partkey": rng.integers(0, len(self.part), n),
                "l_quantity": rng.integers(1, 51, n).astype(float),
                "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_returnflag": rng.choice(("A", "N", "R"), n).astype(object),
                "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04").astype(
                    "datetime64[D]"
                ),
            }
        )
        for col in NULL_COLUMNS:
            df.loc[rng.random(n) < NULL_RATE, col] = None
        return df

    def delta_of(self, base: pd.DataFrame, frac: float = 0.05) -> pd.DataFrame:
        """The next seeded delta against ``base``: ``frac`` × fact rows, half
        updates of existing ``l_id`` values with fresh attribute values, half
        inserts of new ``l_id`` values."""
        n = max(2, int(self.n_fact * frac))
        upd = self.rng.choice(base["l_id"].to_numpy(), n // 2, replace=False)
        new = np.arange(self.n_fact, self.n_fact + n - n // 2, dtype=np.int64)
        return self._fact_rows(np.concatenate([upd, new]))

    @staticmethod
    def merged(base: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
        """Expected fact after upserting ``delta`` into ``base`` on ``l_id``."""
        kept = base[~base["l_id"].isin(delta["l_id"])]
        return pd.concat([kept, delta], ignore_index=True)

    # -- writers ---------------------------------------------------------

    def write_customer_derby(self, spark, url: str, csv_path: str) -> int:
        """Create the ``CUSTOMER`` table of the JDBC source (an in-memory
        Derby database in the driver JVM) and bulk-load it from a CSV file
        with ``SYSCS_IMPORT_TABLE``.  Returns the CSV size."""
        os.makedirs(os.path.dirname(csv_path), exist_ok=True)
        self.customer.to_csv(csv_path, index=False, header=False)
        jvm = spark._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
        try:
            st = conn.createStatement()
            st.execute(
                "CREATE TABLE CUSTOMER (C_CUSTKEY BIGINT, C_NAME VARCHAR(25), "
                "C_NATIONKEY INT, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(10))"
            )
            st.execute(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                f"NULL, 'CUSTOMER', '{csv_path}', ',', NULL, NULL, 0)"
            )
            st.close()
        finally:
            conn.close()
        return os.path.getsize(csv_path)

    def write_part_ndjson(self, out_dir: str, chunks: int = 4) -> int:
        """v2 interchange: NDJSON chunk files ``part_{i}.json``."""
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for i, chunk in enumerate(np.array_split(self.part, chunks)):
            path = os.path.join(out_dir, f"part_{i}.json")
            chunk.to_json(path, orient="records", lines=True)
            total += os.path.getsize(path)
        return total

    @staticmethod
    def write_fact_csv(df: pd.DataFrame, path: str) -> int:
        """v1 interchange: header CSV, unquoted values, NULL written as the
        broken ``"N`` marker.  Returns the file size."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = df.copy()
        out["l_discount"] = out["l_discount"].map(
            lambda v: BROKEN_NULL if pd.isna(v) else f"{v:.2f}"
        )
        out["l_shipdate"] = out["l_shipdate"].dt.strftime("%Y-%m-%d")
        out.to_csv(path, index=False, na_rep=BROKEN_NULL, quoting=3)  # QUOTE_NONE
        return os.path.getsize(path)

    @staticmethod
    def repaired(df: pd.DataFrame) -> pd.DataFrame:
        """The fact as ``repair=True`` documents it: a marker is NULL, and
        so is a bare ``N`` in a string column (``repair_csv_columns`` reads
        it as a marker left after CSV unquoting), which includes the
        legitimate ``l_returnflag`` value ``N``."""
        out = df.copy()
        out.loc[out["l_returnflag"] == "N", "l_returnflag"] = None
        return out

    @staticmethod
    def nulls(df: pd.DataFrame) -> dict[str, int]:
        return {c: int(df[c].isna().sum()) for c in NULL_COLUMNS}
