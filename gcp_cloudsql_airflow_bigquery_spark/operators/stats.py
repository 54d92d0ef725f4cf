"""Grouped robust statistics via ``applyInPandas`` — the batch
grouped-map Pandas-UDF surface (SURVEY.md §2b "UDF/UDAF/UDTF" row).

Robust outlier scoring (|x − median| / MAD) needs two dependent
rank-statistics per group; as pure SQL that is two window/agg passes,
as a grouped-map kernel it is one numpy pass per group with Arrow
transfer. At 100 TB the shuffle is one hash partition by group key —
the same single-shuffle shape as any groupBy — and each group's pandas
frame is bounded by the largest entity (AQE-splittable upstream).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Rows whose value deviates from the group median by at least
    ``threshold`` MADs. Groups with MAD = 0 produce no outliers (the
    deviation scale is undefined)."""
    import numpy as np

    schema = (
        f"{group_col} long, {id_col} long, {value_col} double, mad_score double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype="float64")
        med = float(np.median(x))
        mad = float(np.median(np.abs(x - med)))
        if mad <= 0.0:
            return pdf.iloc[0:0][[group_col, id_col, value_col]].assign(
                mad_score=pd.Series(dtype="float64")
            )
        score = np.round(np.abs(x - med) / mad, 6)
        out = pdf[[group_col, id_col, value_col]].assign(mad_score=score)
        return out[out["mad_score"] >= threshold]

    return df.select(group_col, id_col, value_col).groupBy(group_col).applyInPandas(
        kernel, schema=schema
    )


def geomean_udaf():
    """Grouped-agg pandas UDF: geometric mean (Arrow-batched). Defined
    here so the ``pd.Series`` type hint resolves against this module's
    globals (pyspark evaluates stringified hints)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    return geomean


def skyline_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows not DOMINATED by any other —
    no other row has ``cost ≤`` AND ``gain ≥`` with one strict.  The
    multi-objective "best trade-offs" operator (cheapest-for-its-size
    parts, fastest-for-its-recall ANN configs, …).

    Scale-correct formulation — never a bare ``Window.orderBy`` over
    the SF-scaling input:

    1. one aggregation to the COST-GRAIN frame (max gain per distinct
       cost);
    2. an exclusive prefix-max of that best gain in cost order
       (:func:`.curation._prefix_scan` with ``F.max``);
    3. a survivor test joined back to the data: keep a row iff its
       gain exceeds every STRICTLY-cheaper cost's best gain and ties
       the best gain AT its own cost (equal cost+gain rows are
       mutually non-dominating and all survive).

    Works for any orderable cost/gain; comparisons are exact on the
    input values (no floats introduced)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .curation import _prefix_scan

    best = df.groupBy(F.col(cost_col).alias("_cost")).agg(
        F.max(F.col(gain_col)).alias("_best")
    )
    scan, w = _prefix_scan(best, ["_cost"], F.max, "_best", num_partitions)
    earlier = w.rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        scan.withColumn(
            "_prev", F.greatest(F.max("_best").over(earlier), F.col("_off"))
        )
        .filter(F.col("_prev").isNull() | (F.col("_best") > F.col("_prev")))
        .select("_cost", "_best")
    )
    return df.join(
        frontier,
        (df[cost_col] == frontier["_cost"]) & (df[gain_col] == frontier["_best"]),
        "inner",
    ).drop("_cost", "_best")


def holt_winters_additive(
    df: DataFrame,
    key_col: str,
    y_col: str,
    t_col: str,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
    period: int = 7,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) per key — the
    triple-exponential member of the forecasting family (EWMA: level;
    Brown: level+trend; HW adds the seasonal recurrence, which does
    NOT unroll to closed-form window weights because level and
    seasonal feed each other).  Runs as an Arrow-batched
    ``applyInPandas`` kernel per key over the BOUNDED series frame
    (day-grain — the sequential-recurrence pattern of
    ``operators/temporal.sessionize_capped``).

    Init: level = mean of the first ``period`` points, trend =
    (mean of the second period − mean of the first)/period, seasonal
    phase p = y_p − level.  Steps t ≥ period (literal-coefficient
    arithmetic, replayable verbatim by a recursive-CTE oracle):

        l' = α(y − s_old) + (1−α)(l + b)
        b' = β(l' − l) + (1−β)b
        s' = γ(y − l') + (1−γ)s_old
        one-step error = |y − (l + b + s_old)|

    Emits per key: n_points, final level/trend, next-step forecast,
    and the one-step MAE.  Keys with fewer than 2·period points are
    dropped (init undefined)."""
    import pandas as pd

    a, g = alpha, gamma
    bb = beta
    one_a, one_b, one_g = 1.0 - alpha, 1.0 - beta, 1.0 - gamma
    m = period

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(t_col)
        y = [float(v) for v in pdf[y_col]]
        if len(y) < 2 * m:
            return pd.DataFrame(
                columns=[
                    key_col,
                    "n_points",
                    "level",
                    "trend",
                    "forecast_next",
                    "mae",
                ]
            )
        l = sum(y[0:m]) / m
        b = (sum(y[m : 2 * m]) / m - sum(y[0:m]) / m) / m
        s = [y[p] - l for p in range(m)]
        err_sum, err_n = 0.0, 0
        for t in range(m, len(y)):
            pos = t % m
            sold = s[pos]
            err_sum += abs(y[t] - (l + b + sold))
            err_n += 1
            lnew = a * (y[t] - sold) + one_a * (l + b)
            bnew = bb * (lnew - l) + one_b * b
            s[pos] = g * (y[t] - lnew) + one_g * sold
            l, b = lnew, bnew
        nxt = l + b + s[len(y) % m]
        return pd.DataFrame(
            [
                {
                    key_col: pdf[key_col].iloc[0],
                    "n_points": len(y),
                    "level": round(l, 6),
                    "trend": round(b, 6),
                    "forecast_next": round(nxt, 6),
                    "mae": round(err_sum / err_n, 6),
                }
            ]
        )

    schema = (
        f"{key_col} string, n_points bigint, level double, trend double, "
        "forecast_next double, mae double"
    )
    return df.groupBy(key_col).applyInPandas(fn, schema=schema)


def running_prefix_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running maximum of ``value_col`` in ``order_col``
    order via :func:`.curation._prefix_scan` with ``F.max`` — the
    prefix-MAX twin of ``global_cumsum``, for watermark audits and
    high-water-mark features on SF-scaling frames where a bare
    ``Window.orderBy`` would serialize onto one task.

    Rows with the first order value get NULL (no earlier row).  Ties
    in ``order_col`` see the max of strictly-EARLIER partitions plus
    preceding ROWS within their partition — pass a unique order key
    (the usual case: event ids, byte offsets) for fully deterministic
    semantics."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .curation import _prefix_scan

    scan, w = _prefix_scan(df, [order_col], F.max, value_col, num_partitions)
    earlier = w.rowsBetween(Window.unboundedPreceding, -1)
    return scan.withColumn(
        out_col, F.greatest(F.max(value_col).over(earlier), F.col("_off"))
    ).drop("_pid", "_off")
