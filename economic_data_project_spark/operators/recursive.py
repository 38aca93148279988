"""Recursive/stateful operators (SURVEY.md §2.3 recursive CTE, §7.4 hard
parts): exact EMA recurrence, Wilder RMA, date-spine gap filling.

The reference computes exact EMAs with a recursive CTE
(market_breadth_signals.sql:16,168-192) and elsewhere accepts a
finite-window approximation (ta_primitives.sql:84-126 — covered by the
``ewm_window_array`` query). Here the EXACT recurrence runs as an
``applyInPandas`` kernel executing the textbook recursion
``e_t = a*x_t + (1-a)*e_{t-1}`` in a NumPy loop — the same IEEE double
operations, in the same order, as the DuckDB ``WITH RECURSIVE`` oracle,
so results are bit-identical. (Spark 4's recursive CTE could express this
too, but per-partition recursion is the shape that scales: one pass per
entity, no N-iteration plan.)

Scale notes: the kernel partitions by entity — each group is one
time series (thousands of rows), state is O(1) per group, groups run in
parallel across executors. The date-spine gap-fill is a broadcast range
join of the spine against per-entity bounds plus a last(ignoreNulls)
window — no Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query
from .panels import daily_revenue

_DAILY_CTE = """
daily AS (
  SELECT l_returnflag AS flag,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS rev
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
"""


# --------------------------------------------------------------------------
# Exact recursive EMA (span 20, alpha = 2/21) + Wilder RMA (alpha = 1/14),
# seeded with the first observation — the recursive-CTE semantics of
# market_breadth_signals.sql:168-192.
# --------------------------------------------------------------------------

_EMA_SPAN = 20
_RMA_N = 14

_EMA_ORACLE = f"""
WITH RECURSIVE {_DAILY_CTE},
numbered AS (
  SELECT flag, d, rev,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS rn
  FROM daily
),
ema AS (
  SELECT flag, d, rev, rn,
         rev AS ema20,
         rev AS rma14
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.flag, n.d, n.rev, n.rn,
         (2.0 / {_EMA_SPAN + 1}) * n.rev
           + (1.0 - 2.0 / {_EMA_SPAN + 1}) * e.ema20,
         (1.0 / {_RMA_N}) * n.rev
           + (1.0 - 1.0 / {_RMA_N}) * e.rma14
  FROM numbered n JOIN ema e ON n.flag = e.flag AND n.rn = e.rn + 1
)
SELECT flag, d, rev, ema20, rma14 FROM ema
ORDER BY flag, d
"""


@query("ema_exact_recursive", oracle=_EMA_ORACLE)
def ema_exact_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    a_ema = 2.0 / (_EMA_SPAN + 1)
    a_rma = 1.0 / _RMA_N

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        x = pdf["rev"].to_numpy(dtype=float)
        ema = np.empty_like(x)
        rma = np.empty_like(x)
        if len(x):
            ema[0] = x[0]
            rma[0] = x[0]
            # The exact recurrence, one IEEE double expression per step —
            # identical order of operations to the oracle's recursive CTE.
            for t in range(1, len(x)):
                ema[t] = a_ema * x[t] + (1.0 - a_ema) * ema[t - 1]
                rma[t] = a_rma * x[t] + (1.0 - a_rma) * rma[t - 1]
        pdf["ema20"] = ema
        pdf["rma14"] = rma
        return pdf

    return (
        daily.groupBy("flag")
        .applyInPandas(
            kernel, "flag string, d date, rev double, ema20 double,"
            " rma14 double"
        )
        .orderBy("flag", "d")
    )


# --------------------------------------------------------------------------
# Date spine + gap fill: GENERATE_DATE_ARRAY/sequence spine per entity,
# forward-filled values (fred_series_grain.sql / time_spine_daily.sql:3-10
# shape — weekly/monthly series regularized to daily grain).
# --------------------------------------------------------------------------

_GAPFILL_ORACLE = f"""
WITH {_DAILY_CTE},
bounds AS (
  SELECT flag, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY flag
),
spine AS (
  SELECT b.flag, s.d AS d
  FROM bounds b, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) t(s_d),
       LATERAL (SELECT CAST(t.s_d AS DATE) AS d) s
),
joined AS (
  SELECT sp.flag, sp.d, dy.rev,
         (dy.rev IS NULL) AS was_gap
  FROM spine sp LEFT JOIN daily dy ON sp.flag = dy.flag AND sp.d = dy.d
)
SELECT flag, d,
       LAST_VALUE(rev IGNORE NULLS) OVER (
         PARTITION BY flag ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled,
       was_gap
FROM joined
ORDER BY flag, d
"""


@query("date_spine_gapfill", oracle=_GAPFILL_ORACLE)
def date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    bounds = daily.groupBy("flag").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "flag",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
    )
    joined = spine.join(daily, ["flag", "d"], "left").withColumn(
        "was_gap", F.col("rev").isNull()
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.select(
            "flag",
            "d",
            F.last("rev", ignorenulls=True).over(w).alias("rev_filled"),
            "was_gap",
        )
        .orderBy("flag", "d")
    )
