"""Interesting-data-point detection: the 4-detector findings engine.

Mirror of ``macro_agents/defs/analysis/data_points/data_point_finder.py``
— the Dagster asset that scans the latest cross-section for noteworthy
movements and emits a unified findings frame:

1. ``big_short_term_move`` (:135-216): per change horizon (3m/6m/1y),
   cross-sectional mean/std over all series at the latest month ->
   |z| >= 1.5 outliers;
2. ``trend_change_inflection`` (:220-291): per series, 3-month momentum
   vs the prior 3-month momentum — opposite signs mark an inflection;
   only the MOST RECENT inflection per series is reported, scored by
   |momentum difference|;
3. ``correlation_anomaly`` (:296-363): series whose monthly change
   correlates with the NEXT month's market return at |corr| >= 0.3
   (forward-return predictive screen);
4. ``statistical_outlier`` (:366-436): latest 1y changes outside the
   cross-sectional p10/p90 QUANTILE_CONT thresholds.

All four branches UNION into the findings schema (data_point,
metric_category, current_value, change_period, change_pct, z_score,
significance_score, finding_type) as in ``aggregate_findings``
(:438-461). The reference iterates rows on the driver in polars; here
every detector is a relational pass (the set-based formulation a 100 TB
panel needs), numerically via decimal-exact means/stds and the two-pass
centered correlation.

Series = the 25 nations' monthly revenues; market = total monthly
revenue. The latest month is the panel max (no CURRENT_DATE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..functions.parity import (
    centered_corr,
    davg,
    sql_centered_corr,
    sql_davg,
    sql_dsum,
)
from ..registry import query

_REV = "l_extendedprice * (1 - l_discount)"
Z_THRESHOLD = 1.5
CORR_THRESHOLD = 0.3
P_LOW, P_HIGH = 0.10, 0.90
HORIZONS = {"3m": 3, "6m": 6, "1y": 12}

_FINDING_COLS = (
    "data_point",
    "metric_category",
    "current_value",
    "change_period",
    "change_pct",
    "z_score",
    "significance_score",
    "finding_type",
)


def _panel_sql() -> str:
    pct_sel = ",\n    ".join(
        f"ROUND((value / NULLIF(LAG(value, {m}) OVER w, 0) - 1) * 100, 4)"
        f" AS pct_change_{h}"
        for h, m in HORIZONS.items()
    )
    return f"""
panel AS (
  SELECT n_name AS series, date_trunc('month', CAST(l_shipdate AS DATE))
           AS month,
         {sql_dsum(_REV)} / 1e6 AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
with_changes AS (
  SELECT series, month, value,
    {pct_sel},
    ROUND((value / NULLIF(LAG(value) OVER w, 0) - 1) * 100, 4)
      AS mom_change
  FROM panel
  WINDOW w AS (PARTITION BY series ORDER BY month)
),
latest AS (
  SELECT * FROM with_changes
  WHERE month = (SELECT MAX(month) FROM with_changes)
),
market AS (
  SELECT month,
    ROUND((value / NULLIF(LAG(value) OVER (ORDER BY month), 0) - 1)
          * 100, 4) AS market_return
  FROM (
    SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
           {sql_dsum(_REV)} / 1e6 AS value
    FROM lineitem GROUP BY 1
  )
),
fwd AS (
  SELECT wc.series, wc.month, wc.mom_change,
    LEAD(m.market_return) OVER (PARTITION BY wc.series ORDER BY wc.month)
      AS fwd_market_return
  FROM with_changes wc JOIN market m ON wc.month = m.month
)"""


def _big_moves_sql() -> str:
    branches = []
    for h in HORIZONS:
        col = f"pct_change_{h}"
        stats = f"""(SELECT {sql_davg(col)} AS mean,
      (CASE WHEN COUNT({col}) > 1 THEN SQRT(GREATEST(
         ({sql_dsum(f"{col} * {col}")} - {sql_dsum(col)} * {sql_dsum(col)}
          / COUNT({col})) / (COUNT({col}) - 1.0), 0.0)) END) AS std
    FROM latest WHERE {col} IS NOT NULL)"""
        branches.append(
            f"""SELECT l.series AS data_point, 'economic' AS metric_category,
    l.value AS current_value, '{h}' AS change_period,
    l.{col} AS change_pct,
    ((l.{col} - s.mean) / s.std) AS z_score,
    ABS((l.{col} - s.mean) / s.std) AS significance_score,
    'big_short_term_move' AS finding_type
  FROM latest l, {stats} s
  WHERE l.{col} IS NOT NULL AND s.std IS NOT NULL AND s.std != 0
    AND ABS((l.{col} - s.mean) / s.std) >= {Z_THRESHOLD}"""
        )
    return "\n  UNION ALL\n  ".join(branches)


_ORACLE = f"""
WITH {_panel_sql()},
momenta AS (
  SELECT series, month, value,
    (value - LAG(value, 3) OVER w) AS cur_mom,
    (LAG(value, 3) OVER w - LAG(value, 6) OVER w) AS prev_mom
  FROM with_changes
  WINDOW w AS (PARTITION BY series ORDER BY month)
),
inflections AS (
  SELECT series, month, value,
    ABS(cur_mom - prev_mom) AS magnitude,
    ROW_NUMBER() OVER (PARTITION BY series ORDER BY month DESC)
      AS recency
  FROM momenta
  WHERE cur_mom * prev_mom < 0 AND ABS(cur_mom - prev_mom) > 0
),
corr_means AS (
  SELECT series, {sql_davg("mom_change")} AS mean_x,
         {sql_davg("fwd_market_return")} AS mean_y
  FROM fwd
  WHERE mom_change IS NOT NULL AND fwd_market_return IS NOT NULL
  GROUP BY series
),
corrs AS (
  SELECT f.series,
    {sql_centered_corr(
        "CASE WHEN f.mom_change IS NOT NULL AND"
        " f.fwd_market_return IS NOT NULL"
        " THEN f.mom_change - m.mean_x END",
        "CASE WHEN f.mom_change IS NOT NULL AND"
        " f.fwd_market_return IS NOT NULL"
        " THEN f.fwd_market_return - m.mean_y END",
    )} AS fwd_corr
  FROM fwd f JOIN corr_means m ON f.series = m.series
  GROUP BY f.series
),
pct_bounds AS (
  SELECT QUANTILE_CONT(pct_change_1y, {P_LOW}) AS p_low,
         QUANTILE_CONT(pct_change_1y, {P_HIGH}) AS p_high
  FROM latest WHERE pct_change_1y IS NOT NULL
),
findings AS (
  {_big_moves_sql()}
  UNION ALL
  SELECT i.series, 'economic', i.value, '6m',
    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
    i.magnitude, 'trend_change_inflection'
  FROM inflections i WHERE i.recency = 1
  UNION ALL
  SELECT c.series, 'economic', l.value, '1m',
    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
    ABS(c.fwd_corr), 'correlation_anomaly'
  FROM corrs c JOIN latest l ON c.series = l.series
  WHERE ABS(c.fwd_corr) >= {CORR_THRESHOLD}
  UNION ALL
  SELECT l.series, 'economic', l.value, '1y',
    l.pct_change_1y, CAST(NULL AS DOUBLE),
    ABS(l.pct_change_1y), 'statistical_outlier'
  FROM latest l, pct_bounds b
  WHERE l.pct_change_1y IS NOT NULL
    AND (l.pct_change_1y < b.p_low OR l.pct_change_1y > b.p_high)
)
SELECT {", ".join(_FINDING_COLS)}
FROM findings
ORDER BY finding_type, data_point, change_period
"""


@query("interesting_data_points", oracle=_ORACLE)
def interesting_data_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )

    # cached (r9): the panel is a (series x month) aggregate — ~25
    # nations x the month range, DIMENSION-sized at any corpus scale —
    # but it feeds every detector branch of the findings UNION, and
    # uncached each branch re-runs the lineitem join+agg (23 fact-table
    # scans in the cold plan; plan-gated to <=2 in tests/test_plans.py).
    # One fact scan materializes it; everything downstream is window
    # work over ~2k rows. repartition(1), NOT coalesce(1): coalesce
    # fuses into the aggregate's reduce stage and would serialize the
    # final merge over every map task's partials through one task at
    # scale; repartition adds a separate exchange that moves only the
    # ~2k aggregated rows, keeping the reduce 32-way.
    panel = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(
            F.col("n_name").alias("series"),
            F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        )
        .agg((F.sum(rev).cast("double") / F.lit(1e6)).alias("value"))
        .repartition(1)
        .cache()
    )
    w = Window.partitionBy("series").orderBy("month")

    def pct(m: int):
        return F.round(
            (
                F.col("value")
                / F.nullif(F.lag("value", m).over(w), F.lit(0))
                - 1
            )
            * 100,
            4,
        )

    wc = panel.select(
        "series",
        "month",
        "value",
        *[pct(m).alias(f"pct_change_{h}") for h, m in HORIZONS.items()],
        pct(1).alias("mom_change"),
    )
    max_month = wc.agg(F.max("month").alias("mm"))
    latest = wc.join(
        F.broadcast(max_month), wc.month == F.col("mm")
    ).drop("mm")

    def finding(data_point, current_value, period, change_pct, z, score,
                ftype):
        return [
            data_point.alias("data_point"),
            F.lit("economic").alias("metric_category"),
            current_value.alias("current_value"),
            F.lit(period).alias("change_period"),
            change_pct.alias("change_pct"),
            z.alias("z_score"),
            score.alias("significance_score"),
            F.lit(ftype).alias("finding_type"),
        ]

    null_d = F.lit(None).cast("double")

    # 1. big moves: cross-sectional z at the latest month, per horizon.
    branches: list[DataFrame] = []
    for h in HORIZONS:
        col = F.col(f"pct_change_{h}")
        cdec = col.cast("decimal(28,6)")
        n = F.count(col)
        s = F.sum(cdec).cast("double")
        ss = F.sum((col * col).cast("decimal(28,6)")).cast("double")
        stats = latest.where(col.isNotNull()).agg(
            (s / n).alias("mean"),
            F.when(
                n > 1,
                F.sqrt(
                    F.greatest(
                        (ss - s * s / n) / (n - F.lit(1.0)), F.lit(0.0)
                    )
                ),
            ).alias("std"),
        )
        z = (col - F.col("mean")) / F.col("std")
        branches.append(
            latest.crossJoin(F.broadcast(stats))
            .where(
                col.isNotNull()
                & F.col("std").isNotNull()
                & (F.col("std") != 0)
                & (F.abs(z) >= Z_THRESHOLD)
            )
            .select(
                *finding(
                    F.col("series"), F.col("value"), h, col, z,
                    F.abs(z), "big_short_term_move",
                )
            )
        )

    # 2. trend inflections: most recent 3m-momentum sign flip per series.
    momenta = panel.select(
        "series",
        "month",
        "value",
        (F.col("value") - F.lag("value", 3).over(w)).alias("cur_mom"),
        (
            F.lag("value", 3).over(w) - F.lag("value", 6).over(w)
        ).alias("prev_mom"),
    )
    wrec = Window.partitionBy("series").orderBy(F.col("month").desc())
    inflections = (
        momenta.where(
            (F.col("cur_mom") * F.col("prev_mom") < 0)
            & (F.abs(F.col("cur_mom") - F.col("prev_mom")) > 0)
        )
        .withColumn("recency", F.row_number().over(wrec))
        .where(F.col("recency") == 1)
    )
    branches.append(
        inflections.select(
            *finding(
                F.col("series"), F.col("value"), "6m", null_d, null_d,
                F.abs(F.col("cur_mom") - F.col("prev_mom")),
                "trend_change_inflection",
            )
        )
    )

    # 3. forward-return correlation screen.
    # month-dimension-sized, same caching rationale as the panel
    market = (
        li.groupBy(
            F.trunc(F.to_date("l_shipdate"), "month").alias("month")
        )
        .agg((F.sum(rev).cast("double") / F.lit(1e6)).alias("value"))
        .repartition(1)
        .cache()
    )
    market = (
        market
        .select(
            "month",
            F.round(
                (
                    F.col("value")
                    / F.nullif(
                        F.lag("value").over(ta.series_window("month")),
                        F.lit(0),
                    )
                    - 1
                )
                * 100,
                4,
            ).alias("market_return"),
        )
    )
    fwd = wc.join(F.broadcast(market), on="month").select(
        "series",
        "month",
        "mom_change",
        F.lead("market_return").over(w).alias("fwd_market_return"),
    )
    both = (
        F.col("mom_change").isNotNull()
        & F.col("fwd_market_return").isNotNull()
    )
    means = (
        fwd.where(both)
        .groupBy("series")
        .agg(
            davg("mom_change").alias("mean_x"),
            davg("fwd_market_return").alias("mean_y"),
        )
    )
    corrs = (
        fwd.join(F.broadcast(means), on="series")
        .groupBy("series")
        .agg(
            centered_corr(
                F.when(both, F.col("mom_change") - F.col("mean_x")),
                F.when(
                    both, F.col("fwd_market_return") - F.col("mean_y")
                ),
            ).alias("fwd_corr")
        )
        .where(F.abs(F.col("fwd_corr")) >= CORR_THRESHOLD)
    )
    branches.append(
        corrs.join(
            latest.select("series", "value"), on="series"
        ).select(
            *finding(
                F.col("series"), F.col("value"), "1m", null_d, null_d,
                F.abs(F.col("fwd_corr")), "correlation_anomaly",
            )
        )
    )

    # 4. extreme-percentile outliers on the latest 1y changes.
    bounds = latest.where(F.col("pct_change_1y").isNotNull()).agg(
        F.percentile("pct_change_1y", F.lit(P_LOW)).alias("p_low"),
        F.percentile("pct_change_1y", F.lit(P_HIGH)).alias("p_high"),
    )
    branches.append(
        latest.crossJoin(F.broadcast(bounds))
        .where(
            F.col("pct_change_1y").isNotNull()
            & (
                (F.col("pct_change_1y") < F.col("p_low"))
                | (F.col("pct_change_1y") > F.col("p_high"))
            )
        )
        .select(
            *finding(
                F.col("series"), F.col("value"), "1y",
                F.col("pct_change_1y"), null_d,
                F.abs(F.col("pct_change_1y")), "statistical_outlier",
            )
        )
    )

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("finding_type", "data_point", "change_period")
