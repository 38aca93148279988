"""Event-study analysis: market response to indicator surprises.

Mirror of ``dbt_project/models/analysis/indicator_market_response.sql``:
build indicator *surprises* (MoM change minus its trailing 12-month
self-excluding mean, normalized by the trailing stddev, :71-111),
bucket them (Large Beat / Beat / In Line / Miss / Large Miss, :115-125)
with a Rising/Falling direction tag, join every sector's monthly return
to every indicator month (:137-158), and aggregate the event-study
battery per (sector, indicator): conditional mean returns by surprise
bucket and direction, bucket counts, beat/miss win rates, the
surprise->return correlation, and the response-strength score + flags
(:161-279). HAVING n >= 24 keeps only pairs with 2y of history (:212).

Mapping: indicators = monthly order counts per order priority (5 series,
integer-valued so MoM changes are exact); sectors = the five regions'
monthly revenue returns; both are staging panels from
``operators/panels.py``. Correlation uses the repo's two-pass centered
decimal-exact kernel (functions/parity.py). The reference's ROUND(...,2/4)
display rounding is dropped: conditional means are quotients of clean
4dp decimals and land on exact rounding ties where the engines'
double-rounding tie-breaks disagree; raw doubles are bit-identical.

Scale: two hash-aggs over orders/lineitem (monthly grains), window
stats over per-series months (small), one broadcast join to fan out
sector x indicator (25 pairs/month), then a distributed hash-agg with
map-side partials. The corr means-join is per (sector, series) — 25
groups — broadcast.
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
from .panels import indicator_counts, sector_returns

_REV = "l_extendedprice * (1 - l_discount)"
MIN_EVENTS = 24

_BUCKETS = (
    ("Large Beat", "avg_return_large_beat", "n_large_beat"),
    ("Beat", "avg_return_beat", "n_beat"),
    ("In Line", "avg_return_inline", "n_inline"),
    ("Miss", "avg_return_miss", "n_miss"),
    ("Large Miss", "avg_return_large_miss", "n_large_miss"),
)

_ZW = "(PARTITION BY series_code ORDER BY month ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)"

def _bucket_avg_sql(cat: str, avg_col: str, n_col: str) -> str:
    case = f"CASE WHEN surprise_category = '{cat}' THEN monthly_return END"
    return (
        f"{sql_davg(case)} AS {avg_col},\n    "
        f"CAST(COUNT(CASE WHEN surprise_category = '{cat}'"
        f" THEN 1 END) AS BIGINT) AS {n_col}"
    )


_BUCKET_AVGS = ",\n    ".join(
    _bucket_avg_sql(cat, avg_col, n_col)
    for cat, avg_col, n_col in _BUCKETS
)

_ORACLE = f"""
WITH ind_monthly AS (
  SELECT o_orderpriority AS series_code,
         date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM orders GROUP BY 1, 2
),
ind_diff AS (
  SELECT series_code, month, value,
    value - LAG(value) OVER (PARTITION BY series_code ORDER BY month)
      AS mom_change
  FROM ind_monthly
),
ind_stats AS (
  SELECT *,
    {ta.sql_wavg("mom_change", _ZW)} AS avg_12mo_change,
    {ta.sql_wstd("mom_change", _ZW)} AS std_12mo_change
  FROM ind_diff
),
surprises AS (
  SELECT series_code, month, value, mom_change,
    (mom_change - COALESCE(avg_12mo_change, 0)) AS surprise_value,
    (CASE WHEN std_12mo_change > 0.0001
          THEN (mom_change - COALESCE(avg_12mo_change, 0))
               / std_12mo_change
          ELSE 0 END) AS surprise_zscore,
    (CASE WHEN std_12mo_change > 0.0001 THEN
       (CASE
          WHEN (mom_change - COALESCE(avg_12mo_change, 0))
               / std_12mo_change > 2 THEN 'Large Beat'
          WHEN (mom_change - COALESCE(avg_12mo_change, 0))
               / std_12mo_change > 1 THEN 'Beat'
          WHEN (mom_change - COALESCE(avg_12mo_change, 0))
               / std_12mo_change > -1 THEN 'In Line'
          WHEN (mom_change - COALESCE(avg_12mo_change, 0))
               / std_12mo_change > -2 THEN 'Miss'
          ELSE 'Large Miss' END)
     ELSE 'In Line' END) AS surprise_category,
    (CASE WHEN mom_change > 0 THEN 'Rising'
          WHEN mom_change < 0 THEN 'Falling'
          ELSE 'Flat' END) AS indicator_direction
  FROM ind_stats
  WHERE mom_change IS NOT NULL
),
sector_monthly AS (
  SELECT r_name AS symbol,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {sql_dsum(_REV)} / 1e6 AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
sector_returns AS (
  SELECT symbol, month,
    ROUND((rev / NULLIF(LAG(rev) OVER (PARTITION BY symbol ORDER BY month),
                        0) - 1) * 100, 4) AS monthly_return
  FROM sector_monthly
),
events AS (
  SELECT sr.symbol, sr.month, sr.monthly_return,
         sp.series_code, sp.surprise_zscore, sp.surprise_category,
         sp.indicator_direction
  FROM sector_returns sr
  JOIN surprises sp ON sr.month = sp.month
  WHERE sr.monthly_return IS NOT NULL
),
grp_means AS (
  SELECT symbol, series_code,
         {sql_davg("surprise_zscore")} AS mean_z,
         {sql_davg("monthly_return")} AS mean_r
  FROM events GROUP BY symbol, series_code
),
stats AS (
  SELECT e.symbol, e.series_code,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    {sql_davg("monthly_return")} AS avg_return_all_events,
    (CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
       ({sql_dsum("monthly_return * monthly_return")}
        - {sql_dsum("monthly_return")} * {sql_dsum("monthly_return")}
          / COUNT(*)) / (COUNT(*) - 1.0), 0.0)) END)
      AS return_volatility,
    {_BUCKET_AVGS},
    {sql_davg("CASE WHEN indicator_direction = 'Rising' THEN monthly_return END")}
      AS avg_return_indicator_rising,
    {sql_davg("CASE WHEN indicator_direction = 'Falling' THEN monthly_return END")}
      AS avg_return_indicator_falling,
    CAST(COUNT(CASE WHEN indicator_direction = 'Rising' THEN 1 END)
         AS BIGINT) AS n_rising,
    CAST(COUNT(CASE WHEN indicator_direction = 'Falling' THEN 1 END)
         AS BIGINT) AS n_falling,
    (COUNT(CASE WHEN surprise_category IN ('Beat', 'Large Beat')
                 AND monthly_return > 0 THEN 1 END) * 100.0
     / NULLIF(COUNT(CASE WHEN surprise_category IN ('Beat', 'Large Beat')
                         THEN 1 END), 0)) AS win_rate_on_beat,
    (COUNT(CASE WHEN surprise_category IN ('Miss', 'Large Miss')
                 AND monthly_return > 0 THEN 1 END) * 100.0
     / NULLIF(COUNT(CASE WHEN surprise_category IN ('Miss', 'Large Miss')
                         THEN 1 END), 0)) AS win_rate_on_miss,
    {sql_centered_corr("e.surprise_zscore - m.mean_z",
                       "e.monthly_return - m.mean_r")}
      AS surprise_correlation
  FROM events e
  JOIN grp_means m ON e.symbol = m.symbol AND e.series_code = m.series_code
  GROUP BY e.symbol, e.series_code
  HAVING COUNT(*) >= {MIN_EVENTS}
)
SELECT *,
  (COALESCE(avg_return_beat, avg_return_large_beat, 0)
   - COALESCE(avg_return_miss, avg_return_large_miss, 0))
    AS beat_miss_spread,
  (ABS(COALESCE(surprise_correlation, 0)) * 50
   + ABS(COALESCE(avg_return_beat, 0) - COALESCE(avg_return_miss, 0)) * 10)
    AS response_strength_score,
  (ABS(COALESCE(surprise_correlation, 0)) >= 0.2
   OR ABS(COALESCE(avg_return_beat, 0) - COALESCE(avg_return_miss, 0))
      >= 1.0) AS is_surprise_responsive,
  (CASE WHEN surprise_correlation > 0.15 THEN 'Pro-cyclical'
        WHEN surprise_correlation < -0.15 THEN 'Counter-cyclical'
        ELSE 'Neutral' END) AS response_type
FROM stats
ORDER BY symbol, series_code
"""


@query("indicator_market_response", oracle=_ORACLE)
def indicator_market_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")

    ind_monthly = indicator_counts(orders)
    ws = Window.partitionBy("series_code").orderBy("month")
    zw = ws.rowsBetween(-12, -1)
    ind = ind_monthly.select(
        "series_code",
        "month",
        (F.col("value") - F.lag("value").over(ws)).alias("mom_change"),
    ).select(
        "*",
        ta.wavg("mom_change", zw).alias("avg_12mo_change"),
        ta.wstd("mom_change", zw).alias("std_12mo_change"),
    )
    surprise = F.col("mom_change") - F.coalesce(
        F.col("avg_12mo_change"), F.lit(0)
    )
    z = F.when(
        F.col("std_12mo_change") > 0.0001,
        surprise / F.col("std_12mo_change"),
    ).otherwise(0.0)
    zc = surprise / F.col("std_12mo_change")
    category = F.when(
        F.col("std_12mo_change") > 0.0001,
        F.when(zc > 2, "Large Beat")
        .when(zc > 1, "Beat")
        .when(zc > -1, "In Line")
        .when(zc > -2, "Miss")
        .otherwise("Large Miss"),
    ).otherwise("In Line")
    surprises = ind.where(F.col("mom_change").isNotNull()).select(
        "series_code",
        "month",
        z.alias("surprise_zscore"),
        category.alias("surprise_category"),
        F.when(F.col("mom_change") > 0, "Rising")
        .when(F.col("mom_change") < 0, "Falling")
        .otherwise("Flat")
        .alias("indicator_direction"),
    )

    returns = sector_returns(li, su, na, re, {"monthly_return": 1})
    events = (
        returns.join(F.broadcast(surprises), on="month")
        .where(F.col("monthly_return").isNotNull())
    )
    grp = ["symbol", "series_code"]
    means = events.groupBy(*grp).agg(
        davg("surprise_zscore").alias("mean_z"),
        davg("monthly_return").alias("mean_r"),
    )
    ev = events.join(F.broadcast(means), on=grp)

    def bucket_avg(cat: str):
        c = F.when(F.col("surprise_category") == cat, F.col("monthly_return"))
        return davg(c)

    def bucket_n(cat: str):
        return F.count(
            F.when(F.col("surprise_category") == cat, F.lit(1))
        ).cast("long")

    n = F.count("*")
    s = F.sum(F.col("monthly_return").cast("decimal(28,6)")).cast("double")
    ss = F.sum(
        (F.col("monthly_return") * F.col("monthly_return")).cast(
            "decimal(28,6)"
        )
    ).cast("double")
    beat_hits = F.count(
        F.when(
            F.col("surprise_category").isin("Beat", "Large Beat")
            & (F.col("monthly_return") > 0),
            F.lit(1),
        )
    )
    beat_all = F.count(
        F.when(
            F.col("surprise_category").isin("Beat", "Large Beat"), F.lit(1)
        )
    )
    miss_hits = F.count(
        F.when(
            F.col("surprise_category").isin("Miss", "Large Miss")
            & (F.col("monthly_return") > 0),
            F.lit(1),
        )
    )
    miss_all = F.count(
        F.when(
            F.col("surprise_category").isin("Miss", "Large Miss"), F.lit(1)
        )
    )
    aggs = [
        n.cast("long").alias("n_events"),
        davg("monthly_return").alias("avg_return_all_events"),
        F.when(
            n > 1,
            F.sqrt(
                F.greatest(
                    (ss - s * s / n) / (n - F.lit(1.0)), F.lit(0.0)
                )
            ),
        ).alias("return_volatility"),
    ]
    for cat, avg_col, n_col in _BUCKETS:
        aggs += [
            bucket_avg(cat).alias(avg_col),
            bucket_n(cat).alias(n_col),
        ]
    aggs += [
        davg(
            F.when(
                F.col("indicator_direction") == "Rising",
                F.col("monthly_return"),
            )
        ).alias("avg_return_indicator_rising"),
        davg(
            F.when(
                F.col("indicator_direction") == "Falling",
                F.col("monthly_return"),
            )
        ).alias("avg_return_indicator_falling"),
        F.count(
            F.when(F.col("indicator_direction") == "Rising", F.lit(1))
        )
        .cast("long")
        .alias("n_rising"),
        F.count(
            F.when(F.col("indicator_direction") == "Falling", F.lit(1))
        )
        .cast("long")
        .alias("n_falling"),
        (beat_hits * 100.0 / F.nullif(beat_all, F.lit(0))).alias(
            "win_rate_on_beat"
        ),
        (miss_hits * 100.0 / F.nullif(miss_all, F.lit(0))).alias(
            "win_rate_on_miss"
        ),
        centered_corr(
            F.col("surprise_zscore") - F.col("mean_z"),
            F.col("monthly_return") - F.col("mean_r"),
        ).alias("surprise_correlation"),
    ]
    stats = (
        ev.groupBy(*grp)
        .agg(*aggs)
        .where(F.col("n_events") >= MIN_EVENTS)
    )
    spread_core = F.abs(
        F.coalesce("avg_return_beat", F.lit(0))
        - F.coalesce("avg_return_miss", F.lit(0))
    )
    return stats.select(
        "*",
        (
            F.coalesce(
                "avg_return_beat", "avg_return_large_beat", F.lit(0)
            )
            - F.coalesce(
                "avg_return_miss", "avg_return_large_miss", F.lit(0)
            )
        ).alias("beat_miss_spread"),
        (
            F.abs(F.coalesce("surprise_correlation", F.lit(0))) * 50
            + spread_core * 10
        ).alias("response_strength_score"),
        (
            (F.abs(F.coalesce("surprise_correlation", F.lit(0))) >= 0.2)
            | (spread_core >= 1.0)
        ).alias("is_surprise_responsive"),
        F.when(F.col("surprise_correlation") > 0.15, "Pro-cyclical")
        .when(F.col("surprise_correlation") < -0.15, "Counter-cyclical")
        .otherwise("Neutral")
        .alias("response_type"),
    ).orderBy("symbol", "series_code")
