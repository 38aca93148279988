"""Enhanced correlation analysis: significance, regimes, stability.

Mirror of ``dbt_project/models/analysis/correlation_analysis_enhanced.sql``:
for every (sector, indicator) pair join monthly sector returns to
indicator MoM changes plus the regime classification (:56-74), then

- overall correlation with observation count (HAVING n >= 24, :77-100),
  a t-statistic ``r * sqrt(n-2) / sqrt(1-r^2)`` with the |r| < 0.9999
  guard, the normal-approximation p-value ladder, and conditional mean
  returns when the indicator rises/falls (:200-232);
- per-regime correlations (HAVING n >= 6) pivoted wide (:103-137) — our
  regimes are expansion/contraction/neutral rather than the reference's
  four;
- 12m/24m rolling correlations per pair, their sign-change count, and
  the stability block: rolling-corr stddev/min/max, the coefficient of
  variation as a stability score, and the is_stable flag (:140-183,
  :246-267);
- the final High/Medium/Low quality rating (:297-305).

Determinism: all correlations use the decimal-exact sum-of-squares
identity (group version two-pass centered via a means join, rolling
version windowed); ``POWER(r, 2)`` is ``r * r`` on both sides (pow is
libm territory); conditional mean returns stay unrounded (quotients of
clean 4dp decimals tie at display rounding); rounding is kept only on
post-sqrt (irrational) outputs where ties cannot occur. Final order is
(symbol, series_code) — the reference's ABS(correlation) DESC is
nondeterministic under ties.

Scale: the pair panel is (n_sectors x n_series x months) built by a
broadcast month join of the ``operators/panels.py`` sector returns,
indicator counts and regimes; group stats are distributed hash-aggs;
rolling windows partition by (symbol, series_code).
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
from .panels import indicator_counts, monthly_regimes, sector_returns

_REV = "l_extendedprice * (1 - l_discount)"
MIN_OVERALL = 24
MIN_REGIME = 6
REGIMES = ("expansion", "contraction", "neutral")


def _sql_roll_corr(win: str) -> str:
    n = f"COUNT(indicator_mom_pct) OVER {win}"
    sx = ta.sql_wsum("indicator_mom_pct", win)
    sy = ta.sql_wsum("monthly_return", win)
    sxx = ta.sql_wsum("indicator_mom_pct * indicator_mom_pct", win)
    syy = ta.sql_wsum("monthly_return * monthly_return", win)
    sxy = ta.sql_wsum("indicator_mom_pct * monthly_return", win)
    return (
        f"(CASE WHEN {n} > 1 THEN ({sxy} - {sx} * {sy} / {n})"
        f" / NULLIF(SQRT(GREATEST(({sxx} - {sx} * {sx} / {n})"
        f" * ({syy} - {sy} * {sy} / {n}), 0.0)), 0) END)"
    )


_T_RAW = (
    "(correlation * SQRT(n_observations - 2)"
    " / NULLIF(SQRT(1 - correlation * correlation), 0))"
)

_REGIME_PIVOT = ",\n    ".join(
    f"MAX(CASE WHEN regime = '{r}' THEN correlation END) AS corr_{r},\n"
    f"    MAX(CASE WHEN regime = '{r}' THEN n_observations END) AS n_{r}"
    for r in REGIMES
)

_ORACLE = f"""
WITH ind_monthly AS (
  SELECT o_orderpriority AS series_code,
         date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM orders GROUP BY 1, 2
),
ind_pct AS (
  SELECT series_code, month,
    ROUND((value - LAG(value) OVER w)
          / ABS(LAG(value) OVER w) * 100, 4) AS indicator_mom_pct
  FROM ind_monthly
  WINDOW w AS (PARTITION BY series_code ORDER BY month)
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
regime_wide AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
    {sql_dsum("CASE WHEN l_returnflag = 'A' THEN " + _REV + " END")} AS rev_a,
    {sql_dsum("CASE WHEN l_returnflag = 'N' THEN " + _REV + " END")} AS rev_n,
    {sql_dsum("CASE WHEN l_returnflag = 'R' THEN " + _REV + " END")} AS rev_r
  FROM lineitem GROUP BY 1
),
regimes AS (
  SELECT month,
    (CASE WHEN rev_n > COALESCE(rev_a, 0) + COALESCE(rev_r, 0)
            THEN 'expansion'
          WHEN COALESCE(rev_r, 0) > COALESCE(rev_n, 0) THEN 'contraction'
          ELSE 'neutral' END) AS regime
  FROM regime_wide
),
panel AS (
  SELECT sr.symbol, sr.month, sr.monthly_return,
         ip.series_code, ip.indicator_mom_pct,
         COALESCE(rc.regime, 'Unknown') AS regime
  FROM sector_returns sr
  JOIN ind_pct ip ON sr.month = ip.month
  LEFT JOIN regimes rc ON sr.month = rc.month
  WHERE ip.indicator_mom_pct IS NOT NULL
    AND sr.monthly_return IS NOT NULL
),
grp_means AS (
  SELECT symbol, series_code,
         {sql_davg("indicator_mom_pct")} AS mean_i,
         {sql_davg("monthly_return")} AS mean_r
  FROM panel GROUP BY symbol, series_code
),
overall AS (
  SELECT p.symbol, p.series_code,
    CAST(COUNT(*) AS BIGINT) AS n_observations,
    {sql_centered_corr("p.indicator_mom_pct - m.mean_i",
                       "p.monthly_return - m.mean_r")} AS correlation,
    {sql_davg("CASE WHEN p.indicator_mom_pct > 0 THEN p.monthly_return END")}
      AS avg_return_indicator_up,
    {sql_davg("CASE WHEN p.indicator_mom_pct < 0 THEN p.monthly_return END")}
      AS avg_return_indicator_down
  FROM panel p
  JOIN grp_means m ON p.symbol = m.symbol AND p.series_code = m.series_code
  GROUP BY p.symbol, p.series_code
  HAVING COUNT(*) >= {MIN_OVERALL}
),
regime_means AS (
  SELECT symbol, series_code, regime,
         {sql_davg("indicator_mom_pct")} AS mean_i,
         {sql_davg("monthly_return")} AS mean_r
  FROM panel GROUP BY symbol, series_code, regime
),
regime_corrs AS (
  SELECT p.symbol, p.series_code, p.regime,
    CAST(COUNT(*) AS BIGINT) AS n_observations,
    {sql_centered_corr("p.indicator_mom_pct - m.mean_i",
                       "p.monthly_return - m.mean_r")} AS correlation
  FROM panel p
  JOIN regime_means m ON p.symbol = m.symbol
    AND p.series_code = m.series_code AND p.regime = m.regime
  WHERE p.regime IN ({", ".join(f"'{r}'" for r in REGIMES)})
  GROUP BY p.symbol, p.series_code, p.regime
  HAVING COUNT(*) >= {MIN_REGIME}
),
regime_pivot AS (
  SELECT symbol, series_code,
    {_REGIME_PIVOT}
  FROM regime_corrs GROUP BY symbol, series_code
),
rolling AS (
  SELECT symbol, series_code, month,
    {_sql_roll_corr("w12")} AS rolling_corr_12m
  FROM panel
  WINDOW w12 AS (PARTITION BY symbol, series_code ORDER BY month
                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
),
with_signs AS (
  SELECT *,
    (CASE WHEN rolling_corr_12m * LAG(rolling_corr_12m) OVER
            (PARTITION BY symbol, series_code ORDER BY month) < 0
          THEN 1 ELSE 0 END) AS sign_change_flag
  FROM rolling
  WHERE rolling_corr_12m IS NOT NULL
),
stability AS (
  SELECT symbol, series_code,
    (CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
       ({sql_dsum("rolling_corr_12m * rolling_corr_12m")}
        - {sql_dsum("rolling_corr_12m")} * {sql_dsum("rolling_corr_12m")}
          / COUNT(*)) / (COUNT(*) - 1.0), 0.0)) END) AS rolling_corr_std,
    {sql_davg("rolling_corr_12m")} AS rolling_corr_mean,
    MIN(rolling_corr_12m) AS rolling_corr_min,
    MAX(rolling_corr_12m) AS rolling_corr_max,
    CAST(SUM(sign_change_flag) AS BIGINT) AS sign_changes
  FROM with_signs GROUP BY symbol, series_code
)
SELECT oc.symbol, oc.series_code, oc.n_observations,
  (ROUND(oc.correlation, 4) + 0.0) AS correlation,
  (ROUND(CASE WHEN ABS(oc.correlation) < 0.9999 AND oc.n_observations > 2
             THEN oc.correlation * SQRT(oc.n_observations - 2)
                  / SQRT(1 - oc.correlation * oc.correlation) END, 3)
    + 0.0) AS t_statistic,
  (CASE WHEN ABS({_T_RAW}) > 3.291 THEN 'p < 0.001'
        WHEN ABS({_T_RAW}) > 2.576 THEN 'p < 0.01'
        WHEN ABS({_T_RAW}) > 1.96 THEN 'p < 0.05'
        WHEN ABS({_T_RAW}) > 1.645 THEN 'p < 0.10'
        ELSE 'p >= 0.10' END) AS significance_level,
  (ABS({_T_RAW}) > 1.96) AS is_significant,
  oc.avg_return_indicator_up,
  oc.avg_return_indicator_down,
  (COALESCE(oc.avg_return_indicator_up, 0)
   - COALESCE(oc.avg_return_indicator_down, 0)) AS return_spread,
  {", ".join(f"(ROUND(rp.corr_{r}, 4) + 0.0) AS corr_{r}, rp.n_{r}" for r in REGIMES)},
  (ROUND(cs.rolling_corr_std, 4) + 0.0) AS correlation_volatility,
  (ROUND(cs.rolling_corr_min, 4) + 0.0) AS correlation_min,
  (ROUND(cs.rolling_corr_max, 4) + 0.0) AS correlation_max,
  cs.sign_changes AS correlation_sign_changes,
  (ROUND(CASE WHEN cs.rolling_corr_mean != 0
             THEN ABS(cs.rolling_corr_std / cs.rolling_corr_mean) END, 2)
    + 0.0) AS stability_score,
  (cs.rolling_corr_mean != 0
   AND ABS(cs.rolling_corr_std / cs.rolling_corr_mean) < 1) AS is_stable,
  (CASE WHEN ABS({_T_RAW}) > 1.96 AND (cs.rolling_corr_mean != 0
          AND ABS(cs.rolling_corr_std / cs.rolling_corr_mean) < 1)
          THEN 'High'
        WHEN ABS({_T_RAW}) > 1.96 OR (cs.rolling_corr_mean != 0
          AND ABS(cs.rolling_corr_std / cs.rolling_corr_mean) < 1)
          THEN 'Medium'
        ELSE 'Low' END) AS quality_rating
FROM overall oc
LEFT JOIN regime_pivot rp
  ON oc.symbol = rp.symbol AND oc.series_code = rp.series_code
LEFT JOIN stability cs
  ON oc.symbol = cs.symbol AND oc.series_code = cs.series_code
ORDER BY oc.symbol, oc.series_code
"""


def _panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")

    ws = Window.partitionBy("series_code").orderBy("month")
    ind = indicator_counts(orders).select(
        "series_code",
        "month",
        F.round(
            (F.col("value") - F.lag("value").over(ws))
            / F.abs(F.lag("value").over(ws))
            * 100,
            4,
        ).alias("indicator_mom_pct"),
    )
    returns = sector_returns(li, su, na, re, {"monthly_return": 1})
    regimes = monthly_regimes(li).select("month", "regime")
    return (
        returns.join(F.broadcast(ind), on="month")
        .join(F.broadcast(regimes), on="month", how="left")
        .withColumn("regime", F.coalesce("regime", F.lit("Unknown")))
        .where(
            F.col("indicator_mom_pct").isNotNull()
            & F.col("monthly_return").isNotNull()
        )
    )


def _group_corr(panel: DataFrame, keys: list[str]) -> DataFrame:
    """Two-pass centered correlation + count per key group."""
    means = panel.groupBy(*keys).agg(
        davg("indicator_mom_pct").alias("mean_i"),
        davg("monthly_return").alias("mean_r"),
    )
    return (
        panel.join(F.broadcast(means), on=keys)
        .groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_observations"),
            centered_corr(
                F.col("indicator_mom_pct") - F.col("mean_i"),
                F.col("monthly_return") - F.col("mean_r"),
            ).alias("correlation"),
            davg(
                F.when(
                    F.col("indicator_mom_pct") > 0, F.col("monthly_return")
                )
            ).alias("avg_return_indicator_up"),
            davg(
                F.when(
                    F.col("indicator_mom_pct") < 0, F.col("monthly_return")
                )
            ).alias("avg_return_indicator_down"),
        )
    )


@query("correlation_analysis_enhanced", oracle=_ORACLE)
def correlation_analysis_enhanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # cached (r9): the joined panel is (region x priority x month)
    # sized — a few thousand rows at any corpus scale — and is consumed
    # by the overall corr, the per-regime corr, the rolling-window corr
    # and the stability screen (each corr helper reads it twice more
    # for its means join); uncached the cold plan re-ran the fact
    # aggregates 7+5 times (plan-gated). repartition(1): see
    # data_points.py for the reduce-stage rationale.
    panel = _panel(spark, sf_dir).repartition(1).cache()
    pair = ["symbol", "series_code"]

    overall = _group_corr(panel, pair).where(
        F.col("n_observations") >= MIN_OVERALL
    )

    regime_corrs = (
        _group_corr(
            panel.where(F.col("regime").isin(*REGIMES)),
            pair + ["regime"],
        )
        .where(F.col("n_observations") >= MIN_REGIME)
        .drop("avg_return_indicator_up", "avg_return_indicator_down")
    )
    pivots = []
    for r in REGIMES:
        pivots += [
            F.max(
                F.when(F.col("regime") == r, F.col("correlation"))
            ).alias(f"corr_{r}"),
            F.max(
                F.when(F.col("regime") == r, F.col("n_observations"))
            ).alias(f"n_{r}"),
        ]
    regime_pivot = regime_corrs.groupBy(*pair).agg(*pivots)

    w12 = (
        Window.partitionBy(*pair).orderBy("month").rowsBetween(-11, 0)
    )
    x, y = F.col("indicator_mom_pct"), F.col("monthly_return")
    n = F.count(x).over(w12)
    sx, sy = ta.wsum(x, w12), ta.wsum(y, w12)
    sxx, syy, sxy = (
        ta.wsum(x * x, w12),
        ta.wsum(y * y, w12),
        ta.wsum(x * y, w12),
    )
    roll = F.when(
        n > 1,
        (sxy - sx * sy / n)
        / F.nullif(
            F.sqrt(
                F.greatest(
                    (sxx - sx * sx / n) * (syy - sy * sy / n), F.lit(0.0)
                )
            ),
            F.lit(0),
        ),
    )
    rolling = panel.select(
        *pair, "month", roll.alias("rolling_corr_12m")
    ).where(F.col("rolling_corr_12m").isNotNull())
    wlag = Window.partitionBy(*pair).orderBy("month")
    signs = rolling.withColumn(
        "sign_change_flag",
        F.when(
            F.col("rolling_corr_12m")
            * F.lag("rolling_corr_12m").over(wlag)
            < 0,
            1,
        ).otherwise(0),
    )
    rc = F.col("rolling_corr_12m")
    ns = F.count("*")
    s1 = F.sum(rc.cast("decimal(28,6)")).cast("double")
    s2 = F.sum((rc * rc).cast("decimal(28,6)")).cast("double")
    stability = signs.groupBy(*pair).agg(
        F.when(
            ns > 1,
            F.sqrt(
                F.greatest(
                    (s2 - s1 * s1 / ns) / (ns - F.lit(1.0)), F.lit(0.0)
                )
            ),
        ).alias("rolling_corr_std"),
        (s1 / ns).alias("rolling_corr_mean"),
        F.min(rc).alias("rolling_corr_min"),
        F.max(rc).alias("rolling_corr_max"),
        F.sum("sign_change_flag").cast("long").alias("sign_changes"),
    )

    joined = overall.join(
        F.broadcast(regime_pivot), on=pair, how="left"
    ).join(F.broadcast(stability), on=pair, how="left")

    r = F.col("correlation")
    t_raw = (
        r
        * F.sqrt(F.col("n_observations") - 2)
        / F.nullif(F.sqrt(1 - r * r), F.lit(0))
    )
    cv_ok = (F.col("rolling_corr_mean") != 0) & (
        F.abs(F.col("rolling_corr_std") / F.col("rolling_corr_mean")) < 1
    )
    sig = F.abs(t_raw) > 1.96
    out_cols = [
        "symbol",
        "series_code",
        "n_observations",
        (F.round(r, 4) + F.lit(0.0)).alias("correlation"),
        (
            F.round(
                F.when(
                    (F.abs(r) < 0.9999) & (F.col("n_observations") > 2),
                    r
                    * F.sqrt(F.col("n_observations") - 2)
                    / F.sqrt(1 - r * r),
                ),
                3,
            )
            + F.lit(0.0)
        ).alias("t_statistic"),
        F.when(F.abs(t_raw) > 3.291, "p < 0.001")
        .when(F.abs(t_raw) > 2.576, "p < 0.01")
        .when(F.abs(t_raw) > 1.96, "p < 0.05")
        .when(F.abs(t_raw) > 1.645, "p < 0.10")
        .otherwise("p >= 0.10")
        .alias("significance_level"),
        sig.alias("is_significant"),
        "avg_return_indicator_up",
        "avg_return_indicator_down",
        (
            F.coalesce("avg_return_indicator_up", F.lit(0))
            - F.coalesce("avg_return_indicator_down", F.lit(0))
        ).alias("return_spread"),
    ]
    for reg in REGIMES:
        out_cols += [
            (F.round(F.col(f"corr_{reg}"), 4) + F.lit(0.0)).alias(
                f"corr_{reg}"
            ),
            f"n_{reg}",
        ]
    out_cols += [
        (F.round("rolling_corr_std", 4) + F.lit(0.0)).alias(
            "correlation_volatility"
        ),
        (F.round("rolling_corr_min", 4) + F.lit(0.0)).alias(
            "correlation_min"
        ),
        (F.round("rolling_corr_max", 4) + F.lit(0.0)).alias(
            "correlation_max"
        ),
        F.col("sign_changes").alias("correlation_sign_changes"),
        (
            F.round(
                F.when(
                    F.col("rolling_corr_mean") != 0,
                    F.abs(
                        F.col("rolling_corr_std")
                        / F.col("rolling_corr_mean")
                    ),
                ),
                2,
            )
            + F.lit(0.0)
        ).alias("stability_score"),
        cv_ok.alias("is_stable"),
        F.when(sig & cv_ok, "High")
        .when(sig | cv_ok, "Medium")
        .otherwise("Low")
        .alias("quality_rating"),
    ]
    return joined.select(*out_cols).orderBy("symbol", "series_code")
