"""Sector performance conditional on economic regime.

Mirror of ``dbt_project/models/analysis/sector_regime_performance.sql``:
monthly sector returns INNER-joined to the regime classification, then
per-(sector, regime) performance stats (count / mean / vol / Sharpe proxy
/ exact median / best / worst / win rate, :84-99), an 'Overall'
pseudo-regime union (:102-119), cross-sector regime averages for
relative performance, and a within-regime leaderboard rank (:122-151).

Mapping onto the synthetic warehouse: sectors = the five regions (the
reference's 11 sector ETFs), with the sector-name/type literal seed
(:44-60) as an inline broadcast mapping; the regime series is this
repo's ``economic_regime_classification`` month classifier, and both it
and the sector returns come from the shared staging panels
(``operators/panels.py``) — the same composed-model spine as the
reference's ``ref('economic_regime_classification')``.

Determinism deviations (documented): the reference's ROUND(...,2)
display rounding is dropped — group means/stddevs over the 4dp-rounded
return panel are decimal-exact and bit-identical unrounded, while
re-rounding quotients of clean decimals lands on half-cent ties where
the engines' double rounding disagrees. ``regime_avg_return`` is
computed from the underlying (sector, month) returns rather than as an
average of per-sector averages — identical under the balanced panel
(every region trades every month), and decimal-exact.

Scale: one lineitem scan -> two hash-aggs (per-region-month,
per-month-regime); the join is per-month (broadcast); stats are a
second small agg. Rank windows partition by regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.parity import sql_davg, sql_dsum
from ..registry import query
from .panels import monthly_regimes, sector_returns

SECTOR_SEED = [
    ("AFRICA", "Materials", "Cyclical"),
    ("AMERICA", "Technology", "Cyclical"),
    ("ASIA", "Industrial", "Cyclical"),
    ("EUROPE", "Financial", "Interest-Sensitive"),
    ("MIDDLE EAST", "Energy", "Defensive"),
]

_REV = "l_extendedprice * (1 - l_discount)"

_SEED_SQL = ", ".join(
    f"('{r}', '{n}', '{t}')" for r, n, t in SECTOR_SEED
)

_STATS = """
    COUNT(*) AS months_in_regime,
    {avg} AS avg_monthly_return,
    (CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
       ({ss} - {s} * {s} / COUNT(*)) / (COUNT(*) - 1.0), 0.0)) END)
      AS return_volatility,
    ({avg} / NULLIF((CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
       ({ss} - {s} * {s} / COUNT(*)) / (COUNT(*) - 1.0), 0.0)) END), 0))
      AS sharpe_proxy,
    QUANTILE_CONT(monthly_return, 0.5) AS median_return,
    MIN(monthly_return) AS worst_month,
    MAX(monthly_return) AS best_month,
    CAST(SUM(CASE WHEN monthly_return > 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS positive_months,
    (SUM(CASE WHEN monthly_return > 0 THEN 1 ELSE 0 END) * 100.0
     / COUNT(*)) AS win_rate
""".format(
    avg=sql_davg("monthly_return"),
    s=sql_dsum("monthly_return"),
    ss=sql_dsum("monthly_return * monthly_return"),
)

_ORACLE = f"""
WITH sector_monthly AS (
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
seed(symbol, sector_name, sector_type) AS (VALUES {_SEED_SQL}),
panel AS (
  SELECT sr.symbol, sn.sector_name, sn.sector_type, sr.month,
         sr.monthly_return, rc.regime
  FROM sector_returns sr
  JOIN regimes rc ON sr.month = rc.month
  LEFT JOIN seed sn ON sr.symbol = sn.symbol
  WHERE sr.monthly_return IS NOT NULL
),
regime_performance AS (
  SELECT symbol, sector_name, sector_type, regime, {_STATS}
  FROM panel GROUP BY symbol, sector_name, sector_type, regime
),
overall_performance AS (
  SELECT symbol, sector_name, sector_type, 'Overall' AS regime, {_STATS}
  FROM panel GROUP BY symbol, sector_name, sector_type
),
regime_averages AS (
  SELECT regime, {sql_davg("monthly_return")} AS regime_avg_return
  FROM panel GROUP BY regime
),
combined AS (
  SELECT rp.*, ra.regime_avg_return,
    (rp.avg_monthly_return - ra.regime_avg_return) AS relative_performance,
    CAST(ROW_NUMBER() OVER (PARTITION BY rp.regime
      ORDER BY rp.avg_monthly_return DESC, rp.symbol) AS BIGINT)
      AS regime_rank
  FROM regime_performance rp
  LEFT JOIN regime_averages ra ON rp.regime = ra.regime
  UNION ALL
  SELECT op.*, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS BIGINT)
  FROM overall_performance op
)
SELECT * FROM combined
ORDER BY symbol, regime
"""


@query("sector_regime_performance", oracle=_ORACLE)
def sector_regime_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    returns = sector_returns(li, su, na, re, {"monthly_return": 1})
    regimes = monthly_regimes(li).select("month", "regime")
    seed = spark.createDataFrame(
        SECTOR_SEED, ["symbol", "sector_name", "sector_type"]
    )
    # cached (r9): the panel (region x month rows) feeds THREE
    # aggregate consumers (per-regime stats, overall stats, regime
    # averages) — uncached each re-ran the lineitem join+agg and the
    # regime pivot (6 fact scans cold). repartition(1): see
    # data_points.py for the rationale.
    panel = (
        returns.join(F.broadcast(regimes), on="month")
        .join(F.broadcast(seed), on="symbol", how="left")
        .where(F.col("monthly_return").isNotNull())
        .repartition(1)
        .cache()
    )
    ret_dec = F.col("monthly_return").cast("decimal(28,6)")
    n = F.count("*")
    s = F.sum(ret_dec).cast("double")
    ss = F.sum(
        (F.col("monthly_return") * F.col("monthly_return")).cast(
            "decimal(28,6)"
        )
    ).cast("double")
    avg = s / n
    vol = F.when(
        n > 1,
        F.sqrt(F.greatest((ss - s * s / n) / (n - F.lit(1.0)), F.lit(0.0))),
    )
    stats = [
        n.cast("long").alias("months_in_regime"),
        avg.alias("avg_monthly_return"),
        vol.alias("return_volatility"),
        (avg / F.nullif(vol, F.lit(0))).alias("sharpe_proxy"),
        F.percentile("monthly_return", F.lit(0.5)).alias("median_return"),
        F.min("monthly_return").alias("worst_month"),
        F.max("monthly_return").alias("best_month"),
        F.sum(F.when(F.col("monthly_return") > 0, 1).otherwise(0))
        .cast("long")
        .alias("positive_months"),
        (
            F.sum(F.when(F.col("monthly_return") > 0, 1).otherwise(0))
            * 100.0
            / n
        ).alias("win_rate"),
    ]
    regime_perf = panel.groupBy(
        "symbol", "sector_name", "sector_type", "regime"
    ).agg(*stats)
    overall = panel.groupBy("symbol", "sector_name", "sector_type").agg(
        *stats
    ).select(
        "symbol",
        "sector_name",
        "sector_type",
        F.lit("Overall").alias("regime"),
        *[c for c in (
            "months_in_regime",
            "avg_monthly_return",
            "return_volatility",
            "sharpe_proxy",
            "median_return",
            "worst_month",
            "best_month",
            "positive_months",
            "win_rate",
        )],
        F.lit(None).cast("double").alias("regime_avg_return"),
        F.lit(None).cast("double").alias("relative_performance"),
        F.lit(None).cast("long").alias("regime_rank"),
    )
    regime_avgs = panel.groupBy("regime").agg(
        (F.sum(ret_dec).cast("double") / F.count("*")).alias(
            "regime_avg_return"
        )
    )
    wrank = Window.partitionBy("regime").orderBy(
        F.col("avg_monthly_return").desc(), F.col("symbol")
    )
    ranked = (
        regime_perf.join(F.broadcast(regime_avgs), on="regime", how="left")
        .select(
            "symbol",
            "sector_name",
            "sector_type",
            "regime",
            "months_in_regime",
            "avg_monthly_return",
            "return_volatility",
            "sharpe_proxy",
            "median_return",
            "worst_month",
            "best_month",
            "positive_months",
            "win_rate",
            "regime_avg_return",
            (
                F.col("avg_monthly_return") - F.col("regime_avg_return")
            ).alias("relative_performance"),
            F.row_number().over(wrank).cast("long").alias("regime_rank"),
        )
    )
    return ranked.unionByName(overall).orderBy("symbol", "regime")


# --------------------------------------------------------------------------
# Factor-tilt mapping (analysis/factor_tilts.sql:16-53): the monthly
# regime history LEFT-joined to a literal regime->tilt seed (the
# reference's UNNEST(STRUCT...) block), emitting the recommended factor
# tilts per month. Broadcast seed join — the regime series is the only
# scan.
# --------------------------------------------------------------------------

TILT_SEED = [
    (
        "expansion", "Neutral", "Overweight", "Neutral", "Underweight",
        "Neutral", "Momentum tends to lead in sustained expansions.",
    ),
    (
        "contraction", "Neutral", "Underweight", "Overweight", "Overweight",
        "Underweight",
        "Quality and low volatility typically hold up best in recessions.",
    ),
    (
        "neutral", "Overweight", "Neutral", "Overweight", "Neutral",
        "Neutral",
        "Value and financial strength tend to outperform late-cycle.",
    ),
]

_TILT_COLS = (
    "value_tilt", "momentum_tilt", "quality_tilt", "low_vol_tilt",
    "size_tilt", "notes",
)

_TILT_SEED_SQL = ", ".join(
    "(" + ", ".join(f"'{v}'" for v in row) + ")" for row in TILT_SEED
)

_TILTS_ORACLE = f"""
WITH regime_wide AS (
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
seed(regime, {", ".join(_TILT_COLS)}) AS (VALUES {_TILT_SEED_SQL})
SELECT rh.month, rh.regime, {", ".join("rm." + c for c in _TILT_COLS)}
FROM regimes rh
LEFT JOIN seed rm ON rh.regime = rm.regime
WHERE rh.regime IS NOT NULL
ORDER BY rh.month
"""


@query("factor_tilts", oracle=_TILTS_ORACLE)
def factor_tilts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    regimes = monthly_regimes(li).select("month", "regime")
    seed = spark.createDataFrame(
        TILT_SEED, ["regime", *_TILT_COLS]
    )
    return (
        regimes.join(F.broadcast(seed), on="regime", how="left")
        .where(F.col("regime").isNotNull())
        .select("month", "regime", *_TILT_COLS)
        .orderBy("month")
    )
