"""Sector-sensitivity composed model chain.

The reference's macro-sensitivity spine, run through the DAG executor:

  ``sector_indicator_sensitivity``  (analysis/sector_indicator_sensitivity.sql)
    -> ``sector_sensitivity_summary``   (analysis/sector_sensitivity_summary.sql)
    -> ``portfolio_macro_factors``      (analysis/portfolio_macro_factors.sql)

Layer 0 joins the shared staging panels (``operators/panels.py``
sector returns and indicator counts) into the (sector x indicator)
monthly panel with 1/2/3/6-month indicator lags. Layer 1 computes nine
correlations per pair — four contemporaneous horizons, four lagged
(predictive), one 3mo-vs-3mo — plus the best-lag pick and the
0.3/0.2/0.5 sensitivity score
(sector_indicator_sensitivity.sql:143-248). Layer 2 ranks indicators
within sectors (ROW_NUMBER + PERCENT_RANK), attaches sector- and
category-level context, and flags top-N / predictive power
(sector_sensitivity_summary.sql:12-139). Layer 3 maps indicators to
macro factors, aggregates factor-exposure scores, pivots the per-factor
exposures wide, and ranks sectors per factor
(portfolio_macro_factors.sql:107-194).

All three layers are view-materialized through ModelGraph, so Catalyst
fuses the chain: the panel is built once and every layer's pruning
pushes through the model boundary.

Determinism notes: every correlation conditions BOTH deviations on the
pair's joint non-null mask so numerator/denominator sums cover the same
rows; rank/tiebreaks add series_code / symbol; averages of
already-rounded values stay unrounded (clean-decimal quotients tie at
display rounding — the engines' double ROUND tie-breaks disagree);
ROUND is kept on post-sqrt outputs (correlations, stddevs, scores)
where ties cannot occur. STRING_AGG(DISTINCT ... ORDER BY) is
array_sort(collect_set) + array_join on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.parity import (
    davg,
    sql_centered_corr,
    sql_davg,
    sql_dsum,
)
from ..operators.panels import indicator_counts, sector_returns
from ..registry import query
from .dag import ModelGraph

_REV = "l_extendedprice * (1 - l_discount)"
MIN_OBS = 24
RET_HORIZONS = {"return_1mo": 1, "return_3mo": 3, "return_6mo": 6,
                "return_12mo": 12}
IND_LAGS = (1, 2, 3, 6)

# (x, y, output alias) — the nine correlation pairs of layer 1.
CORR_PAIRS = [
    ("indicator_mom_pct", "return_1mo", "corr_1mo_contemp"),
    ("indicator_mom_pct", "return_3mo", "corr_3mo_contemp"),
    ("indicator_mom_pct", "return_6mo", "corr_6mo_contemp"),
    ("indicator_mom_pct", "return_12mo", "corr_12mo_contemp"),
    ("indicator_mom_lag1", "return_1mo", "corr_1mo_lag1"),
    ("indicator_mom_lag2", "return_1mo", "corr_1mo_lag2"),
    ("indicator_mom_lag3", "return_1mo", "corr_1mo_lag3"),
    ("indicator_mom_lag6", "return_1mo", "corr_1mo_lag6"),
    ("indicator_3mo_pct", "return_3mo", "corr_3mo_indicator_3mo_return"),
]

CATEGORY_SEED = [
    ("1-URGENT", "Urgency"),
    ("2-HIGH", "Urgency"),
    ("3-MEDIUM", "Demand"),
    ("4-NOT SPECIFIED", "Demand"),
    ("5-LOW", "Slack"),
]

FACTOR_SEED = [
    ("1-URGENT", "Rates", "Fed Funds"),
    ("2-HIGH", "Rates", "Yield Curve"),
    ("3-MEDIUM", "Growth", "Industrial Production"),
    ("4-NOT SPECIFIED", "Growth", "Retail Sales"),
    ("5-LOW", "Employment", "Jobs"),
]

FACTORS = ("Rates", "Growth", "Employment")

GRAPH = ModelGraph()


# ------------------------------------------------------------- layer 0

@GRAPH.model("sens_panel", materialization="cached_view")
def sens_panel(spark: SparkSession) -> DataFrame:
    orders = spark.table("__src_orders")
    li = spark.table("__src_lineitem")
    su = spark.table("__src_supplier")
    na = spark.table("__src_nation")
    re = spark.table("__src_region")

    ws = Window.partitionBy("series_code").orderBy("month")

    def pct(lag_n: int) -> Column:
        prev = F.lag("value", lag_n).over(ws)
        return F.when(
            prev.isNotNull() & (prev != 0),
            F.round((F.col("value") - prev) / F.abs(prev) * 100, 4),
        )

    ind = indicator_counts(orders).select(
        "series_code",
        "month",
        pct(1).alias("indicator_mom_pct"),
        pct(3).alias("indicator_3mo_pct"),
    )
    returns = sector_returns(li, su, na, re, RET_HORIZONS)
    joined = returns.join(F.broadcast(ind), on="month")
    wpair = Window.partitionBy("symbol", "series_code").orderBy("month")
    return joined.select(
        "*",
        *[
            F.lag("indicator_mom_pct", n)
            .over(wpair)
            .alias(f"indicator_mom_lag{n}")
            for n in IND_LAGS
        ],
    ).where(F.col("indicator_mom_pct").isNotNull())


# ------------------------------------------------------------- layer 1

def _pair_means(panel: DataFrame) -> DataFrame:
    # r16 (guide §5, VERDICT r15 #3): the 18 conditional means are
    # built as SQL strings through the SAME generator the oracle uses
    # (sql_davg) and parsed with one F.expr py4j round trip each —
    # the Column-operator form cost ~25 py4j calls per mean. The
    # analyzed expression tree is identical (CASE WHEN both THEN x
    # END, decimal-exact sum / count), so results are unchanged.
    aggs = []
    for x, y, a in CORR_PAIRS:
        cond = f"{x} IS NOT NULL AND {y} IS NOT NULL"
        aggs += [
            F.expr(sql_davg(f"CASE WHEN {cond} THEN {x} END")).alias(
                f"mean_x_{a}"
            ),
            F.expr(sql_davg(f"CASE WHEN {cond} THEN {y} END")).alias(
                f"mean_y_{a}"
            ),
        ]
    return panel.groupBy("symbol", "series_code").agg(*aggs)


@GRAPH.model(
    "sector_indicator_sensitivity",
    deps=("sens_panel",),
    materialization="cached_view",
)
def sector_indicator_sensitivity_model(spark: SparkSession) -> DataFrame:
    panel = spark.table("sens_panel")
    cat = spark.createDataFrame(
        CATEGORY_SEED, ["series_code", "indicator_category"]
    )
    ev = panel.join(
        F.broadcast(_pair_means(panel)), on=["symbol", "series_code"]
    )
    # r16 (guide §5, VERDICT r15 #3): the 9-corr battery + the stats
    # aggregates are generated as SQL strings through the SAME
    # generators the oracle renders (sql_centered_corr / sql_davg) and
    # parsed with one F.expr round trip each, replacing ~1500 py4j
    # Column-construction calls. `0.0D` is an explicit double literal
    # (the Column form added F.lit(0.0)); expression trees and results
    # are unchanged — the three chain oracles adjudicate.
    corr_aggs = []
    for x, y, a in CORR_PAIRS:
        cond = f"{x} IS NOT NULL AND {y} IS NOT NULL"
        corr = sql_centered_corr(
            f"CASE WHEN {cond} THEN {x} - mean_x_{a} END",
            f"CASE WHEN {cond} THEN {y} - mean_y_{a} END",
        )
        # signed-zero collapse (ta.emit rule)
        corr_aggs.append(F.expr(f"ROUND({corr}, 4) + 0.0D").alias(a))

    def _std_sql(e: str) -> str:
        n = f"COUNT({e})"
        s = f"CAST(SUM(CAST(({e}) AS DECIMAL(28,6))) AS DOUBLE)"
        ss = (
            f"CAST(SUM(CAST((({e}) * ({e})) AS DECIMAL(28,6)))"
            " AS DOUBLE)"
        )
        return (
            f"CASE WHEN {n} > 1 THEN SQRT(GREATEST(({ss} - {s} * {s}"
            f" / {n}) / ({n} - 1.0), 0.0)) END"
        )

    up = sql_davg("CASE WHEN indicator_mom_pct > 0 THEN return_1mo END")
    down = sql_davg("CASE WHEN indicator_mom_pct < 0 THEN return_1mo END")
    stats = (
        ev.groupBy("symbol", "series_code")
        .agg(
            F.count("*").cast("long").alias("observation_count"),
            *corr_aggs,
            F.expr(up).alias("avg_return_indicator_up"),
            F.expr(down).alias("avg_return_indicator_down"),
            F.expr(f"({up}) - ({down})").alias("return_spread"),
            F.expr(
                f"ROUND({_std_sql('indicator_mom_pct')}, 2)"
            ).alias("indicator_volatility"),
            F.expr(f"ROUND({_std_sql('return_1mo')}, 2)").alias(
                "sector_return_volatility"
            ),
        )
        .where(F.col("observation_count") >= MIN_OBS)
    )
    lags_abs = [
        F.abs(F.coalesce(F.col(f"corr_1mo_lag{n}"), F.lit(0)))
        for n in IND_LAGS
    ]
    best_lag = (
        F.when(
            (lags_abs[0] >= lags_abs[1])
            & (lags_abs[0] >= lags_abs[2])
            & (lags_abs[0] >= lags_abs[3]),
            1,
        )
        .when((lags_abs[1] >= lags_abs[2]) & (lags_abs[1] >= lags_abs[3]), 2)
        .when(lags_abs[2] >= lags_abs[3], 3)
        .otherwise(6)
        .cast("long")
    )
    score = F.round(
        (
            F.abs(F.coalesce(F.col("corr_1mo_contemp"), F.lit(0))) * 0.3
            + F.abs(F.coalesce(F.col("corr_3mo_contemp"), F.lit(0))) * 0.2
            + F.greatest(*lags_abs[:3]) * 0.5
        )
        * 100,
        2,
    )
    return stats.join(F.broadcast(cat), on="series_code").select(
        "symbol",
        "series_code",
        "indicator_category",
        "observation_count",
        *[a for _, _, a in CORR_PAIRS],
        best_lag.alias("best_lag_months"),
        F.greatest(*lags_abs).alias("best_lag_correlation_abs"),
        "avg_return_indicator_up",
        "avg_return_indicator_down",
        "return_spread",
        "indicator_volatility",
        "sector_return_volatility",
        score.alias("sensitivity_score"),
    )


# ------------------------------------------------------------- layer 2

@GRAPH.model(
    "sector_sensitivity_summary", deps=("sector_indicator_sensitivity",)
)
def sector_sensitivity_summary_model(spark: SparkSession) -> DataFrame:
    base = spark.table("sector_indicator_sensitivity")
    wrank = Window.partitionBy("symbol").orderBy(
        F.col("sensitivity_score").desc(), F.col("series_code")
    )
    wpct = Window.partitionBy("symbol").orderBy("sensitivity_score")
    c1 = F.col("corr_1mo_contemp")
    ranked = base.select(
        "*",
        F.row_number().over(wrank).cast("long").alias("rank_in_sector"),
        F.percent_rank().over(wpct).alias("pctile_raw"),
        F.when(c1 > 0, "Positive")
        .when(c1 < 0, "Negative")
        .otherwise("Neutral")
        .alias("correlation_direction"),
        F.when(F.abs(c1) >= 0.5, "Strong")
        .when(F.abs(c1) >= 0.3, "Moderate")
        .when(F.abs(c1) >= 0.1, "Weak")
        .otherwise("Negligible")
        .alias("correlation_strength"),
    )
    sector_summary = ranked.groupBy("symbol").agg(
        F.count("*").cast("long").alias("total_indicators_analyzed"),
        davg("sensitivity_score").alias("sector_avg_sensitivity"),
        F.count(F.when(F.col("sensitivity_score") >= 20, F.lit(1)))
        .cast("long")
        .alias("sector_high_sensitivity_count"),
        F.max(
            F.when(
                F.col("rank_in_sector") == 1, F.col("series_code")
            )
        ).alias("top_indicator_code"),
    )
    category_summary = ranked.groupBy(
        "symbol", "indicator_category"
    ).agg(
        davg("sensitivity_score").alias("avg_category_sensitivity"),
        davg("corr_1mo_contemp").alias("avg_category_correlation"),
    )
    return (
        ranked.join(F.broadcast(sector_summary), on="symbol", how="left")
        .join(
            F.broadcast(category_summary),
            on=["symbol", "indicator_category"],
            how="left",
        )
        .select(
            "symbol",
            "series_code",
            "indicator_category",
            "observation_count",
            "corr_1mo_contemp",
            "corr_3mo_contemp",
            "best_lag_months",
            "best_lag_correlation_abs",
            "avg_return_indicator_up",
            "avg_return_indicator_down",
            "return_spread",
            "sensitivity_score",
            "rank_in_sector",
            F.round(F.col("pctile_raw") * 100, 1).alias(
                "percentile_in_sector"
            ),
            "correlation_direction",
            "correlation_strength",
            "total_indicators_analyzed",
            "sector_avg_sensitivity",
            "sector_high_sensitivity_count",
            "top_indicator_code",
            "avg_category_sensitivity",
            "avg_category_correlation",
            (F.col("rank_in_sector") <= 5).alias("is_top_5_for_sector"),
            (
                (F.col("best_lag_correlation_abs") >= 0.2)
                & F.col("best_lag_months").between(1, 3)
            ).alias("has_predictive_power"),
        )
    )


# ------------------------------------------------------------- layer 3

@GRAPH.model(
    "portfolio_macro_factors", deps=("sector_indicator_sensitivity",)
)
def portfolio_macro_factors_model(spark: SparkSession) -> DataFrame:
    sens = spark.table("sector_indicator_sensitivity")
    fmap = spark.createDataFrame(
        FACTOR_SEED, ["series_code", "macro_factor", "sub_factor"]
    )
    joined = sens.join(F.broadcast(fmap), on="series_code").where(
        F.col("sensitivity_score").isNotNull()
    )
    scores = joined.groupBy("symbol", "macro_factor").agg(
        F.countDistinct("series_code").cast("long").alias(
            "indicator_count"
        ),
        davg("sensitivity_score").alias("avg_sensitivity"),
        F.max("sensitivity_score").alias("max_sensitivity"),
        davg(F.abs(F.col("corr_1mo_contemp"))).alias(
            "avg_abs_correlation"
        ),
        davg("best_lag_correlation_abs").alias("avg_lag_correlation"),
        (
            davg("sensitivity_score") * 0.6
            + davg("best_lag_correlation_abs") * 100 * 0.4
        ).alias("factor_exposure_score"),
        F.array_join(
            F.array_sort(F.collect_set("sub_factor")), ", "
        ).alias("sub_factors"),
    )
    pivots = [
        F.max(
            F.when(
                F.col("macro_factor") == f,
                F.col("factor_exposure_score"),
            )
        ).alias(f"{f.lower()}_exposure")
        for f in FACTORS
    ]
    agg = scores.groupBy("symbol").agg(
        F.sum("indicator_count").cast("long").alias("total_indicators"),
        davg("factor_exposure_score").alias("overall_macro_exposure"),
        *pivots,
    )
    wrank = Window.partitionBy("macro_factor").orderBy(
        F.col("factor_exposure_score").desc(), F.col("symbol")
    )
    return (
        scores.join(F.broadcast(agg), on="symbol")
        .select(
            "symbol",
            "macro_factor",
            "indicator_count",
            "avg_sensitivity",
            "max_sensitivity",
            "avg_abs_correlation",
            "avg_lag_correlation",
            "factor_exposure_score",
            "sub_factors",
            "total_indicators",
            "overall_macro_exposure",
            *[f"{f.lower()}_exposure" for f in FACTORS],
            F.rank().over(wrank).cast("long").alias("factor_rank"),
        )
    )


# ------------------------------------------------------------- oracle SQL

def _panel_sql() -> str:
    ret_sel = ",\n    ".join(
        f"ROUND((rev / NULLIF(LAG(rev, {m}) OVER w, 0) - 1) * 100, 4)"
        f" AS {h}"
        for h, m in RET_HORIZONS.items()
    )
    lag_sel = ",\n    ".join(
        f"LAG(indicator_mom_pct, {n}) OVER wp AS indicator_mom_lag{n}"
        for n in IND_LAGS
    )

    def ipct(lag_n: int, alias: str) -> str:
        prev = f"LAG(value, {lag_n}) OVER ws"
        return (
            f"(CASE WHEN {prev} IS NOT NULL AND {prev} != 0 THEN"
            f" ROUND((value - {prev}) / ABS({prev}) * 100, 4) END)"
            f" AS {alias}"
        )

    return f"""
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
    {ret_sel}
  FROM sector_monthly
  WINDOW w AS (PARTITION BY symbol ORDER BY month)
),
ind AS (
  SELECT series_code, month,
    {ipct(1, "indicator_mom_pct")},
    {ipct(3, "indicator_3mo_pct")}
  FROM (
    SELECT o_orderpriority AS series_code,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
           CAST(COUNT(*) AS BIGINT) AS value
    FROM orders GROUP BY 1, 2
  )
  WINDOW ws AS (PARTITION BY series_code ORDER BY month)
),
panel AS (
  SELECT * FROM (
    SELECT sr.*, i.series_code, i.indicator_mom_pct, i.indicator_3mo_pct,
      {lag_sel}
    FROM sector_returns sr
    JOIN ind i ON sr.month = i.month
    WINDOW wp AS (PARTITION BY sr.symbol, i.series_code ORDER BY sr.month)
  ) WHERE indicator_mom_pct IS NOT NULL
)"""


def _pair_mean_sql(x: str, y: str, a: str) -> str:
    cond = f"{x} IS NOT NULL AND {y} IS NOT NULL"
    mx = sql_davg(f"CASE WHEN {cond} THEN {x} END")
    my = sql_davg(f"CASE WHEN {cond} THEN {y} END")
    return f"{mx} AS mean_x_{a},\n    {my} AS mean_y_{a}"


def _sens_sql() -> str:
    mean_sel = ",\n    ".join(
        _pair_mean_sql(x, y, a) for x, y, a in CORR_PAIRS
    )
    corr_sel = ",\n    ".join(
        "(ROUND("
        + sql_centered_corr(
            f"CASE WHEN p.{x} IS NOT NULL AND p.{y} IS NOT NULL"
            f" THEN p.{x} - m.mean_x_{a} END",
            f"CASE WHEN p.{x} IS NOT NULL AND p.{y} IS NOT NULL"
            f" THEN p.{y} - m.mean_y_{a} END",
        )
        + f", 4) + 0.0) AS {a}"
        for x, y, a in CORR_PAIRS
    )

    def std(expr: str) -> str:
        n = f"COUNT({expr})"
        s = sql_dsum(expr)
        ss = sql_dsum(f"({expr}) * ({expr})")
        return (
            f"(CASE WHEN {n} > 1 THEN ROUND(SQRT(GREATEST(({ss} - {s} * {s}"
            f" / {n}) / ({n} - 1.0), 0.0)), 2) END)"
        )

    lags = [
        f"ABS(COALESCE(corr_1mo_lag{n}, 0))" for n in IND_LAGS
    ]
    cat_vals = ", ".join(
        f"('{c}', '{k}')" for c, k in CATEGORY_SEED
    )
    return f"""{_panel_sql()},
pair_means AS (
  SELECT symbol, series_code,
    {mean_sel}
  FROM panel GROUP BY symbol, series_code
),
corr_stats AS (
  SELECT p.symbol, p.series_code,
    CAST(COUNT(*) AS BIGINT) AS observation_count,
    {corr_sel},
    {sql_davg("CASE WHEN p.indicator_mom_pct > 0 THEN p.return_1mo END")}
      AS avg_return_indicator_up,
    {sql_davg("CASE WHEN p.indicator_mom_pct < 0 THEN p.return_1mo END")}
      AS avg_return_indicator_down,
    ({sql_davg("CASE WHEN p.indicator_mom_pct > 0 THEN p.return_1mo END")}
     - {sql_davg("CASE WHEN p.indicator_mom_pct < 0 THEN p.return_1mo END")})
      AS return_spread,
    {std("p.indicator_mom_pct")} AS indicator_volatility,
    {std("p.return_1mo")} AS sector_return_volatility
  FROM panel p
  JOIN pair_means m ON p.symbol = m.symbol
    AND p.series_code = m.series_code
  GROUP BY p.symbol, p.series_code
  HAVING COUNT(*) >= {MIN_OBS}
),
cat_seed(series_code, indicator_category) AS (VALUES {cat_vals}),
sensitivity AS (
  SELECT s.symbol, s.series_code, c.indicator_category,
    s.observation_count,
    {", ".join(f"s.{a}" for _, _, a in CORR_PAIRS)},
    CAST((CASE
       WHEN {lags[0]} >= {lags[1]} AND {lags[0]} >= {lags[2]}
            AND {lags[0]} >= {lags[3]} THEN 1
       WHEN {lags[1]} >= {lags[2]} AND {lags[1]} >= {lags[3]} THEN 2
       WHEN {lags[2]} >= {lags[3]} THEN 3
       ELSE 6 END) AS BIGINT) AS best_lag_months,
    GREATEST({", ".join(lags)}) AS best_lag_correlation_abs,
    s.avg_return_indicator_up, s.avg_return_indicator_down,
    s.return_spread, s.indicator_volatility, s.sector_return_volatility,
    ROUND((ABS(COALESCE(corr_1mo_contemp, 0)) * 0.3
         + ABS(COALESCE(corr_3mo_contemp, 0)) * 0.2
         + GREATEST({", ".join(lags[:3])}) * 0.5) * 100, 2)
      AS sensitivity_score
  FROM corr_stats s JOIN cat_seed c ON s.series_code = c.series_code
)"""


_SENS_ORACLE = f"""
WITH {_sens_sql()}
SELECT * FROM sensitivity
ORDER BY symbol, series_code
"""


_SUMMARY_ORACLE = f"""
WITH {_sens_sql()},
ranked AS (
  SELECT *,
    CAST(ROW_NUMBER() OVER (PARTITION BY symbol
      ORDER BY sensitivity_score DESC, series_code) AS BIGINT)
      AS rank_in_sector,
    PERCENT_RANK() OVER (PARTITION BY symbol ORDER BY sensitivity_score)
      AS pctile_raw,
    (CASE WHEN corr_1mo_contemp > 0 THEN 'Positive'
          WHEN corr_1mo_contemp < 0 THEN 'Negative'
          ELSE 'Neutral' END) AS correlation_direction,
    (CASE WHEN ABS(corr_1mo_contemp) >= 0.5 THEN 'Strong'
          WHEN ABS(corr_1mo_contemp) >= 0.3 THEN 'Moderate'
          WHEN ABS(corr_1mo_contemp) >= 0.1 THEN 'Weak'
          ELSE 'Negligible' END) AS correlation_strength
  FROM sensitivity
),
sector_summary AS (
  SELECT symbol,
    CAST(COUNT(*) AS BIGINT) AS total_indicators_analyzed,
    {sql_davg("sensitivity_score")} AS sector_avg_sensitivity,
    CAST(COUNT(CASE WHEN sensitivity_score >= 20 THEN 1 END) AS BIGINT)
      AS sector_high_sensitivity_count,
    MAX(CASE WHEN rank_in_sector = 1 THEN series_code END)
      AS top_indicator_code
  FROM ranked GROUP BY symbol
),
category_summary AS (
  SELECT symbol, indicator_category,
    {sql_davg("sensitivity_score")} AS avg_category_sensitivity,
    {sql_davg("corr_1mo_contemp")} AS avg_category_correlation
  FROM ranked GROUP BY symbol, indicator_category
)
SELECT t.symbol, t.series_code, t.indicator_category,
  t.observation_count, t.corr_1mo_contemp, t.corr_3mo_contemp,
  t.best_lag_months, t.best_lag_correlation_abs,
  t.avg_return_indicator_up, t.avg_return_indicator_down,
  t.return_spread, t.sensitivity_score, t.rank_in_sector,
  ROUND(t.pctile_raw * 100, 1) AS percentile_in_sector,
  t.correlation_direction, t.correlation_strength,
  s.total_indicators_analyzed, s.sector_avg_sensitivity,
  s.sector_high_sensitivity_count, s.top_indicator_code,
  c.avg_category_sensitivity, c.avg_category_correlation,
  (t.rank_in_sector <= 5) AS is_top_5_for_sector,
  (t.best_lag_correlation_abs >= 0.2
   AND t.best_lag_months BETWEEN 1 AND 3) AS has_predictive_power
FROM ranked t
LEFT JOIN sector_summary s ON t.symbol = s.symbol
LEFT JOIN category_summary c
  ON t.symbol = c.symbol AND t.indicator_category = c.indicator_category
ORDER BY t.symbol, t.rank_in_sector
"""

_FACTOR_VALS = ", ".join(
    f"('{c}', '{mf}', '{sf}')" for c, mf, sf in FACTOR_SEED
)

_FACTOR_PIVOT = ",\n    ".join(
    f"MAX(CASE WHEN macro_factor = '{f}' THEN factor_exposure_score END)"
    f" AS {f.lower()}_exposure"
    for f in FACTORS
)

_PORTFOLIO_ORACLE = f"""
WITH {_sens_sql()},
fmap(series_code, macro_factor, sub_factor) AS (VALUES {_FACTOR_VALS}),
scores AS (
  SELECT s.symbol, f.macro_factor,
    CAST(COUNT(DISTINCT s.series_code) AS BIGINT) AS indicator_count,
    {sql_davg("sensitivity_score")} AS avg_sensitivity,
    MAX(sensitivity_score) AS max_sensitivity,
    {sql_davg("ABS(corr_1mo_contemp)")} AS avg_abs_correlation,
    {sql_davg("best_lag_correlation_abs")} AS avg_lag_correlation,
    ({sql_davg("sensitivity_score")} * 0.6
     + {sql_davg("best_lag_correlation_abs")} * 100 * 0.4)
      AS factor_exposure_score,
    STRING_AGG(DISTINCT sub_factor, ', ' ORDER BY sub_factor)
      AS sub_factors
  FROM sensitivity s
  JOIN fmap f ON s.series_code = f.series_code
  WHERE s.sensitivity_score IS NOT NULL
  GROUP BY s.symbol, f.macro_factor
),
agg AS (
  SELECT symbol,
    CAST(SUM(indicator_count) AS BIGINT) AS total_indicators,
    {sql_davg("factor_exposure_score")} AS overall_macro_exposure,
    {_FACTOR_PIVOT}
  FROM scores GROUP BY symbol
)
SELECT sc.symbol, sc.macro_factor, sc.indicator_count,
  sc.avg_sensitivity, sc.max_sensitivity, sc.avg_abs_correlation,
  sc.avg_lag_correlation, sc.factor_exposure_score, sc.sub_factors,
  a.total_indicators, a.overall_macro_exposure,
  {", ".join(f"a.{f.lower()}_exposure" for f in FACTORS)},
  CAST(RANK() OVER (PARTITION BY sc.macro_factor
    ORDER BY sc.factor_exposure_score DESC, sc.symbol) AS BIGINT)
    AS factor_rank
FROM scores sc JOIN agg a ON sc.symbol = a.symbol
ORDER BY sc.symbol, sc.macro_factor
"""


def _run(spark: SparkSession, sf_dir: str, target: str) -> DataFrame:
    for t in ("orders", "lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__src_{t}")
    return GRAPH.run(spark, targets=[target])[target]


@query("sector_indicator_sensitivity", oracle=_SENS_ORACLE)
def sector_indicator_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run(spark, sf_dir, "sector_indicator_sensitivity").orderBy(
        "symbol", "series_code"
    )


@query("sector_sensitivity_summary", oracle=_SUMMARY_ORACLE)
def sector_sensitivity_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run(spark, sf_dir, "sector_sensitivity_summary").orderBy(
        "symbol", "rank_in_sector"
    )


@query("portfolio_macro_factors", oracle=_PORTFOLIO_ORACLE)
def portfolio_macro_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, "portfolio_macro_factors").orderBy(
        "symbol", "macro_factor"
    )
