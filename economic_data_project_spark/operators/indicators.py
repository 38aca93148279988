"""Wide technical-indicator table — the reference's densest model
(technical_indicator_daily.sql:5-26,183-251: ~40 indicator columns per
entity/date) rebuilt from the ta primitive library.

Entity = l_returnflag; OHLCV stand-ins from the daily lineitem aggregate
(``panels.daily_ohlcv``, shared with the signal chain): close = revenue,
high/low = max/min extended price (scaled), volume = qty.

Staged CTE shape preserved deliberately: both BigQuery and Spark reject
nested analytic functions (SURVEY.md §4), so stage 1 computes lags +
window arrays, stage 2 the windowed aggregates, stage 3 the indicators
that window over stage-2 outputs (stochastic %D over %K, ATR over TR).

14 indicators, one window-partition key (flag), one shuffle for the whole
battery: at 100 TB the cost is the daily aggregate (distributed hash agg)
plus one sort per entity partition — the wide projection itself is free
(codegen'd expressions over the sorted runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..registry import query
from .panels import daily_ohlcv

DEC = "decimal(28,6)"

_RSI_N = 14
_RSI_ALPHA = 1.0 / _RSI_N
_EMA12_A = 2.0 / 13.0
_EMA26_A = 2.0 / 27.0


_OHLCV_CTE = """
daily AS (
  SELECT l_returnflag AS flag,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS close,
         MAX(l_extendedprice) / 1e4 AS high,
         MIN(l_extendedprice) / 1e4 AS low,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / 1e3
           AS volume
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
"""

_W = "(PARTITION BY flag ORDER BY d ROWS BETWEEN {a} PRECEDING AND {b})"


def _over(a: int, b: str = "CURRENT ROW") -> str:
    return _W.format(a=a, b=b)


# CTE chain + final projection exposed separately so composed models
# (plans/signal_chain.py) can embed the full indicator battery as a CTE.
_IND_CTES = f"""{_OHLCV_CTE},
s0 AS (
  SELECT flag, d, close, high, low, volume,
    close - LAG(close) OVER (PARTITION BY flag ORDER BY d) AS chg,
    LAG(close) OVER (PARTITION BY flag ORDER BY d) AS prev_close,
    LAG(close, 10) OVER (PARTITION BY flag ORDER BY d) AS close_lag10
  FROM daily
),
s1 AS (
  SELECT flag, d, close, high, low, volume, chg, prev_close, close_lag10,
    list(close) OVER {_over(11)} AS win12,
    list(close) OVER {_over(25)} AS win26,
    list(GREATEST(chg, 0.0)) OVER {_over(_RSI_N - 1)} AS win_gain,
    list(GREATEST(-chg, 0.0)) OVER {_over(_RSI_N - 1)} AS win_loss,
    list(close) OVER {_over(19)} AS win20
  FROM s0
),
s2 AS (
  SELECT flag, d, close, high, low, volume, chg, close_lag10,
    {ta.sql_wavg("close", _over(19))} AS sma20,
    {ta.sql_wstd("close", _over(19))} AS std20,
    {ta.sql_ewm_from_array("win12", _EMA12_A, 12)} AS ema12,
    {ta.sql_ewm_from_array("win26", _EMA26_A, 26)} AS ema26,
    {ta.sql_ewm_from_array("win_gain", _RSI_ALPHA, _RSI_N)} AS avg_gain,
    {ta.sql_ewm_from_array("win_loss", _RSI_ALPHA, _RSI_N)} AS avg_loss,
    (MIN(low) OVER {_over(13)}) AS ll14,
    (MAX(high) OVER {_over(13)}) AS hh14,
    (MAX(high) OVER {_over(20, "1 PRECEDING")}) AS donchian_high20,
    (MIN(low) OVER {_over(20, "1 PRECEDING")}) AS donchian_low20,
    win20,
    (CASE WHEN chg IS NULL THEN 0.0
          WHEN chg > 0 THEN volume
          WHEN chg < 0 THEN -volume ELSE 0.0 END) AS signed_vol,
    (CASE WHEN prev_close IS NOT NULL THEN
       GREATEST(high - low, ABS(high - prev_close), ABS(low - prev_close))
     ELSE high - low END) AS tr
  FROM s1
),
s3 AS (
  SELECT flag, d, close, volume, sma20, std20, ema12, ema26,
    (ema12 - ema26) AS macd,
    (sma20 + 2.0 * std20) AS bb_upper,
    (sma20 - 2.0 * std20) AS bb_lower,
    (CASE WHEN avg_loss = 0 THEN 100.0
          ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END) AS rsi14,
    (100.0 * (close - ll14) / NULLIF(hh14 - ll14, 0)) AS stoch_k,
    (-100.0 * (hh14 - close) / NULLIF(hh14 - ll14, 0)) AS willr14,
    donchian_high20, donchian_low20,
    {ta.sql_mean_abs_dev("win20", "sma20")} AS mad20,
    (CASE WHEN close_lag10 IS NOT NULL AND close_lag10 <> 0
          THEN 100.0 * (close / close_lag10 - 1.0) END) AS roc10,
    (close - close_lag10) AS momentum10,
    (SUM(CAST(signed_vol AS DECIMAL(28,6))) OVER (
       PARTITION BY flag ORDER BY d
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS obv_dec,
    {ta.sql_wavg("tr", _over(13))} AS atr14
  FROM s2
)
"""

_IND_FINAL = f"""
SELECT flag, d, close, volume, sma20, std20, ema12, ema26, macd,
       bb_upper, bb_lower, rsi14, stoch_k,
       {ta.sql_wavg("stoch_k", _over(2))} AS stoch_d,
       willr14, donchian_high20, donchian_low20,
       ((close - sma20) / NULLIF(0.015 * mad20, 0)) AS cci20,
       roc10, momentum10, CAST(obv_dec AS DOUBLE) AS obv, atr14
FROM s3
"""

_INDICATORS_ORACLE = (
    f"WITH {_IND_CTES} {_IND_FINAL} ORDER BY flag, d"
)


@query("technical_indicator_daily", oracle=_INDICATORS_ORACLE)
def technical_indicator_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return indicators_from_daily(daily_ohlcv(li)).orderBy("flag", "d")


def indicators_from_daily(daily: DataFrame) -> DataFrame:
    """The 14-indicator battery over any (flag, d, close, high, low,
    volume) frame — reused by the composed signal chain
    (plans/signal_chain.py) as its indicator model layer."""
    wlag = Window.partitionBy("flag").orderBy("d")

    def roll(n: int):
        return Window.partitionBy("flag").orderBy("d").rowsBetween(-(n - 1), 0)

    def roll_prior(n: int):
        return Window.partitionBy("flag").orderBy("d").rowsBetween(-n, -1)

    s0 = daily.select(
        "flag", "d", "close", "high", "low", "volume",
        (F.col("close") - F.lag("close").over(wlag)).alias("chg"),
        F.lag("close").over(wlag).alias("prev_close"),
        F.lag("close", 10).over(wlag).alias("close_lag10"),
    )
    s1 = s0.select(
        "flag", "d", "close", "high", "low", "volume", "chg",
        "prev_close", "close_lag10",
        F.collect_list("close").over(roll(12)).alias("win12"),
        F.collect_list("close").over(roll(26)).alias("win26"),
        F.collect_list(F.greatest(F.col("chg"), F.lit(0.0)))
        .over(roll(_RSI_N))
        .alias("win_gain"),
        F.collect_list(F.greatest(-F.col("chg"), F.lit(0.0)))
        .over(roll(_RSI_N))
        .alias("win_loss"),
        F.collect_list("close").over(roll(20)).alias("win20"),
    )
    s2 = s1.select(
        "flag", "d", "close", "volume", "chg", "close_lag10",
        ta.wavg("close", roll(20)).alias("sma20"),
        ta.wstd("close", roll(20)).alias("std20"),
        ta.ewm_from_array("win12", _EMA12_A, 12).alias("ema12"),
        ta.ewm_from_array("win26", _EMA26_A, 26).alias("ema26"),
        ta.ewm_from_array("win_gain", _RSI_ALPHA, _RSI_N).alias("avg_gain"),
        ta.ewm_from_array("win_loss", _RSI_ALPHA, _RSI_N).alias("avg_loss"),
        F.min("low").over(roll(14)).alias("ll14"),
        F.max("high").over(roll(14)).alias("hh14"),
        F.max("high").over(roll_prior(20)).alias("donchian_high20"),
        F.min("low").over(roll_prior(20)).alias("donchian_low20"),
        "win20",
        F.when(F.col("chg").isNull(), 0.0)
        .when(F.col("chg") > 0, F.col("volume"))
        .when(F.col("chg") < 0, -F.col("volume"))
        .otherwise(0.0)
        .alias("signed_vol"),
        ta.true_range("high", "low", "prev_close").alias("tr"),
    )
    s3 = s2.select(
        "flag", "d", "close", "volume", "sma20", "std20", "ema12", "ema26",
        (F.col("ema12") - F.col("ema26")).alias("macd"),
        (F.col("sma20") + 2.0 * F.col("std20")).alias("bb_upper"),
        (F.col("sma20") - 2.0 * F.col("std20")).alias("bb_lower"),
        F.when(F.col("avg_loss") == 0, 100.0)
        .otherwise(
            100.0 - 100.0 / (1.0 + F.col("avg_gain") / F.col("avg_loss"))
        )
        .alias("rsi14"),
        (
            100.0
            * (F.col("close") - F.col("ll14"))
            / F.nullif(F.col("hh14") - F.col("ll14"), F.lit(0))
        ).alias("stoch_k"),
        (
            -100.0
            * (F.col("hh14") - F.col("close"))
            / F.nullif(F.col("hh14") - F.col("ll14"), F.lit(0))
        ).alias("willr14"),
        "donchian_high20",
        "donchian_low20",
        ta.mean_abs_dev("win20", "sma20").alias("mad20"),
        F.when(
            F.col("close_lag10").isNotNull() & (F.col("close_lag10") != 0),
            100.0 * (F.col("close") / F.col("close_lag10") - 1.0),
        ).alias("roc10"),
        (F.col("close") - F.col("close_lag10")).alias("momentum10"),
        F.sum(F.col("signed_vol").cast(DEC))
        .over(
            Window.partitionBy("flag")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("double")
        .alias("obv"),
        ta.wavg("tr", roll(14)).alias("atr14"),
    )
    return s3.select(
        "flag", "d", "close", "volume", "sma20", "std20", "ema12", "ema26",
        "macd", "bb_upper", "bb_lower", "rsi14", "stoch_k",
        ta.wavg("stoch_k", roll(3)).alias("stoch_d"),
        "willr14", "donchian_high20", "donchian_low20",
        (
            (F.col("close") - F.col("sma20"))
            / F.nullif(0.015 * F.col("mad20"), F.lit(0))
        ).alias("cci20"),
        "roc10", "momentum10", "obv", "atr14",
    )
