"""Composed technical-signal model chain through the DAG executor.

Re-expresses the reference's 4-layer spine
``technical_price_universe -> technical_indicator_daily ->
technical_signal_events -> technical_signal_instances``
(dbt_project/models/signals/technical_signal_events.sql:28-261 — the
14-entry Jinja signal registry unrolled into UNION ALL branches and a
5-state machine; dbt_project/models/analysis/technical_signal_instances.sql:26-134
— forward returns, benchmark-relative "worked" labels, excursions).

Spark-first deviations from the reference's physical shape:

- The signal registry renders BOTH sides from one Python list: Spark
  expressions via ``F.expr`` and the DuckDB oracle via UNION ALL — a
  single source of truth where the reference maintains Jinja only.
- The long-format fan-out is ``explode(array(struct...))`` — ONE pass
  over the indicator frame producing n_signals rows per bar — instead of
  the reference's N-way UNION ALL, which would rescan the indicator
  model N times (or force a materialization). At 100 TB this is the
  difference between one shuffle-free map stage and N scans.
- All layers are view-materialized through ModelGraph, so Catalyst fuses
  the whole chain into one plan: the lineitem scan happens once and the
  signal-state windows share the (flag) partitioning already established
  by the indicator battery — no extra shuffle between layers.

State machine per (flag, signal): setup / triggered / active /
completed / expired, with max_holding_bars = 21
(technical_signal_events.sql:28,226-238).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..operators.indicators import (
    _IND_CTES,
    _IND_FINAL,
    indicators_from_daily,
)
from ..operators.panels import daily_ohlcv
from ..registry import query
from .dag import ModelGraph

MAX_HOLDING = 21
HORIZONS = (1, 5, 21)
EXCURSION_BARS = 21
BENCH_FLAG = "N"  # benchmark entity (the reference uses SPY)

# One registry, two renderings. Expressions are dialect-neutral SQL over
# the prepped indicator columns (and prev_* lags); COALESCE(..., FALSE)
# is applied at render time on both sides.
SIGNAL_REGISTRY = [
    {
        "name": "price_cross_sma20_up",
        "family": "sma",
        "side": "bullish",
        "setup": "close < sma20 AND (sma20 - close) / NULLIF(sma20, 0) < 0.02",
        "trigger": "close > sma20 AND prev_close <= prev_sma20",
        "value": "(close - sma20) / NULLIF(sma20, 0)",
    },
    {
        "name": "price_cross_sma20_down",
        "family": "sma",
        "side": "bearish",
        "setup": "close > sma20 AND (close - sma20) / NULLIF(sma20, 0) < 0.02",
        "trigger": "close < sma20 AND prev_close >= prev_sma20",
        "value": "(close - sma20) / NULLIF(sma20, 0)",
    },
    {
        "name": "rsi_oversold_recovery",
        "family": "rsi",
        "side": "bullish",
        "setup": "rsi14 < 30",
        "trigger": "rsi14 >= 30 AND prev_rsi14 < 30",
        "value": "rsi14",
    },
    {
        "name": "rsi_overbought_reversal",
        "family": "rsi",
        "side": "bearish",
        "setup": "rsi14 > 70",
        "trigger": "rsi14 <= 70 AND prev_rsi14 > 70",
        "value": "rsi14",
    },
    {
        "name": "macd_bullish_zero_cross",
        "family": "macd",
        "side": "bullish",
        "setup": "macd < 0 AND macd > prev_macd",
        "trigger": "macd > 0 AND prev_macd <= 0",
        "value": "macd",
    },
    {
        "name": "macd_bearish_zero_cross",
        "family": "macd",
        "side": "bearish",
        "setup": "macd > 0 AND macd < prev_macd",
        "trigger": "macd < 0 AND prev_macd >= 0",
        "value": "macd",
    },
    {
        "name": "stoch_oversold_cross",
        "family": "stochastic",
        "side": "bullish",
        "setup": "stoch_k < 20",
        "trigger": "prev_stoch_k < 20 AND stoch_k > stoch_d"
        " AND prev_stoch_k <= prev_stoch_d",
        "value": "stoch_k",
    },
    {
        "name": "stoch_overbought_cross",
        "family": "stochastic",
        "side": "bearish",
        "setup": "stoch_k > 80",
        "trigger": "prev_stoch_k > 80 AND stoch_k < stoch_d"
        " AND prev_stoch_k >= prev_stoch_d",
        "value": "stoch_k",
    },
    {
        "name": "bollinger_breakout_up",
        "family": "bollinger",
        "side": "bullish",
        "setup": "close <= bb_upper"
        " AND (bb_upper - close) / NULLIF(bb_upper, 0) < 0.02",
        "trigger": "close > bb_upper AND prev_close <= prev_bb_upper",
        "value": "(close - sma20) / NULLIF(2.0 * std20, 0)",
    },
    {
        "name": "bollinger_breakout_down",
        "family": "bollinger",
        "side": "bearish",
        "setup": "close >= bb_lower"
        " AND (close - bb_lower) / NULLIF(bb_lower, 0) < 0.02",
        "trigger": "close < bb_lower AND prev_close >= prev_bb_lower",
        "value": "(close - sma20) / NULLIF(2.0 * std20, 0)",
    },
    {
        "name": "donchian_breakout_up",
        "family": "donchian",
        "side": "bullish",
        "setup": "close <= donchian_high20"
        " AND (donchian_high20 - close) / NULLIF(donchian_high20, 0) < 0.01",
        "trigger": "close > donchian_high20",
        "value": "(close - donchian_high20) / NULLIF(donchian_high20, 0)",
    },
    {
        "name": "donchian_breakout_down",
        "family": "donchian",
        "side": "bearish",
        "setup": "close >= donchian_low20"
        " AND (close - donchian_low20) / NULLIF(donchian_low20, 0) < 0.01",
        "trigger": "close < donchian_low20",
        "value": "(close - donchian_low20) / NULLIF(donchian_low20, 0)",
    },
]

_PREV_COLS = (
    "close",
    "sma20",
    "rsi14",
    "macd",
    "stoch_k",
    "stoch_d",
    "bb_upper",
    "bb_lower",
)

GRAPH = ModelGraph()


@GRAPH.model("tech_daily_ohlcv", materialization="cached_view")
def tech_daily_ohlcv(spark: SparkSession) -> DataFrame:
    return daily_ohlcv(spark.table("__src_lineitem"))


@GRAPH.model("tech_indicators", deps=("tech_daily_ohlcv",))
def tech_indicators(spark: SparkSession) -> DataFrame:
    return indicators_from_daily(spark.table("tech_daily_ohlcv"))


@GRAPH.model("signal_events", deps=("tech_indicators",))
def signal_events(spark: SparkSession) -> DataFrame:
    ind = spark.table("tech_indicators")
    wlag = Window.partitionBy("flag").orderBy("d")

    def roll(n: int):
        return wlag.rowsBetween(-(n - 1), 0)

    prepped = ind.select(
        "*",
        F.row_number().over(wlag).alias("bars_available"),
        (
            F.col("volume") / F.nullif(ta.wavg("volume", roll(20)), F.lit(0))
        ).alias("rel_vol"),
        *[
            F.lag(c).over(wlag).alias(f"prev_{c}")
            for c in _PREV_COLS
        ],
    )
    fanout = F.array(
        *[
            F.struct(
                F.lit(s["name"]).alias("signal_name"),
                F.lit(s["family"]).alias("indicator_name"),
                F.lit(s["side"]).alias("signal_side"),
                F.coalesce(F.expr(s["setup"]), F.lit(False)).alias(
                    "is_setup"
                ),
                F.coalesce(F.expr(s["trigger"]), F.lit(False)).alias(
                    "is_trigger"
                ),
                F.expr(s["value"]).cast("double").alias("signal_value"),
            )
            for s in SIGNAL_REGISTRY
        ]
    )
    flagged = prepped.select(
        "flag",
        "d",
        "bars_available",
        "close",
        "rel_vol",
        F.explode(fanout).alias("s"),
    ).select("flag", "d", "bars_available", "close", "rel_vol", "s.*")
    # r15 (guide §2.2): without this, the state-machine windows below
    # reuse the indicator battery's hashpartitioning(flag) — valid
    # (flag is a prefix of the clustering keys) but only |flags| ~ 3
    # groups, so the whole n_bars x n_signals cum-max/lag battery runs
    # in <= 3 tasks (and AQE's 64 MB byte advisory coalesces it to 1).
    # Re-keying the stage on the FULL (flag, signal_name) grain at
    # defaultParallelism (cluster parallelism, not a local constant)
    # costs one extra small exchange but lets the compute-bound window
    # stage use n_flags x n_signals-way parallelism — measured
    # 4.67s -> 4.23s median (interleaved A/B; the tail reps drop from
    # ~4.6 to ~3.8). At scale the same trade holds: the exchanged rows
    # are the post-aggregate signal grid, orders of magnitude smaller
    # than the fact scan feeding it.
    flagged = flagged.repartition(
        spark.sparkContext.defaultParallelism, "flag", "signal_name"
    )

    wsig = Window.partitionBy("flag", "signal_name").orderBy("d")
    wcum = wsig.rowsBetween(Window.unboundedPreceding, 0)
    stated = flagged.select(
        "*",
        F.max(F.when(F.col("is_trigger"), F.col("bars_available")))
        .over(wcum)
        .alias("last_trigger_bar"),
        F.max(F.when(F.col("is_trigger"), F.col("d")))
        .over(wcum)
        .alias("trigger_date"),
        F.max(F.when(F.col("is_setup"), F.col("d")))
        .over(wcum)
        .alias("setup_date"),
        F.lag("is_setup").over(wsig).alias("prev_is_setup"),
    )
    bars_since = F.col("bars_available") - F.col("last_trigger_bar")
    state = (
        F.when(F.col("is_trigger"), "triggered")
        .when(bars_since.between(1, MAX_HOLDING - 1), "active")
        .when(bars_since == MAX_HOLDING, "completed")
        .when(F.col("is_setup"), "setup")
        .when(
            F.coalesce(F.col("prev_is_setup"), F.lit(False))
            & ~F.col("is_setup"),
            "expired",
        )
    )
    return (
        stated.withColumn("signal_state", state)
        .where(F.col("signal_state").isNotNull())
        .select(
            "flag",
            "d",
            "indicator_name",
            "signal_name",
            "signal_side",
            "signal_state",
            "signal_value",
            "close",
            "rel_vol",
            F.coalesce(F.col("rel_vol") >= 1.5, F.lit(False)).alias(
                "volume_confirmed"
            ),
            "is_setup",
            "is_trigger",
            "trigger_date",
            "setup_date",
            bars_since.alias("bars_since_trigger"),
            F.lit(MAX_HOLDING).alias("max_holding_bars"),
        )
    )


@GRAPH.model("signal_instances", deps=("signal_events", "tech_daily_ohlcv"))
def signal_instances(spark: SparkSession) -> DataFrame:
    daily = spark.table("tech_daily_ohlcv")
    w = Window.partitionBy("flag").orderBy("d")
    wfwd = w.rowsBetween(1, EXCURSION_BARS)
    spine = daily.select(
        "flag",
        "d",
        "close",
        *[F.lead("close", h).over(w).alias(f"fwd_close_{h}") for h in HORIZONS],
        F.max("high").over(wfwd).alias("max_high_fwd"),
        F.min("low").over(wfwd).alias("min_low_fwd"),
    )
    bench = spine.where(F.col("flag") == BENCH_FLAG).select(
        F.col("d").alias("bd"),
        *[
            (
                F.col(f"fwd_close_{h}") / F.nullif(F.col("close"), F.lit(0))
                - 1
            ).alias(f"bench_fwd_return_{h}")
            for h in HORIZONS
        ],
    )
    triggers = (
        spark.table("signal_events")
        .where(F.col("signal_state") == "triggered")
        .select(
            "flag",
            F.col("d").alias("entry_date"),
            "indicator_name",
            "signal_name",
            "signal_side",
            "signal_value",
            F.col("close").alias("entry_price"),
            "rel_vol",
            "volume_confirmed",
        )
    )
    sp = spine.select(
        F.col("flag").alias("sflag"),
        F.col("d").alias("sd"),
        *[f"fwd_close_{h}" for h in HORIZONS],
        "max_high_fwd",
        "min_low_fwd",
    )
    ev = triggers.join(
        sp,
        (F.col("flag") == F.col("sflag"))
        & (F.col("entry_date") == F.col("sd")),
    ).join(F.broadcast(bench), F.col("entry_date") == F.col("bd"), "left")
    fwd = {
        h: F.col(f"fwd_close_{h}") / F.nullif(F.col("entry_price"), F.lit(0))
        - 1
        for h in HORIZONS
    }
    rel = {
        h: fwd[h] - F.col(f"bench_fwd_return_{h}") for h in HORIZONS
    }
    mfe = F.col("max_high_fwd") / F.nullif(F.col("entry_price"), F.lit(0)) - 1
    mae = F.col("min_low_fwd") / F.nullif(F.col("entry_price"), F.lit(0)) - 1
    worked = {
        h: F.when(rel[h].isNull(), F.lit(None).cast("boolean"))
        .when(F.col("signal_side") == "bullish", rel[h] > 0)
        .when(F.col("signal_side") == "bearish", rel[h] < 0)
        for h in (5, 21)
    }
    cols = [
        "flag",
        "indicator_name",
        "signal_name",
        "signal_side",
        "entry_date",
        "entry_price",
        "signal_value",
        "rel_vol",
        "volume_confirmed",
    ]
    for h in HORIZONS:
        cols += [
            fwd[h].alias(f"forward_return_{h}d"),
            F.col(f"bench_fwd_return_{h}").alias(
                f"benchmark_forward_return_{h}d"
            ),
            rel[h].alias(f"relative_forward_return_{h}d"),
        ]
    cols += [
        mfe.alias(f"max_favorable_excursion_{EXCURSION_BARS}d"),
        mae.alias(f"max_adverse_excursion_{EXCURSION_BARS}d"),
        F.when(F.col("signal_side") == "bearish", -mae)
        .otherwise(mfe)
        .alias(f"side_adjusted_mfe_{EXCURSION_BARS}d"),
        worked[5].alias("worked_5d"),
        worked[21].alias("worked_21d"),
    ]
    return ev.select(*cols)


# ---------------------------------------------------------------------------
# Oracle rendering from the same registry.
# ---------------------------------------------------------------------------

def _events_sql_core() -> str:
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT flag, d, bars_available, close, rel_vol,
    '{s["name"]}' AS signal_name, '{s["family"]}' AS indicator_name,
    '{s["side"]}' AS signal_side,
    COALESCE({s["setup"]}, FALSE) AS is_setup,
    COALESCE({s["trigger"]}, FALSE) AS is_trigger,
    CAST({s["value"]} AS DOUBLE) AS signal_value
  FROM prepped"""
        for s in SIGNAL_REGISTRY
    )
    prev_sel = ",\n    ".join(
        f"LAG({c}) OVER (PARTITION BY flag ORDER BY d) AS prev_{c}"
        for c in _PREV_COLS
    )
    return f"""{_IND_CTES},
ind AS ({_IND_FINAL}),
prepped AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS bars_available,
    (volume / NULLIF({ta.sql_wavg("volume", "(PARTITION BY flag ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)")}, 0))
      AS rel_vol,
    {prev_sel}
  FROM ind
),
flagged AS (
{branches}
),
stated AS (
  SELECT *,
    MAX(CASE WHEN is_trigger THEN bars_available END) OVER wcum
      AS last_trigger_bar,
    MAX(CASE WHEN is_trigger THEN d END) OVER wcum AS trigger_date,
    MAX(CASE WHEN is_setup THEN d END) OVER wcum AS setup_date,
    LAG(is_setup) OVER wsig AS prev_is_setup
  FROM flagged
  WINDOW wsig AS (PARTITION BY flag, signal_name ORDER BY d),
         wcum AS (PARTITION BY flag, signal_name ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
classified AS (
  SELECT *,
    (bars_available - last_trigger_bar) AS bars_since_trigger,
    (CASE
       WHEN is_trigger THEN 'triggered'
       WHEN bars_available - last_trigger_bar
         BETWEEN 1 AND {MAX_HOLDING - 1} THEN 'active'
       WHEN bars_available - last_trigger_bar = {MAX_HOLDING}
         THEN 'completed'
       WHEN is_setup THEN 'setup'
       WHEN COALESCE(prev_is_setup, FALSE) AND NOT is_setup THEN 'expired'
     END) AS signal_state
  FROM stated
)"""


_EVENTS_ORACLE = f"""
WITH {_events_sql_core()}
SELECT flag, d, indicator_name, signal_name, signal_side, signal_state,
       signal_value, close, rel_vol,
       COALESCE(rel_vol >= 1.5, FALSE) AS volume_confirmed,
       is_setup, is_trigger, trigger_date, setup_date, bars_since_trigger,
       {MAX_HOLDING} AS max_holding_bars
FROM classified
WHERE signal_state IS NOT NULL
ORDER BY flag, signal_name, d
"""


def _instances_oracle() -> str:
    fwd_sel = ",\n    ".join(
        f"LEAD(close, {h}) OVER (PARTITION BY flag ORDER BY d)"
        f" AS fwd_close_{h}"
        for h in HORIZONS
    )
    bench_sel = ",\n    ".join(
        f"(fwd_close_{h} / NULLIF(close, 0) - 1) AS bench_fwd_return_{h}"
        for h in HORIZONS
    )
    ret_sel = ",\n  ".join(
        f"""(s.fwd_close_{h} / NULLIF(t.entry_price, 0) - 1)
    AS forward_return_{h}d,
  b.bench_fwd_return_{h} AS benchmark_forward_return_{h}d,
  ((s.fwd_close_{h} / NULLIF(t.entry_price, 0) - 1) - b.bench_fwd_return_{h})
    AS relative_forward_return_{h}d"""
        for h in HORIZONS
    )
    worked_sel = ",\n  ".join(
        f"""(CASE
     WHEN ((s.fwd_close_{h} / NULLIF(t.entry_price, 0) - 1)
           - b.bench_fwd_return_{h}) IS NULL THEN NULL
     WHEN t.signal_side = 'bullish'
       THEN ((s.fwd_close_{h} / NULLIF(t.entry_price, 0) - 1)
             - b.bench_fwd_return_{h}) > 0
     WHEN t.signal_side = 'bearish'
       THEN ((s.fwd_close_{h} / NULLIF(t.entry_price, 0) - 1)
             - b.bench_fwd_return_{h}) < 0
   END) AS worked_{h}d"""
        for h in (5, 21)
    )
    return f"""
WITH {_events_sql_core()},
spine AS (
  SELECT flag, d, close,
    {fwd_sel},
    MAX(high) OVER (PARTITION BY flag ORDER BY d
      ROWS BETWEEN 1 FOLLOWING AND {EXCURSION_BARS} FOLLOWING)
      AS max_high_fwd,
    MIN(low) OVER (PARTITION BY flag ORDER BY d
      ROWS BETWEEN 1 FOLLOWING AND {EXCURSION_BARS} FOLLOWING)
      AS min_low_fwd
  FROM daily
),
benchmark AS (
  SELECT d AS bd,
    {bench_sel}
  FROM spine WHERE flag = '{BENCH_FLAG}'
),
triggers AS (
  SELECT flag, d AS entry_date, indicator_name, signal_name, signal_side,
         signal_value, close AS entry_price, rel_vol,
         COALESCE(rel_vol >= 1.5, FALSE) AS volume_confirmed
  FROM classified
  WHERE signal_state = 'triggered'
)
SELECT t.flag, t.indicator_name, t.signal_name, t.signal_side,
  t.entry_date, t.entry_price, t.signal_value, t.rel_vol,
  t.volume_confirmed,
  {ret_sel},
  (s.max_high_fwd / NULLIF(t.entry_price, 0) - 1)
    AS max_favorable_excursion_{EXCURSION_BARS}d,
  (s.min_low_fwd / NULLIF(t.entry_price, 0) - 1)
    AS max_adverse_excursion_{EXCURSION_BARS}d,
  (CASE WHEN t.signal_side = 'bearish'
        THEN -(s.min_low_fwd / NULLIF(t.entry_price, 0) - 1)
        ELSE (s.max_high_fwd / NULLIF(t.entry_price, 0) - 1) END)
    AS side_adjusted_mfe_{EXCURSION_BARS}d,
  {worked_sel}
FROM triggers t
JOIN spine s ON t.flag = s.flag AND t.entry_date = s.d
LEFT JOIN benchmark b ON t.entry_date = b.bd
ORDER BY t.flag, t.signal_name, t.entry_date
"""


def _run_chain(spark: SparkSession, sf_dir: str, target: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__src_lineitem"
    )
    return GRAPH.run(spark, targets=[target])[target]


@query("signal_chain_events", oracle=_EVENTS_ORACLE)
def signal_chain_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_chain(spark, sf_dir, "signal_events").orderBy(
        "flag", "signal_name", "d"
    )


@query("signal_chain_instances", oracle=_instances_oracle())
def signal_chain_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_chain(spark, sf_dir, "signal_instances").orderBy(
        "flag", "signal_name", "entry_date"
    )


# ---------------------------------------------------------------------------
# Current setups: "what is happening right now" — each entity's latest
# bar joined back to the event log, setup/triggered/active states only
# (technical_current_setups.sql:20-52). Staleness rule re-expressed
# deterministically: latest bar must be within 14 days of the GLOBAL max
# date (the reference uses CURRENT_DATE, nondeterministic for an oracle).
# ---------------------------------------------------------------------------


@GRAPH.model("current_setups", deps=("signal_events", "tech_daily_ohlcv"))
def current_setups(spark: SparkSession) -> DataFrame:
    daily = spark.table("tech_daily_ohlcv")
    gmax = daily.agg(F.max("d").alias("gmax"))
    latest = (
        daily.groupBy("flag")
        .agg(F.max("d").alias("latest_date"))
        .crossJoin(F.broadcast(gmax))
        .where(F.col("latest_date") >= F.date_sub(F.col("gmax"), 14))
        .select("flag", "latest_date")
    )
    e = spark.table("signal_events")
    return (
        e.join(
            F.broadcast(latest),
            (e.flag == latest.flag) & (e.d == latest.latest_date),
        )
        .where(
            F.col("signal_state").isin("setup", "triggered", "active")
        )
        .select(
            e.flag,
            "d",
            "indicator_name",
            "signal_name",
            "signal_side",
            "signal_state",
            "signal_value",
            "close",
            "rel_vol",
            "volume_confirmed",
            "trigger_date",
            "setup_date",
            "bars_since_trigger",
            "max_holding_bars",
        )
    )


_CURRENT_SETUPS_ORACLE = f"""
WITH {_events_sql_core()},
latest_bar AS (
  SELECT flag, MAX(d) AS latest_date
  FROM daily
  GROUP BY flag
  HAVING MAX(d) >= (SELECT MAX(d) - INTERVAL 14 DAY FROM daily)
)
SELECT c.flag, c.d, c.indicator_name, c.signal_name, c.signal_side,
       c.signal_state, c.signal_value, c.close, c.rel_vol,
       COALESCE(c.rel_vol >= 1.5, FALSE) AS volume_confirmed,
       c.trigger_date, c.setup_date, c.bars_since_trigger,
       {MAX_HOLDING} AS max_holding_bars
FROM classified c
JOIN latest_bar l ON c.flag = l.flag AND c.d = l.latest_date
WHERE c.signal_state IN ('setup', 'triggered', 'active')
ORDER BY c.flag, c.signal_name
"""


@query("signal_current_setups", oracle=_CURRENT_SETUPS_ORACLE)
def signal_current_setups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_chain(spark, sf_dir, "current_setups").orderBy(
        "flag", "signal_name"
    )
