"""Window-function operators (SURVEY.md §2.5 — the densest family:
166 LAG, 34 ROW_NUMBER, rolling aggregates, windowed CORR, EWM-from-array).

All rolling-sum/avg/stddev/corr computations go through windowed
decimal-exact sums (functions/parity.py) so results hash-match the DuckDB
oracle despite different frame-evaluation strategies (Spark re-scans the
frame; DuckDB uses segment trees — float association differs).

Scale notes: every window here partitions by an entity key (flag/user) so
state is distributed; the only single-partition windows run on per-day
aggregates (≤ a few thousand rows at any SF — days, not facts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query
from .panels import daily_revenue

DEC = "decimal(28,6)"
_REV = "l_extendedprice * (1 - l_discount)"

# Shared daily series: revenue per (returnflag, ship day) — the "price
# panel at an entity grain" shape (technical_price_universe.sql:7-9);
# the Spark side is panels.daily_revenue.
_DAILY_CTE = f"""
daily AS (
  SELECT l_returnflag AS flag,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE) / 1000000.0
           AS rev
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
"""


def _wsum(c: Column, w) -> Column:
    """Windowed decimal-exact sum as double."""
    return F.sum(c.cast(DEC)).over(w).cast("double")


# --------------------------------------------------------------------------
# LAG / LEAD incl. multi-offset (ta_primitives.sql:42-57,
# fred_series_grain.sql:12-23) + day-over-day percent change.
# --------------------------------------------------------------------------

_LAG_LEAD_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT flag, d, (rev) AS rev,
  (LAG(rev) OVER w) AS rev_lag1,
  (LAG(rev, 7) OVER w) AS rev_lag7,
  (LEAD(rev) OVER w) AS rev_lead1,
  ((rev - LAG(rev) OVER w) / NULLIF(LAG(rev) OVER w, 0)) AS dod_return
FROM daily
WINDOW w AS (PARTITION BY flag ORDER BY d)
ORDER BY flag, d
"""


@query("window_lag_lead", oracle=_LAG_LEAD_ORACLE)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w = Window.partitionBy("flag").orderBy("d")
    lag1 = F.lag("rev").over(w)
    return daily.select(
        "flag",
        "d",
        F.col("rev").alias("rev"),
        (lag1).alias("rev_lag1"),
        (F.lag("rev", 7).over(w)).alias("rev_lag7"),
        (F.lead("rev").over(w)).alias("rev_lead1"),
        ((F.col("rev") - lag1) / F.nullif(lag1, F.lit(0))).alias(
            "dod_return"
        ),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Rolling ROWS frames: trailing 20-bar SMA/min/max/sum, prior-window
# (Donchian, self-excluding: ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING,
# ta_primitives.sql:29-39) and rolling z-score (ta_primitives.sql:60-66).
# --------------------------------------------------------------------------

_ROLLING_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT flag, d,
  (CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
        / COUNT(rev) OVER w20) AS sma20,
  (MIN(rev) OVER w20) AS roll_min20,
  (MAX(rev) OVER w20) AS roll_max20,
  CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE) AS roll_sum20,
  (MAX(rev) OVER wprior) AS donchian_high,
  (MIN(rev) OVER wprior) AS donchian_low,
  CASE WHEN COUNT(rev) OVER w20 > 1 THEN
    ((rev - CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
                 / COUNT(rev) OVER w20)
          / NULLIF(SQRT(GREATEST(
              (CAST(SUM(CAST(rev * rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
               - CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
                 * CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
                 / COUNT(rev) OVER w20)
              / (COUNT(rev) OVER w20 - 1.0), 0)), 0))
  END AS zscore20
FROM daily
WINDOW
  w20 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
  wprior AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
ORDER BY flag, d
"""


@query("rolling_stats", oracle=_ROLLING_ORACLE)
def rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w20 = (
        Window.partitionBy("flag").orderBy("d").rowsBetween(-19, 0)
    )
    wprior = Window.partitionBy("flag").orderBy("d").rowsBetween(-20, -1)
    rev = F.col("rev")
    s = _wsum(rev, w20)
    ss = _wsum(rev * rev, w20)
    n = F.count(rev).over(w20)
    mean = s / n
    var = F.greatest(
        (ss - s * s / n) / (n - F.lit(1.0)), F.lit(0.0)
    )
    return daily.select(
        "flag",
        "d",
        (mean).alias("sma20"),
        (F.min(rev).over(w20)).alias("roll_min20"),
        (F.max(rev).over(w20)).alias("roll_max20"),
        s.alias("roll_sum20"),
        (F.max(rev).over(wprior)).alias("donchian_high"),
        (F.min(rev).over(wprior)).alias("donchian_low"),
        F.when(
            n > 1,
            (
                (rev - mean) / F.nullif(F.sqrt(var), F.lit(0))),
        ).alias("zscore20"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Calendar RANGE frame over day-number (60 uses of UNIX_DATE in the
# reference; calculate_market_analysis_return.sql:89-103). Differs from a
# ROWS frame when dates gap — exercised here because ship-date series
# have gaps per flag.
# --------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = f"""
WITH {_DAILY_CTE},
keyed AS (
  SELECT flag, d, rev, datediff('day', DATE '1970-01-01', d) AS day_num
  FROM daily
)
SELECT flag, d,
  COUNT(rev) OVER w30 AS n_days_30,
  CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w30 AS DOUBLE) AS rev_sum_30cal,
  (CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w30 AS DOUBLE)
        / COUNT(rev) OVER w30) AS rev_avg_30cal
FROM keyed
WINDOW w30 AS (PARTITION BY flag ORDER BY day_num
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY flag, d
"""


@query("range_frame_calendar", oracle=_RANGE_FRAME_ORACLE)
def range_frame_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem")).withColumn(
        "day_num", F.datediff("d", F.lit("1970-01-01"))
    )
    w30 = (
        Window.partitionBy("flag").orderBy("day_num").rangeBetween(-29, 0)
    )
    rev = F.col("rev")
    s = _wsum(rev, w30)
    n = F.count(rev).over(w30)
    return daily.select(
        "flag",
        "d",
        n.alias("n_days_30"),
        s.alias("rev_sum_30cal"),
        (s / n).alias("rev_avg_30cal"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Cumulative sums — OBV / A-D line / McClellan summation shape
# (technical_indicator_daily.sql:106-110; market_breadth_signals.sql:135).
# OBV: cumulative signed flow by day-over-day direction.
# --------------------------------------------------------------------------

_CUMULATIVE_ORACLE = f"""
WITH {_DAILY_CTE},
signed AS (
  SELECT flag, d, rev,
    CASE WHEN rev > LAG(rev) OVER (PARTITION BY flag ORDER BY d) THEN rev
         WHEN rev < LAG(rev) OVER (PARTITION BY flag ORDER BY d) THEN -rev
         ELSE 0.0 END AS signed_flow
  FROM daily
)
SELECT flag, d,
  CAST(SUM(CAST(signed_flow AS DECIMAL(28,6)))
       OVER (PARTITION BY flag ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS obv,
  CAST(SUM(CASE WHEN signed_flow > 0 THEN 1 ELSE 0 END)
    OVER (PARTITION BY flag ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS up_days_cum
FROM signed
ORDER BY flag, d
"""


@query("cumulative_obv", oracle=_CUMULATIVE_ORACLE)
def cumulative_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wo = Window.partitionBy("flag").orderBy("d")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("rev").over(wo)
    signed = daily.withColumn(
        "signed_flow",
        F.when(F.col("rev") > prev, F.col("rev"))
        .when(F.col("rev") < prev, -F.col("rev"))
        .otherwise(F.lit(0.0)),
    )
    return signed.select(
        "flag",
        "d",
        _wsum(F.col("signed_flow"), wcum).alias("obv"),
        F.sum(F.when(F.col("signed_flow") > 0, 1).otherwise(0))
        .over(wcum)
        .alias("up_days_cum"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Running conditional state machine — "last trigger bar"
# MAX(IF(cond, val, NULL)) OVER (UNBOUNDED PRECEDING)
# (technical_signal_events.sql:204-218) + days-since-trigger.
# --------------------------------------------------------------------------

_RUNNING_STATE_ORACLE = f"""
WITH {_DAILY_CTE},
keyed AS (
  SELECT flag, d, rev,
    datediff('day', DATE '1970-01-01', d) AS day_num,
    CASE WHEN rev > 2.0 * LAG(rev) OVER (PARTITION BY flag ORDER BY d)
         THEN 1 ELSE 0 END AS is_trigger
  FROM daily
)
SELECT flag, d, is_trigger,
  MAX(CASE WHEN is_trigger = 1 THEN day_num END)
    OVER (PARTITION BY flag ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS last_trigger_day_num,
  day_num - MAX(CASE WHEN is_trigger = 1 THEN day_num END)
    OVER (PARTITION BY flag ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS days_since_trigger
FROM keyed
ORDER BY flag, d
"""


@query("running_trigger_state", oracle=_RUNNING_STATE_ORACLE)
def running_trigger_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wo = Window.partitionBy("flag").orderBy("d")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    keyed = daily.withColumn(
        "day_num", F.datediff("d", F.lit("1970-01-01"))
    ).withColumn(
        "is_trigger",
        F.when(F.col("rev") > 2.0 * F.lag("rev").over(wo), 1).otherwise(0),
    )
    last_trig = F.max(
        F.when(F.col("is_trigger") == 1, F.col("day_num"))
    ).over(wcum)
    return keyed.select(
        "flag",
        "d",
        "is_trigger",
        last_trig.alias("last_trigger_day_num"),
        (F.col("day_num") - last_trig).alias("days_since_trigger"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# FIRST_VALUE / LAST_VALUE with explicit frames, partitioned month pick
# (sector_dispersion_analysis.sql:118-126; correlation_analysis_enhanced.
# sql:10-31) -> month open/close/return.
# --------------------------------------------------------------------------

_FIRST_LAST_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT flag, d,
  (FIRST_VALUE(rev) OVER wm) AS month_open,
  (LAST_VALUE(rev) OVER wm) AS month_close,
  (LAST_VALUE(rev) OVER wm / NULLIF(FIRST_VALUE(rev) OVER wm, 0) - 1)
    AS month_return
FROM daily
WINDOW wm AS (PARTITION BY flag, date_trunc('month', d) ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY flag, d
"""


@query("first_last_month", oracle=_FIRST_LAST_ORACLE)
def first_last_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wm = (
        Window.partitionBy("flag", F.trunc("d", "month"))
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fv = F.first("rev").over(wm)
    lv = F.last("rev").over(wm)
    return daily.select(
        "flag",
        "d",
        (fv).alias("month_open"),
        (lv).alias("month_close"),
        (lv / F.nullif(fv, F.lit(0)) - 1).alias("month_return"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Forward-looking frames — future excursion over the next 21 bars
# (technical_signal_instances.sql:39-48).
# --------------------------------------------------------------------------

_FORWARD_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT flag, d,
  (MAX(rev) OVER wf) AS future_max_21,
  (MIN(rev) OVER wf) AS future_min_21,
  (MAX(rev) OVER wf / NULLIF(rev, 0) - 1) AS max_excursion_21,
  COUNT(rev) OVER wf AS n_future_days
FROM daily
WINDOW wf AS (PARTITION BY flag ORDER BY d
              ROWS BETWEEN 1 FOLLOWING AND 21 FOLLOWING)
ORDER BY flag, d
"""


@query("forward_excursion", oracle=_FORWARD_ORACLE)
def forward_excursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wf = Window.partitionBy("flag").orderBy("d").rowsBetween(1, 21)
    rev = F.col("rev")
    return daily.select(
        "flag",
        "d",
        (F.max(rev).over(wf)).alias("future_max_21"),
        (F.min(rev).over(wf)).alias("future_min_21"),
        (
            F.max(rev).over(wf) / F.nullif(rev, F.lit(0)) - 1).alias("max_excursion_21"),
        F.count(rev).over(wf).alias("n_future_days"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# NTILE / RANK / PERCENT_RANK / DENSE_RANK
# (leading_econ_return_indicator.sql:139-141; portfolio_macro_factors.sql:
# 188). Fully tie-broken ORDER BY for determinism (SURVEY.md §7.4).
# --------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT
  c_mktsegment AS segment,
  c_custkey AS customer_key,
  c_acctbal AS acctbal,
  NTILE(4) OVER w AS balance_quartile,
  RANK() OVER w AS balance_rank,
  DENSE_RANK() OVER w AS balance_dense_rank,
  (PERCENT_RANK() OVER w) AS balance_pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey)
ORDER BY segment, balance_rank, customer_key
"""


@query("ntile_rank_percent", oracle=_NTILE_ORACLE)
def ntile_rank_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_custkey").alias("customer_key"),
        F.col("c_acctbal").alias("acctbal"),
        F.ntile(4).over(w).alias("balance_quartile"),
        F.rank().over(w).alias("balance_rank"),
        F.dense_rank().over(w).alias("balance_dense_rank"),
        (F.percent_rank().over(w)).alias("balance_pct_rank"),
    ).orderBy("segment", "balance_rank", "customer_key")


# --------------------------------------------------------------------------
# Windowed rolling CORR (market_breadth_signals.sql:348-359 rolling 63d
# pairwise corr) — rolling 30-row corr of quantity vs revenue, computed
# from windowed exact sums so both engines agree bit-for-bit.
# --------------------------------------------------------------------------

_ROLLING_CORR_ORACLE = f"""
WITH daily2 AS (
  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / 1000.0 AS qty,
    CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE) / 1000000.0 AS rev
  FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
SELECT flag, d,
  (
    (CAST(SUM(CAST(qty * rev AS DECIMAL(28,6))) OVER w AS DOUBLE)
     - CAST(SUM(CAST(qty AS DECIMAL(28,6))) OVER w AS DOUBLE)
       * CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w AS DOUBLE)
       / COUNT(1) OVER w)
    / NULLIF(SQRT(GREATEST(
        (CAST(SUM(CAST(qty * qty AS DECIMAL(28,6))) OVER w AS DOUBLE)
         - CAST(SUM(CAST(qty AS DECIMAL(28,6))) OVER w AS DOUBLE)
           * CAST(SUM(CAST(qty AS DECIMAL(28,6))) OVER w AS DOUBLE)
           / COUNT(1) OVER w)
        * (CAST(SUM(CAST(rev * rev AS DECIMAL(28,6))) OVER w AS DOUBLE)
           - CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w AS DOUBLE)
             * CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w AS DOUBLE)
             / COUNT(1) OVER w), 0)), 0)) AS qty_rev_corr30,
  COUNT(1) OVER w AS n_window
FROM daily2
WINDOW w AS (PARTITION BY flag ORDER BY d
             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY flag, d
"""


@query("rolling_corr", oracle=_ROLLING_CORR_ORACLE)
def rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / 1000.0).alias(
            "qty"
        ),
        (F.sum(rev.cast(DEC)).cast("double") / 1000000.0).alias("rev"),
    )
    w = Window.partitionBy("flag").orderBy("d").rowsBetween(-29, 0)
    qty, rv = F.col("qty"), F.col("rev")
    n = F.count(F.lit(1)).over(w)
    sx, sy = _wsum(qty, w), _wsum(rv, w)
    sxx, syy, sxy = _wsum(qty * qty, w), _wsum(rv * rv, w), _wsum(qty * rv, w)
    num = sxy - sx * sy / n
    den = F.sqrt(
        F.greatest(
            (sxx - sx * sx / n) * (syy - sy * sy / n), F.lit(0.0)
        )
    )
    return daily.select(
        "flag",
        "d",
        (num / F.nullif(den, F.lit(0))).alias("qty_rev_corr30"),
        n.alias("n_window"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# EWM from a trailing window array (ta_primitives.sql:84-126: BigQuery's
# ARRAY_AGG window + offset-weighted sum; consumed by EMA/RSI/MACD at
# technical_indicator_daily.sql:112-133). Spark: collect_list over the
# frame + higher-order aggregate — stays in Tungsten, no Python.
# --------------------------------------------------------------------------

# Weights are embedded as literal doubles (0.9^j computed once in Python)
# rather than per-engine power() calls, and both engines reduce with an
# explicit left fold — pow() implementations and list_sum() association are
# engine-specific, literals + identical fold order are not.
_EWM_SPAN = 20
_EWM_W = [0.9**j for j in range(_EWM_SPAN)]
_EWM_W_SPARK = "array(" + ", ".join(f"{w!r}D" for w in _EWM_W) + ")"
_EWM_W_DUCK = "[" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _EWM_W) + "]"

_EWM_ORACLE = f"""
WITH {_DAILY_CTE},
arr AS (
  SELECT flag, d,
    list(rev) OVER (PARTITION BY flag ORDER BY d
                    ROWS BETWEEN {_EWM_SPAN - 1} PRECEDING AND CURRENT ROW)
      AS win
  FROM daily
)
SELECT flag, d,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(win, (v, i) -> v * ({_EWM_W_DUCK})[len(win) - i + 1])),
    (a, b) -> a + b)
  / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(win, (v, i) -> ({_EWM_W_DUCK})[len(win) - i + 1])),
    (a, b) -> a + b) AS ema20
FROM arr
ORDER BY flag, d
"""


@query("ewm_window_array", oracle=_EWM_ORACLE)
def ewm_window_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w = (
        Window.partitionBy("flag").orderBy("d").rowsBetween(-(_EWM_SPAN - 1), 0)
    )
    arr = daily.withColumn("win", F.collect_list("rev").over(w))
    # Spark transform index i is 0-based; DuckDB's is 1-based. Both resolve
    # weight exponent (window_len - 1 - position) against the same literals.
    weighted = F.expr(
        f"aggregate(transform(win, (v, i) ->"
        f" v * element_at({_EWM_W_SPARK}, size(win) - i)),"
        f" 0D, (acc, x) -> acc + x)"
    )
    wsum = F.expr(
        f"aggregate(transform(win, (v, i) ->"
        f" element_at({_EWM_W_SPARK}, size(win) - i)),"
        f" 0D, (acc, x) -> acc + x)"
    )
    return arr.select(
        "flag", "d", (weighted / wsum).alias("ema20")
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Expanding percentile rank without look-ahead (turbulence_index.py:124-130,
# fear_greed_composite.py:30-40: share of history strictly below current).
# Spark-side: range-join on the post-agg series — distributed, no
# quadratic window state per row.
# --------------------------------------------------------------------------

_EXPANDING_PCT_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT a.flag AS flag, a.d AS d,
  (CAST(SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS DOUBLE)
        / NULLIF(COUNT(*) - 1, 0)) AS expanding_pct_rank,
  COUNT(*) - 1 AS n_history
FROM daily a
JOIN daily b ON a.flag = b.flag AND b.d <= a.d
GROUP BY a.flag, a.d
ORDER BY flag, d
"""


@query("expanding_percentile_rank", oracle=_EXPANDING_PCT_ORACLE)
def expanding_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    a = daily.alias("a")
    b = daily.alias("b")
    return (
        a.join(
            b,
            (F.col("a.flag") == F.col("b.flag"))
            & (F.col("b.d") <= F.col("a.d")),
        )
        .groupBy(F.col("a.flag").alias("flag"), F.col("a.d").alias("d"))
        .agg(
            (
                F.sum(
                    F.when(F.col("b.rev") < F.col("a.rev"), 1).otherwise(0)
                ).cast("double")
                / F.nullif(F.count("*") - 1, F.lit(0))).alias("expanding_pct_rank"),
            (F.count("*") - 1).alias("n_history"),
        )
        .orderBy("flag", "d")
    )


# --------------------------------------------------------------------------
# Sessionization on the events stream (batch form): lag-gap -> cumulative
# session id -> per-user session stats. The canonical Spark pattern
# (pyspark guide §OLAP); streaming twin lives in streaming/events.py.
# --------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_type, value,
    epoch_ms(ts) AS ts_ms,
    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_ms
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
  COUNT(DISTINCT session_id) AS n_sessions,
  COUNT(*) AS n_events,
  (CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT session_id))
    AS events_per_session,
  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


@query("sessionize_events", oracle=_SESSIONIZE_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.withColumn("ts_ms", F.unix_millis("ts")).withColumn(
        "prev_ms", F.lag(F.unix_millis("ts")).over(wo)
    )
    flagged = ordered.withColumn(
        "new_session",
        F.when(
            F.col("prev_ms").isNull()
            | (F.col("ts_ms") - F.col("prev_ms") > 1800000),
            1,
        ).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wcum)
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
            (
                F.count("*").cast("double") / F.countDistinct("session_id")).alias("events_per_session"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# As-of (point-in-time) state: last purchase value as of each event —
# LAST_VALUE IGNORE NULLS over UNBOUNDED PRECEDING, the canonical Spark
# as-of pattern (SURVEY.md §2.3 point-in-time row).
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT event_id, user_id, event_type,
  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS last_purchase_value
FROM events
ORDER BY event_id
"""


@query("asof_last_purchase", oracle=_ASOF_ORACLE)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_value"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Partitioned month-end pick (correlation_analysis_enhanced.sql:10-31:
# LAST_VALUE ... PARTITION BY symbol, DATE_TRUNC(month)) — regularize a
# daily series to monthly grain by taking each month's last observation.
# --------------------------------------------------------------------------

_MONTH_END_ORACLE = f"""
WITH {_DAILY_CTE},
monthly AS (
  SELECT flag, d, rev,
    date_trunc('month', d) AS month,
    LAST_VALUE(rev) OVER (
      PARTITION BY flag, date_trunc('month', d) ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      AS month_end_rev,
    ROW_NUMBER() OVER (
      PARTITION BY flag, date_trunc('month', d) ORDER BY d DESC) AS rn
  FROM daily
)
SELECT flag, month, month_end_rev,
       (d) AS month_end_date,
       COUNT(*) OVER (PARTITION BY flag) AS n_months
FROM monthly
WHERE rn = 1
ORDER BY flag, month
"""


@query("month_end_picks", oracle=_MONTH_END_ORACLE)
def month_end_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    month = F.trunc(F.to_date("d"), "month")
    wm = Window.partitionBy("flag", month).orderBy("d")
    monthly = daily.select(
        "flag",
        "d",
        "rev",
        month.alias("month"),
        F.last("rev").over(
            wm.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("month_end_rev"),
        F.row_number().over(
            Window.partitionBy("flag", month).orderBy(F.col("d").desc())
        ).alias("rn"),
    )
    wflag = Window.partitionBy("flag")
    return (
        monthly.where(F.col("rn") == 1)
        .select(
            "flag",
            "month",
            "month_end_rev",
            F.col("d").alias("month_end_date"),
            F.count("*").over(wflag).alias("n_months"),
        )
        .orderBy("flag", "month")
    )


# --------------------------------------------------------------------------
# Cumulative product over a FORWARD frame via EXP(SUM(LN)) — the
# split-adjustment idiom (stg_split_adjusted_prices.sql:59-68: future
# split product applied backwards so history is adjusted to today's
# share count). exp/ln are libm-territory, so the product is rounded to
# 9 dp on both sides (same policy as the EWM folds).
# --------------------------------------------------------------------------

_SPLIT_ADJ_ORACLE = f"""
WITH {_DAILY_CTE},
ratio AS (
  SELECT flag, d, rev,
    (1.0 + ((CAST(ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS
      DOUBLE) % 7) - 3.0) / 1000.0) AS split_ratio
  FROM daily
)
SELECT flag, d, rev, split_ratio,
  ROUND(EXP(SUM(LN(split_ratio)) OVER (
    PARTITION BY flag ORDER BY d
    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)), 9)
    AS fwd_adjustment_factor,
  ROUND(rev * COALESCE(EXP(SUM(LN(split_ratio)) OVER (
    PARTITION BY flag ORDER BY d
    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)), 1.0), 6)
    AS adjusted_rev
FROM ratio
ORDER BY flag, d
"""


@query("split_adjustment_product", oracle=_SPLIT_ADJ_ORACLE)
def split_adjustment_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wlag = Window.partitionBy("flag").orderBy("d")
    ratio = daily.withColumn(
        "split_ratio",
        1.0
        + ((F.row_number().over(wlag).cast("double") % 7) - 3.0) / 1000.0,
    )
    wfwd = (
        Window.partitionBy("flag")
        .orderBy("d")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    factor = F.exp(F.sum(F.log("split_ratio")).over(wfwd))
    return ratio.select(
        "flag",
        "d",
        "rev",
        "split_ratio",
        F.round(factor, 9).alias("fwd_adjustment_factor"),
        F.round(F.col("rev") * F.coalesce(factor, F.lit(1.0)), 6).alias(
            "adjusted_rev"
        ),
    ).orderBy("flag", "d")
