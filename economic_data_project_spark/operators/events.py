"""Event-log operators: JSON envelope parsing, signal-event state
machine, backtest forward-return evaluation.

- JSON (SURVEY.md §2.8: from_json/get_json_object over SEC filing
  envelopes, sec_document_registry.yml:14-18): the events table carries a
  JSON ``props`` column parsed with a declared schema — schema-on-read,
  never inferred per row.
- Signal events (technical_signal_events.sql:5-26,241-261): trigger
  detection (SMA crossover), event-state transitions via running
  conditional windows, per-event sequence numbers.
- Backtest forward returns (technical_signal_instances.sql:39-48 +
  backtest_utils.get_asset_returns): for each signal event, the
  forward-window excursion evaluates the signal — future data is allowed
  ONLY here, in the evaluation layer (the look-ahead-freedom invariant,
  SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query
from .panels import daily_revenue

DEC = "decimal(28,6)"

# --------------------------------------------------------------------------
# JSON props parsing + per-type aggregation.
# --------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_total,
       (MIN(CAST(json_extract(props, '$.k') AS BIGINT))) AS k_min,
       (MAX(CAST(json_extract(props, '$.k') AS BIGINT))) AS k_max,
       COUNT(*) FILTER (WHERE CAST(json_extract(props, '$.k') AS BIGINT)
                              >= 50) AS k_high
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("events_json_props", oracle=_JSON_ORACLE)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("k_total"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
            F.count(F.when(k >= 50, 1)).alias("k_high"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Signal-event state machine: SMA-crossover triggers -> running event
# state + bars-since-trigger + event sequence number.
# --------------------------------------------------------------------------

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

_EVENTS_ORACLE = f"""
WITH {_DAILY_CTE},
sma AS (
  SELECT flag, d, rev,
    (CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
       / COUNT(rev) OVER w20) AS sma20,
    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS rn
  FROM daily
  WINDOW w20 AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
flagged AS (
  SELECT flag, d, rev, sma20, rn,
    (CASE WHEN rev > sma20
          AND LAG(rev) OVER w <= LAG(sma20) OVER w
          THEN 1 ELSE 0 END) AS is_trigger
  FROM sma
  WINDOW w AS (PARTITION BY flag ORDER BY d)
),
stated AS (
  SELECT flag, d, rev, sma20, rn, is_trigger,
    MAX(CASE WHEN is_trigger = 1 THEN rn END) OVER (
      PARTITION BY flag ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_trigger_rn,
    CAST(SUM(is_trigger) OVER (
      PARTITION BY flag ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS event_seq
  FROM flagged
)
SELECT flag, d, rev, sma20, is_trigger,
       (rn - last_trigger_rn) AS bars_since_trigger,
       event_seq,
       (CASE WHEN last_trigger_rn IS NULL THEN 'no_signal'
             WHEN rn - last_trigger_rn <= 5 THEN 'active'
             ELSE 'aging' END) AS event_state
FROM stated
ORDER BY flag, d
"""


@query("signal_event_machine", oracle=_EVENTS_ORACLE)
def signal_event_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w20 = Window.partitionBy("flag").orderBy("d").rowsBetween(-19, 0)
    wlag = Window.partitionBy("flag").orderBy("d")
    wrun = (
        Window.partitionBy("flag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sma = daily.select(
        "flag",
        "d",
        "rev",
        (
            F.sum(F.col("rev").cast(DEC)).over(w20).cast("double")
            / F.count("rev").over(w20)
        ).alias("sma20"),
        F.row_number().over(wlag).alias("rn"),
    )
    flagged = sma.withColumn(
        "is_trigger",
        F.when(
            (F.col("rev") > F.col("sma20"))
            & (F.lag("rev").over(wlag) <= F.lag("sma20").over(wlag)),
            1,
        ).otherwise(0),
    )
    stated = flagged.select(
        "flag", "d", "rev", "sma20", "rn", "is_trigger",
        F.max(F.when(F.col("is_trigger") == 1, F.col("rn")))
        .over(wrun)
        .alias("last_trigger_rn"),
        F.sum("is_trigger").over(wrun).alias("event_seq"),
    )
    return stated.select(
        "flag", "d", "rev", "sma20", "is_trigger",
        (F.col("rn") - F.col("last_trigger_rn")).alias("bars_since_trigger"),
        "event_seq",
        F.when(F.col("last_trigger_rn").isNull(), "no_signal")
        .when(F.col("rn") - F.col("last_trigger_rn") <= 5, "active")
        .otherwise("aging")
        .alias("event_state"),
    ).orderBy("flag", "d")


# --------------------------------------------------------------------------
# Backtest evaluation: forward 5/21-bar returns of each trigger event
# (future frames ONLY in this evaluation layer).
# --------------------------------------------------------------------------

_BACKTEST_ORACLE = f"""
WITH {_DAILY_CTE},
sma AS (
  SELECT flag, d, rev,
    (CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER w20 AS DOUBLE)
       / COUNT(rev) OVER w20) AS sma20
  FROM daily
  WINDOW w20 AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
flagged AS (
  SELECT flag, d, rev, sma20,
    (CASE WHEN rev > sma20
          AND LAG(rev) OVER w <= LAG(sma20) OVER w
          THEN 1 ELSE 0 END) AS is_trigger,
    LEAD(rev, 5) OVER w AS rev_fwd5,
    LEAD(rev, 21) OVER w AS rev_fwd21,
    (MAX(rev) OVER (PARTITION BY flag ORDER BY d
       ROWS BETWEEN 1 FOLLOWING AND 21 FOLLOWING)) AS max_fwd21
  FROM sma
  WINDOW w AS (PARTITION BY flag ORDER BY d)
)
SELECT flag, d AS trigger_date, rev AS entry_rev,
       ((rev_fwd5 - rev) / rev) AS fwd5_return,
       ((rev_fwd21 - rev) / rev) AS fwd21_return,
       ((max_fwd21 - rev) / rev) AS max_favorable_excursion,
       (CASE WHEN rev_fwd21 > rev THEN 1 ELSE 0 END) AS is_win
FROM flagged
WHERE is_trigger = 1 AND rev_fwd21 IS NOT NULL AND rev > 0
ORDER BY flag, trigger_date
"""


@query("backtest_trigger_returns", oracle=_BACKTEST_ORACLE)
def backtest_trigger_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w20 = Window.partitionBy("flag").orderBy("d").rowsBetween(-19, 0)
    wlag = Window.partitionBy("flag").orderBy("d")
    wfwd = Window.partitionBy("flag").orderBy("d").rowsBetween(1, 21)
    sma = daily.select(
        "flag", "d", "rev",
        (
            F.sum(F.col("rev").cast(DEC)).over(w20).cast("double")
            / F.count("rev").over(w20)
        ).alias("sma20"),
    )
    flagged = sma.select(
        "flag", "d", "rev", "sma20",
        F.when(
            (F.col("rev") > F.col("sma20"))
            & (F.lag("rev").over(wlag) <= F.lag("sma20").over(wlag)),
            1,
        )
        .otherwise(0)
        .alias("is_trigger"),
        F.lead("rev", 5).over(wlag).alias("rev_fwd5"),
        F.lead("rev", 21).over(wlag).alias("rev_fwd21"),
        F.max("rev").over(wfwd).alias("max_fwd21"),
    )
    r = F.col("rev")
    return (
        flagged.where(
            (F.col("is_trigger") == 1)
            & F.col("rev_fwd21").isNotNull()
            & (r > 0)
        )
        .select(
            "flag",
            F.col("d").alias("trigger_date"),
            r.alias("entry_rev"),
            ((F.col("rev_fwd5") - r) / r).alias("fwd5_return"),
            ((F.col("rev_fwd21") - r) / r).alias("fwd21_return"),
            ((F.col("max_fwd21") - r) / r).alias("max_favorable_excursion"),
            F.when(F.col("rev_fwd21") > r, 1).otherwise(0).alias("is_win"),
        )
        .orderBy("flag", "trigger_date")
    )


# --------------------------------------------------------------------------
# Time-of-day / day-of-week profile (stg_reddit_posts.sql:35-36
# EXTRACT(DAYOFWEEK/HOUR); reddit engagement heatmap shape).
# DuckDB dayofweek is 0=Sunday..6; Spark dayofweek is 1=Sunday..7 —
# normalized to ISO 1=Monday..7 on both sides.
# --------------------------------------------------------------------------

_TIME_PROFILE_ORACLE = """
SELECT isodow(ts) AS iso_dow,
       EXTRACT(HOUR FROM ts) AS hour_of_day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY isodow(ts), EXTRACT(HOUR FROM ts), event_type
ORDER BY iso_dow, hour_of_day, event_type
"""


@query("event_time_profile", oracle=_TIME_PROFILE_ORACLE)
def event_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.expr("(dayofweek(ts) + 5) % 7 + 1").alias("iso_dow"),
            F.hour("ts").cast("long").alias("hour_of_day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias(
                "total_value"
            ),
        )
        .orderBy("iso_dow", "hour_of_day", "event_type")
    )


# --------------------------------------------------------------------------
# Cross-source membership analysis
# (analysis/reddit_cross_subreddit_activity.sql:33-54: entities active in
# multiple containers; ARRAY_AGG(DISTINCT ...) membership lists).
# Entity = language; container = document source.
# --------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = """
SELECT lang,
       COUNT(DISTINCT source) AS n_sources,
       STRING_AGG(DISTINCT source, ',' ORDER BY source) AS source_csv,
       COUNT(*) AS n_docs,
       (CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT source))
         AS docs_per_source,
       (COUNT(DISTINCT source) > 10) AS is_broad
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("cross_source_activity", oracle=_CROSS_SOURCE_ORACLE)
def cross_source_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias(
                "source_csv"
            ),
            F.count("*").alias("n_docs"),
        )
        .withColumn(
            "docs_per_source",
            F.col("n_docs").cast("double") / F.col("n_sources"),
        )
        .withColumn("is_broad", F.col("n_sources") > 10)
        .orderBy("lang")
    )
