"""Hierarchy resolution + thread-structure metrics.

Mirror of ``dbt_project/models/analysis/reddit_thread_structure.sql``
(thread-level rollups over parent/depth comment chains) and the
``stg_reddit_comments`` depth derivation it assumes upstream: given a
parent-edge relation, resolve every node's root and depth, then compute
per-thread structure metrics (total/reply counts, max/avg depth,
deep-thread and quality flags, reddit_thread_structure.sql:25-80).

The event log has no explicit parent_id, so edges are derived
deterministically: an event's parent is the same user's previous event
when the gap is <= 6 hours (session threading); otherwise it starts a
new thread. Every thread is therefore a contiguous run of the user's
(ts, event_id)-ordered events, so root and depth come from one window
pass (see ``thread_structure``) where the oracle runs the recursive
CTE depth by depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.parity import davg, dsum, sql_davg, sql_dsum
from ..registry import query

SESSION_GAP_HOURS = 6

_ORACLE = f"""
WITH RECURSIVE edges AS (
  SELECT event_id, user_id, ts, event_type, value,
    LAG(event_id) OVER w AS prev_id,
    LAG(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
linked AS (
  SELECT event_id, user_id, event_type, value,
    (CASE WHEN prev_ts IS NOT NULL
           AND ts - prev_ts <= INTERVAL {SESSION_GAP_HOURS} HOUR
          THEN prev_id END) AS parent_id
  FROM edges
),
resolved AS (
  SELECT event_id, user_id, event_type, value,
         event_id AS root_id, 0 AS depth
  FROM linked WHERE parent_id IS NULL
  UNION ALL
  SELECT l.event_id, l.user_id, l.event_type, l.value,
         r.root_id, r.depth + 1
  FROM linked l JOIN resolved r ON l.parent_id = r.event_id
)
SELECT root_id AS thread_id,
  CAST(MIN(user_id) AS BIGINT) AS user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_replies,
  CAST(MAX(depth) AS BIGINT) AS max_depth,
  {sql_davg("depth")} AS avg_depth,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchases,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_errors,
  {sql_dsum("value")} AS total_value,
  (MAX(depth) >= 3 AND COUNT(*) >= 4) AS is_deep_thread,
  (CASE WHEN MAX(depth) >= 3 THEN 'high'
        WHEN MAX(depth) >= 1 THEN 'medium'
        ELSE 'low' END) AS thread_quality
FROM resolved
GROUP BY root_id
ORDER BY thread_id
"""


@query("thread_structure", oracle=_ORACLE)
def thread_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §8 — use what the optimizer cannot know): THIS query's
    # parent edges are session-threading links — an event's parent is
    # always the SAME user's immediately preceding event (gap <= 6h) —
    # so every tree is a contiguous run ("island") of the (user_id,
    # ts, event_id)-ordered event sequence. Root and depth are
    # therefore single-window-pass derivable: root_id = the last
    # root-flagged event_id at-or-before the row, depth = row_number
    # minus the root's row_number (both running aggregates over the
    # SAME partition/ordering the root flag itself needs, sharing one
    # exchange+sort, guide §2.4). The pointer-doubling resolver this
    # replaced needed O(log depth) blocking self-join + localCheckpoint
    # rounds — ~9 sequential jobs at bench scale and 7 extra shuffles
    # of the edge table at any scale — to compute exactly the same
    # columns.
    # Result equality vs the recursive-CTE oracle is pinned by the
    # DuckDB hash oracle; per-island equivalence: parent_id IS NULL
    # starts an island, every non-root's parent is the previous row,
    # so depth(row) = position within island = rn - rn(island root).
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = SESSION_GAP_HOURS * 3600 * 1_000_000
    is_root = ~(
        F.lag("ts").over(w).isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            <= gap_us
        )
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        is_root.alias("is_root"),
        F.row_number().over(w).alias("__rn"),
    )
    resolved = flagged.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.last(
            F.when(F.col("is_root"), F.col("event_id")),
            ignorenulls=True,
        )
        .over(wcum)
        .alias("root_id"),
        (
            F.col("__rn")
            - F.max(F.when(F.col("is_root"), F.col("__rn"))).over(wcum)
        ).alias("depth"),
    )
    return (
        resolved.groupBy(F.col("root_id").alias("thread_id"))
        .agg(
            F.min("user_id").alias("user_id"),
            F.count("*").alias("n_events"),
            (F.count("*") - 1).alias("n_replies"),
            F.max("depth").cast("long").alias("max_depth"),
            davg("depth").alias("avg_depth"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
            dsum("value").alias("total_value"),
            ((F.max("depth") >= 3) & (F.count("*") >= 4)).alias(
                "is_deep_thread"
            ),
            F.when(F.max("depth") >= 3, "high")
            .when(F.max("depth") >= 1, "medium")
            .otherwise("low")
            .alias("thread_quality"),
        )
        .orderBy("thread_id")
    )
