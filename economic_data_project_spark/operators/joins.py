"""Join operators (SURVEY.md §2.3).

Scale notes (the part that matters at 100 TB):
- Dimension tables (region/nation/supplier) are explicitly ``broadcast()``
  — no shuffle of the fact side on those joins.
- The snapshot fan-out range join keeps the *small* side (snapshot dates)
  broadcast so the non-equi predicate becomes a broadcast nested-loop over
  a ~100-row dim instead of a cartesian shuffle — mirrors the reference's
  month-bucket advice (SURVEY.md §7.4).
- Self-joins on derived daily aggregates operate on post-aggregation data
  (days × entities), already orders of magnitude smaller than the facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.parity import (
    centered_corr,
    davg,
    dsum,
    sql_centered_corr,
    sql_davg,
    sql_dsum,
)
from ..registry import query

_REV = "l_extendedprice * (1 - l_discount)"


def _rev_col():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Multi-way equi-join with broadcast dims — the staple shape of every mart
# model (e.g. market_breadth_signals.sql:432-436 final join; stg_fred_series
# broadcast of the ~70-row mapping seed).
# --------------------------------------------------------------------------

_NATION_REVENUE_ORACLE = f"""
SELECT
  r_name AS region_name,
  n_name AS nation_name,
  {sql_dsum(_REV)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region_name, nation_name
"""


@query("nation_revenue", oracle=_NATION_REVENUE_ORACLE)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.5): all four dims broadcast, so the single scan
    # task of a one-row-group lineitem file did every hash probe, the
    # rev product, and the decimal(28,6) cast+partial-sum alone;
    # spread first (no-op at scale; keys already in the pruned
    # ReadSchema). Alternating A/B, 7 reps: 1.41s -> 1.02s.
    li = spread_scan(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_orderkey",
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(dsum(_rev_col()).alias("revenue"), F.count("*").alias("n_items"))
        .orderBy("region_name", "nation_name")
    )


# --------------------------------------------------------------------------
# Calendar-offset self-join — price exactly N days ago
# (macros/calculate_market_analysis_return.sql:56-76). NULL when no row
# exists exactly 7 days back: replicated, NOT "fixed" with an as-of join
# (SURVEY.md §7.4 hard parts).
# --------------------------------------------------------------------------

_CALENDAR_OFFSET_ORACLE = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d, {sql_dsum(_REV)} AS revenue
  FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
)
SELECT a.d AS d,
       a.revenue AS revenue,
       b.revenue AS revenue_7d_ago,
       ((a.revenue - b.revenue) / b.revenue) AS return_7d
FROM daily a
LEFT JOIN daily b ON b.d = a.d - INTERVAL 7 DAY
ORDER BY d
"""


@query("calendar_offset_returns", oracle=_CALENDAR_OFFSET_ORACLE)
def calendar_offset_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        dsum(_rev_col()).alias("revenue")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    return (
        a.join(b, F.col("b.d") == F.date_sub(F.col("a.d"), 7), "left")
        .select(
            F.col("a.d").alias("d"),
            F.col("a.revenue").alias("revenue"),
            F.col("b.revenue").alias("revenue_7d_ago"),
            (
                (F.col("a.revenue") - F.col("b.revenue")) / F.col("b.revenue")).alias("return_7d"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# Full outer join across signal families (23 uses in the reference's
# signals layer, e.g. financial_conditions_signals.sql) with coalesced key.
# --------------------------------------------------------------------------

_FULL_OUTER_ORACLE = f"""
WITH m1 AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         {sql_dsum("o_totalprice")} AS order_total
  FROM orders GROUP BY 1
),
m2 AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {sql_dsum(_REV)} AS ship_revenue
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(m1.month, m2.month) AS month,
       m1.order_total AS order_total,
       m2.ship_revenue AS ship_revenue
FROM m1 FULL OUTER JOIN m2 ON m1.month = m2.month
ORDER BY month
"""


@query("full_outer_signal_families", oracle=_FULL_OUTER_ORACLE)
def full_outer_signal_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    m1 = o.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month")).agg(
        dsum("o_totalprice").alias("order_total")
    )
    m2 = li.groupBy(F.trunc(F.to_date("l_shipdate"), "month").alias("month")).agg(
        dsum(_rev_col()).alias("ship_revenue")
    )
    return (
        m1.alias("m1")
        .join(m2.alias("m2"), F.col("m1.month") == F.col("m2.month"), "full_outer")
        .select(
            F.coalesce(F.col("m1.month"), F.col("m2.month")).alias("month"),
            F.col("m1.order_total").alias("order_total"),
            F.col("m2.ship_revenue").alias("ship_revenue"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Anti-join (NOT EXISTS — stg_corporate_actions.sql:178-205 shape) and
# semi-join (INNER JOIN SELECT DISTINCT — stg_corporate_actions.sql:25-28).
# --------------------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey AS customer_key, c_name AS customer_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY customer_key
"""


@query("customers_without_orders", oracle=_ANTI_ORACLE)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").alias("customer_key"),
            F.col("c_name").alias("customer_name"),
        )
        .orderBy("customer_key")
    )


_SEMI_ORACLE = """
SELECT p_partkey AS part_key, p_brand AS brand, p_retailprice AS retail_price
FROM part p
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
)
ORDER BY part_key
"""


@query("parts_with_bulk_sales", oracle=_SEMI_ORACLE)
def parts_with_bulk_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        p.join(
            li.where(F.col("l_quantity") > 45),
            p.p_partkey == F.col("l_partkey"),
            "left_semi",
        )
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_brand").alias("brand"),
            F.col("p_retailprice").alias("retail_price"),
        )
        .orderBy("part_key")
    )


# --------------------------------------------------------------------------
# Cross join against a 1-row boundary/constant aggregate
# (macros/calculate_market_summary.sql:49 boundary constants).
# --------------------------------------------------------------------------

_CROSS_BOUNDARY_ORACLE = f"""
WITH g AS (SELECT {sql_davg("o_totalprice")} AS global_avg FROM orders)
SELECT o_orderkey AS order_key,
       (o_totalprice / g.global_avg) AS price_vs_global
FROM orders CROSS JOIN g
ORDER BY order_key
"""


@query("cross_join_global_ratio", oracle=_CROSS_BOUNDARY_ORACLE)
def cross_join_global_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(davg("o_totalprice").alias("global_avg"))
    return (
        o.crossJoin(F.broadcast(g))
        .select(
            F.col("o_orderkey").alias("order_key"),
            (F.col("o_totalprice") / F.col("global_avg")).alias(
                "price_vs_global"
            ),
        )
        .orderBy("order_key")
    )


# --------------------------------------------------------------------------
# Snapshot fan-out range join (backtesting/us_sector_summary_snapshot.sql:
# 42-49): for each month-start snapshot, aggregate the trailing 90 days.
# Spark plan: the snapshot dim (~77 rows at any scale) is broadcast, so the
# range predicate runs as a broadcast nested-loop — no shuffle of orders,
# and each order fans out to at most ceil(90/30)=3 snapshots.
# --------------------------------------------------------------------------

_SNAPSHOT_RANGE_ORACLE = f"""
WITH snapshots AS (
  SELECT CAST(unnest(generate_series(
      DATE '1995-04-01', DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE)
      AS snapshot_date
)
SELECT s.snapshot_date AS snapshot_date,
       COUNT(o_orderkey) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_value
FROM snapshots s
JOIN orders o
  ON CAST(o.o_orderdate AS DATE) <= s.snapshot_date
 AND CAST(o.o_orderdate AS DATE) > s.snapshot_date - INTERVAL 90 DAY
GROUP BY s.snapshot_date
ORDER BY snapshot_date
"""


@query("snapshot_trailing_90d", oracle=_SNAPSHOT_RANGE_ORACLE)
def snapshot_trailing_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    snapshots = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-04-01")),
                F.to_date(F.lit("2001-08-01")),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("snapshot_date")
    )
    od = o.withColumn("od", F.to_date("o_orderdate"))
    joined = F.broadcast(snapshots).join(
        od,
        (F.col("od") <= F.col("snapshot_date"))
        & (F.col("od") > F.date_sub(F.col("snapshot_date"), 90)),
    )
    return (
        joined.groupBy("snapshot_date")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_value"),
        )
        .orderBy("snapshot_date")
    )


# --------------------------------------------------------------------------
# Pairwise self-join (a < b theta) + correlation between entity series —
# the breadth-signals pairwise-corr shape (market_breadth_signals.sql:
# 322-359). Runs on post-aggregation daily series (small at any SF).
# --------------------------------------------------------------------------

_PAIRWISE_CORR_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS rev
  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
),
pairs AS (
  SELECT a.pr AS pr_a, b.pr AS pr_b, a.rev AS rev_a, b.rev AS rev_b
  FROM daily a JOIN daily b ON a.d = b.d AND a.pr < b.pr
),
means AS (
  SELECT pr_a, pr_b,
         {sql_davg("rev_a")} AS mean_a,
         {sql_davg("rev_b")} AS mean_b
  FROM pairs GROUP BY pr_a, pr_b
)
SELECT p.pr_a AS pr_a, p.pr_b AS pr_b,
       {sql_centered_corr("p.rev_a - m.mean_a", "p.rev_b - m.mean_b")}
         AS revenue_corr,
       COUNT(*) AS n_days
FROM pairs p JOIN means m ON p.pr_a = m.pr_a AND p.pr_b = m.pr_b
GROUP BY p.pr_a, p.pr_b
ORDER BY pr_a, pr_b
"""


@query("pairwise_priority_corr", oracle=_PAIRWISE_CORR_ORACLE)
def pairwise_priority_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # cached (r9): (priority x date) sized, read by both sides of the
    # pair self-join and again by the means/corr passes — 4 fact scans
    # cold. repartition(1): see data_points.py.
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(dsum("o_totalprice").alias("rev"))
        .repartition(1)
        .cache()
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.d") == F.col("b.d")) & (F.col("a.pr") < F.col("b.pr")),
    ).select(
        F.col("a.pr").alias("pr_a"),
        F.col("b.pr").alias("pr_b"),
        F.col("a.rev").alias("rev_a"),
        F.col("b.rev").alias("rev_b"),
    )
    means = pairs.groupBy("pr_a", "pr_b").agg(
        davg("rev_a").alias("mean_a"), davg("rev_b").alias("mean_b")
    )
    return (
        pairs.join(means, ["pr_a", "pr_b"])
        .groupBy("pr_a", "pr_b")
        .agg(
            centered_corr(
                F.col("rev_a") - F.col("mean_a"),
                F.col("rev_b") - F.col("mean_b"),
            ).alias("revenue_corr"),
            F.count("*").alias("n_days"),
        )
        .orderBy("pr_a", "pr_b")
    )
