"""Aggregation operators (SURVEY.md §2.4): conditional aggregates,
COUNT(DISTINCT), ANY_VALUE/max_by "latest value" idioms, STRING_AGG /
ARRAY_AGG ports, exact percentiles, pivot / unpivot, rollup.

Reference shapes mirrored here:
- SUM(CASE WHEN)/COUNTIF batteries (calculate_market_summary.sql:124-126,
  diffusion_index_signals.sql:90-95)
- ARRAY_AGG(x ORDER BY y DESC LIMIT 1)[SAFE_OFFSET(0)] latest-value idiom
  (calculate_market_summary.sql:99-102) -> max_by
- STRING_AGG(x, ', ' ORDER BY s DESC) (ticker_sector_sensitivity.sql:89-90)
- APPROX_QUANTILES[OFFSET(50)] medians (sector_regime_performance.sql:92)
  — realized here as EXACT percentiles so the DuckDB oracle matches
  bit-for-bit (Spark GK-sketch and DuckDB t-digest approximations would
  never hash-equal; at 100 TB swap in percentile_approx where a sketch is
  acceptable).
- Pivot via MAX(CASE WHEN) (economic_regime_classification.sql:11-35) ->
  native groupBy().pivot() (map-side partial agg; one shuffle), defined
  once with the regime rule in ``operators/panels.py``.
- Unpivot wide->long (inverse of the treasury spread layout,
  agent_treasury_yield_curve_spreads.sql:10-32) -> df.unpivot.

Scale notes: every aggregate here is a hash group-by with map-side partial
aggregation (Catalyst plans partial_/final_ automatically); pivots pin the
value list explicitly so no extra distinct-scan job runs at plan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.parity import davg, dsum, sql_davg, sql_dsum
from ..functions import ta
from ..registry import query
from .panels import monthly_flag_revenue, monthly_regimes

_REV = "l_extendedprice * (1 - l_discount)"


def _rev_wide() -> list:
    """The flag pivot's A/N/R columns under the reference's names."""
    return [F.col(f).alias(f"rev_{f.lower()}") for f in "ANR"]


# --------------------------------------------------------------------------
# Conditional aggregate battery + COUNT(DISTINCT) + ANY_VALUE.
# --------------------------------------------------------------------------

_CONDITIONAL_ORACLE = f"""
SELECT
  o_orderstatus AS status,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o_custkey) AS n_customers,
  CAST(SUM(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_urgent,
  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
  {sql_dsum("CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0 END")}
    AS big_total,
  {sql_davg("CASE WHEN o_orderpriority LIKE '1-%' THEN o_totalprice END")}
    AS avg_urgent_price,
  CAST(MIN(o_orderdate) AS DATE) AS first_date,
  CAST(MAX(o_orderdate) AS DATE) AS last_date
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""


@query("conditional_aggregates", oracle=_CONDITIONAL_ORACLE)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").like("1-%")
    big = F.col("o_totalprice") > 200000
    return (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.when(urgent, 1).otherwise(0)).alias("n_urgent"),
            F.count(F.when(big, 1)).alias("n_big"),
            dsum(F.when(big, F.col("o_totalprice")).otherwise(0)).alias(
                "big_total"
            ),
            davg(F.when(urgent, F.col("o_totalprice"))).alias(
                "avg_urgent_price"
            ),
            F.min("o_orderdate").cast("date").alias("first_date"),
            F.max("o_orderdate").cast("date").alias("last_date"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# STRING_AGG / ARRAY_AGG(DISTINCT ... ORDER BY) ports: per-region sorted
# nation list (reddit_cross_subreddit_activity.sql:33,54 shape).
# concat_ws over sort_array(collect_set) == STRING_AGG(DISTINCT ... ORDER BY).
# --------------------------------------------------------------------------

_STRING_AGG_ORACLE = """
SELECT
  r_name AS region_name,
  COUNT(DISTINCT n_name) AS n_nations,
  STRING_AGG(DISTINCT n_name, ', ' ORDER BY n_name) AS nation_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY region_name
"""


@query("string_agg_nations", oracle=_STRING_AGG_ORACLE)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.countDistinct("n_name").alias("n_nations"),
            F.concat_ws(", ", F.sort_array(F.collect_set("n_name"))).alias(
                "nation_csv"
            ),
        )
        .orderBy("region_name")
    )


# --------------------------------------------------------------------------
# Exact percentiles per group (the reference's APPROX_QUANTILES medians).
# --------------------------------------------------------------------------

_PERCENTILES_ORACLE = """
SELECT
  l_returnflag AS flag,
  (QUANTILE_CONT(l_quantity, 0.5)) AS median_qty,
  (QUANTILE_CONT(l_extendedprice, 0.75)) AS p75_price,
  (QUANTILE_CONT(l_extendedprice, 0.9)) AS p90_price,
  (QUANTILE_CONT(l_discount, 0.25)) AS p25_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@query("group_percentiles", oracle=_PERCENTILES_ORACLE)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_extendedprice", F.lit(0.75)).alias("p75_price"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
            F.percentile("l_discount", F.lit(0.25)).alias("p25_disc"),
        )
        .orderBy("flag")
    )


# --------------------------------------------------------------------------
# Pivot long->wide: month x returnflag revenue matrix
# (economic_regime_classification.sql:11-35; absorption_ratio.py:50-52).
# Values pinned explicitly -> single shuffle, no distinct pre-scan.
# --------------------------------------------------------------------------

_PIVOT_ORACLE = f"""
SELECT
  date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
  {sql_dsum("CASE WHEN l_returnflag = 'A' THEN " + _REV + " END")} AS rev_a,
  {sql_dsum("CASE WHEN l_returnflag = 'N' THEN " + _REV + " END")} AS rev_n,
  {sql_dsum("CASE WHEN l_returnflag = 'R' THEN " + _REV + " END")} AS rev_r
FROM lineitem
GROUP BY 1
ORDER BY month
"""


@query("pivot_monthly_revenue", oracle=_PIVOT_ORACLE)
def pivot_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        monthly_flag_revenue(li)
        .select("month", *_rev_wide())
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Unpivot wide->long (stack): inverse of the pivot above.
# --------------------------------------------------------------------------

_UNPIVOT_ORACLE = f"""
WITH wide AS (
  SELECT
    date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
    {sql_dsum("CASE WHEN l_returnflag = 'A' THEN " + _REV + " END")} AS rev_a,
    {sql_dsum("CASE WHEN l_returnflag = 'N' THEN " + _REV + " END")} AS rev_n,
    {sql_dsum("CASE WHEN l_returnflag = 'R' THEN " + _REV + " END")} AS rev_r
  FROM lineitem
  GROUP BY 1
)
SELECT month, flag, revenue FROM (
  SELECT month, 'A' AS flag, rev_a AS revenue FROM wide
  UNION ALL SELECT month, 'N', rev_n FROM wide
  UNION ALL SELECT month, 'R', rev_r FROM wide
)
WHERE revenue IS NOT NULL
ORDER BY month, flag
"""


@query("unpivot_monthly_revenue", oracle=_UNPIVOT_ORACLE)
def unpivot_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pivot_monthly_revenue(spark, sf_dir)
    return (
        wide.unpivot(
            ["month"],
            ["rev_a", "rev_n", "rev_r"],
            "flag_col",
            "revenue",
        )
        .select(
            "month",
            F.upper(F.substring("flag_col", 5, 1)).alias("flag"),
            "revenue",
        )
        .where(F.col("revenue").isNotNull())
        .orderBy("month", "flag")
    )


# --------------------------------------------------------------------------
# ROLLUP hierarchy totals (status -> priority -> grand total). The reference
# never uses grouping sets (SURVEY.md §2.4) — included for engine
# completeness; Catalyst expands rollup into a single Expand+hash-agg (one
# shuffle for all grouping levels).
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT
  o_orderstatus AS status,
  o_orderpriority AS priority,
  GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
  COUNT(*) AS n_orders,
  {sql_dsum("o_totalprice")} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, status NULLS LAST, priority NULLS LAST
"""


@query("rollup_order_totals", oracle=_ROLLUP_ORACLE)
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus").cast("long")
                + 2 * F.grouping("o_orderpriority").cast("long")
            ).alias("gid"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "gid",
            "n_orders",
            "total_price",
        )
        .orderBy(
            "gid",
            F.col("status").asc_nulls_last(),
            F.col("priority").asc_nulls_last(),
        )
    )


# --------------------------------------------------------------------------
# Economic regime classification (economic_regime_classification.sql:11-35:
# pivot N series wide per month, classify the month via multi-series
# conditions, then LAG-detect regime transitions).
# --------------------------------------------------------------------------

_REGIME_ORACLE = f"""
WITH wide AS (
  SELECT
    date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
    {sql_dsum("CASE WHEN l_returnflag = 'A' THEN " + _REV + " END")} AS rev_a,
    {sql_dsum("CASE WHEN l_returnflag = 'N' THEN " + _REV + " END")} AS rev_n,
    {sql_dsum("CASE WHEN l_returnflag = 'R' THEN " + _REV + " END")} AS rev_r,
    COUNT(*) AS n_items
  FROM lineitem
  GROUP BY 1
),
classified AS (
  SELECT month, rev_a, rev_n, rev_r, n_items,
    (CASE
       WHEN rev_n > COALESCE(rev_a, 0) + COALESCE(rev_r, 0)
         THEN 'expansion'
       WHEN COALESCE(rev_r, 0) > COALESCE(rev_n, 0) THEN 'contraction'
       ELSE 'neutral'
     END) AS regime
  FROM wide
),
transitions AS (
  SELECT month, rev_a, rev_n, rev_r, regime,
    LAG(regime) OVER (ORDER BY month) AS prev_regime,
    (CASE WHEN regime <> LAG(regime) OVER (ORDER BY month)
          THEN 1 ELSE 0 END) AS is_transition
  FROM classified
)
SELECT month, rev_a, rev_n, rev_r, regime, prev_regime, is_transition,
  CAST(SUM(is_transition) OVER (
    ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS n_transitions
FROM transitions
ORDER BY month
"""


@query("economic_regime_classification", oracle=_REGIME_ORACLE)
def economic_regime_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = ta.series_window("month")
    wrun = ta.series_window("month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    transitions = monthly_regimes(li).select(
        "month", *_rev_wide(), "regime",
        F.lag("regime").over(w).alias("prev_regime"),
        F.when(F.col("regime") != F.lag("regime").over(w), 1)
        .otherwise(0)
        .alias("is_transition"),
    )
    return transitions.select(
        "*", F.sum("is_transition").over(wrun).alias("n_transitions")
    ).orderBy("month")


# --------------------------------------------------------------------------
# Cross-sectional dispersion + top-N-per-group leaders/laggards
# (sector_dispersion_analysis.sql:78,100-107: per-period cross-entity
# stddev; rank<=2 best and worst performers). Spark: rank windows over
# the per-month panel — the row_number<=N pattern replacing the
# reference's MAX(CASE WHEN rank=...) pivoting.
# --------------------------------------------------------------------------

_DISPERSION_ORACLE = f"""
WITH monthly AS (
  SELECT n_name AS nation,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', CAST(l_shipdate AS DATE))
),
means AS (
  SELECT month, {sql_davg("rev")} AS mean_rev, COUNT(*) AS n_nations
  FROM monthly GROUP BY month
),
ranked AS (
  SELECT m.month, m.nation, m.rev, s.mean_rev, s.n_nations,
    ROW_NUMBER() OVER (PARTITION BY m.month
                       ORDER BY m.rev DESC, m.nation) AS rank_best,
    ROW_NUMBER() OVER (PARTITION BY m.month
                       ORDER BY m.rev ASC, m.nation) AS rank_worst
  FROM monthly m JOIN means s ON m.month = s.month
),
spread AS (
  SELECT month,
    CAST(SUM(CAST((rev - mean_rev) * (rev - mean_rev) AS DECIMAL(28,6)))
         AS DOUBLE) AS ss_dev,
    (MAX(n_nations)) AS n_nations
  FROM ranked GROUP BY month
)
SELECT r.month AS month, r.nation, r.rev,
       (CASE WHEN r.rank_best <= 2 THEN 'leader' ELSE 'laggard' END)
         AS role,
       (CASE WHEN r.rank_best <= 2 THEN r.rank_best
             ELSE r.rank_worst END) AS role_rank,
       (CASE WHEN s.n_nations > 1 THEN
          SQRT(s.ss_dev / (s.n_nations - 1.0)) END) AS cross_dispersion
FROM ranked r JOIN spread s ON r.month = s.month
WHERE r.rank_best <= 2 OR r.rank_worst <= 2
ORDER BY month, role, role_rank, r.nation
"""


@query("sector_dispersion_leaders", oracle=_DISPERSION_ORACLE)
def sector_dispersion_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    monthly = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        )
        .agg(
            (F.sum(rev.cast("decimal(28,6)")).cast("double") / F.lit(1e6))
            .alias("rev")
        )
        # cached (r9): (nation x month) sized, consumed by the means
        # agg and the ranked join (4 fact scans cold). repartition(1):
        # see data_points.py.
        .repartition(1)
        .cache()
    )
    means = monthly.groupBy("month").agg(
        davg("rev").alias("mean_rev"), F.count("*").alias("n_nations")
    )
    wbest = Window.partitionBy("month").orderBy(
        F.col("rev").desc(), F.col("nation")
    )
    wworst = Window.partitionBy("month").orderBy(
        F.col("rev").asc(), F.col("nation")
    )
    ranked = (
        monthly.join(means, "month")
        .withColumn("rank_best", F.row_number().over(wbest))
        .withColumn("rank_worst", F.row_number().over(wworst))
    )
    dev = F.col("rev") - F.col("mean_rev")
    spread = ranked.groupBy("month").agg(
        F.sum((dev * dev).cast("decimal(28,6)")).cast("double").alias(
            "ss_dev"
        ),
        F.max("n_nations").alias("n_all"),
    )
    out = (
        ranked.where((F.col("rank_best") <= 2) | (F.col("rank_worst") <= 2))
        .join(spread, "month")
        .select(
            "month",
            "nation",
            "rev",
            F.when(F.col("rank_best") <= 2, "leader")
            .otherwise("laggard")
            .alias("role"),
            F.when(F.col("rank_best") <= 2, F.col("rank_best"))
            .otherwise(F.col("rank_worst"))
            .cast("long")
            .alias("role_rank"),
            F.when(
                F.col("n_all") > 1,
                F.sqrt(F.col("ss_dev") / (F.col("n_all") - F.lit(1.0))),
            ).alias("cross_dispersion"),
        )
    )
    return out.orderBy("month", "role", "role_rank", "nation")
