"""Series grain / coverage inference.

Mirror of ``dbt_project/models/government/fred_series_grain.sql``: given a
long store of heterogeneous time series, count each series' observations
in the trailing 12 months and classify its publication frequency by
count thresholds (>=200 Daily, >=50 Weekly, >=9 Monthly, >=2 Quarterly,
>=1 Annually, fred_series_grain.sql:28-46).

The synthetic series store is a UNION of mixed-grain series derived from
the warehouse — daily ship-date series per returnflag, weekly series per
linestatus, monthly series per order priority, quarterly per order
status — standing in for ``stg_fred_series``'s mixed
daily/weekly/monthly/quarterly codes. Determinism: the reference anchors
the trailing window at CURRENT_DATE (:1-5); we anchor at the union-wide
MAX(date) so the oracle is reproducible.

Scale: each branch is a hash-agg (DISTINCT grain-date per code) pushed to
the source scan; the union is of per-series DATE rows (tiny); the final
count + CASE ladder is one small agg. The global-max anchor is a
broadcast scalar, not a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

_ORACLE = """
WITH series_store AS (
  SELECT 'SHIP_' || l_returnflag AS series_code,
         'Daily shipments flag ' || l_returnflag AS series_name,
         CAST(l_shipdate AS DATE) AS date
  FROM lineitem GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'SHIPWK_' || l_linestatus,
         'Weekly shipments status ' || l_linestatus,
         date_trunc('week', CAST(l_shipdate AS DATE))
  FROM lineitem GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'ORDM_' || o_orderpriority,
         'Monthly orders priority ' || o_orderpriority,
         date_trunc('month', CAST(o_orderdate AS DATE))
  FROM orders GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'ORDQ_' || o_orderstatus,
         'Quarterly orders status ' || o_orderstatus,
         date_trunc('quarter', CAST(o_orderdate AS DATE))
  FROM orders GROUP BY 1, 2, 3
),
bounds AS (
  SELECT MAX(date) AS end_date,
         MAX(date) - INTERVAL 12 MONTH AS start_date
  FROM series_store
)
SELECT s.series_code, s.series_name,
  CAST(COUNT(*) AS BIGINT) AS entry_count,
  (CASE WHEN COUNT(*) >= 200 THEN 'Daily'
        WHEN COUNT(*) >= 50 THEN 'Weekly'
        WHEN COUNT(*) >= 9 THEN 'Monthly'
        WHEN COUNT(*) >= 2 THEN 'Quarterly'
        WHEN COUNT(*) >= 1 THEN 'Annually'
        ELSE 'Limited Data' END) AS coverage_status
FROM series_store s, bounds d
WHERE s.date >= d.start_date AND s.date <= d.end_date
GROUP BY s.series_code, s.series_name
ORDER BY entry_count DESC, series_code
"""


@query("series_grain_coverage", oracle=_ORACLE)
def series_grain_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ship = F.to_date("l_shipdate")
    od = F.to_date("o_orderdate")

    def series(df, code, name, date_col):
        return df.select(
            code.alias("series_code"),
            name.alias("series_name"),
            date_col.alias("date"),
        ).distinct()

    store = (
        series(
            li,
            F.concat(F.lit("SHIP_"), F.col("l_returnflag")),
            F.concat(F.lit("Daily shipments flag "), F.col("l_returnflag")),
            ship,
        )
        .unionByName(
            series(
                li,
                F.concat(F.lit("SHIPWK_"), F.col("l_linestatus")),
                F.concat(
                    F.lit("Weekly shipments status "),
                    F.col("l_linestatus"),
                ),
                F.trunc(ship, "week"),
            )
        )
        .unionByName(
            series(
                orders,
                F.concat(F.lit("ORDM_"), F.col("o_orderpriority")),
                F.concat(
                    F.lit("Monthly orders priority "),
                    F.col("o_orderpriority"),
                ),
                F.trunc(od, "month"),
            )
        )
        .unionByName(
            series(
                orders,
                F.concat(F.lit("ORDQ_"), F.col("o_orderstatus")),
                F.concat(
                    F.lit("Quarterly orders status "),
                    F.col("o_orderstatus"),
                ),
                F.trunc(od, "quarter"),
            )
        )
    )
    # cached (r9): the distinct (series, date) store is tiny (a few
    # series x their observation dates) but is consumed by both the
    # bounds scalar and the trailing-window count — uncached each
    # re-ran all four fact-table branches. repartition(1): see
    # data_points.py for the rationale.
    store = store.repartition(1).cache()
    bounds = store.agg(
        F.max("date").alias("end_date"),
        F.add_months(F.max("date"), -12).alias("start_date"),
    )
    n = F.count("*")
    return (
        store.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("date") >= F.col("start_date"))
            & (F.col("date") <= F.col("end_date"))
        )
        .groupBy("series_code", "series_name")
        .agg(
            n.cast("long").alias("entry_count"),
            F.when(n >= 200, "Daily")
            .when(n >= 50, "Weekly")
            .when(n >= 9, "Monthly")
            .when(n >= 2, "Quarterly")
            .when(n >= 1, "Annually")
            .otherwise("Limited Data")
            .alias("coverage_status"),
        )
        .orderBy(F.col("entry_count").desc(), "series_code")
    )


# --------------------------------------------------------------------------
# Current data coverage / freshness report
# (semantic_layer/current_data_coverage.sql:1-203): a declarative
# source-spec seed (lookback window + warn/error freshness thresholds),
# a UNION of per-source (entity, date) observations, per-source latest
# date + trailing-window entity coverage vs the all-time entity
# universe, and the healthy/partial/lagging/coverage_gap/stale status
# ladder. Determinism: "today" is the union-wide MAX(observation_date)
# instead of CURRENT_DATE (:125, :186); generated_at is dropped.
# With events ending years after orders/lineitem, the market sources
# legitimately classify as 'stale' — the ladder's full range is
# exercised.
# --------------------------------------------------------------------------

SOURCE_SPECS = [
    # source_name, domain, grain, lookback_days, warn_days, error_days
    ("lineitem_raw", "markets", "daily_market_prices", 31, 5, 10),
    ("orders_raw", "markets", "daily_market_prices", 31, 5, 10),
    ("events_raw", "activity", "event_stream", 7, 2, 5),
]

_SPEC_SQL = ", ".join(
    f"('{s}', '{d}', '{g}', {lb}, {w}, {e})"
    for s, d, g, lb, w, e in SOURCE_SPECS
)

_COVERAGE_ORACLE = f"""
WITH specs(source_name, source_domain, grain, lookback_days,
           freshness_warn_days, freshness_error_days) AS
  (VALUES {_SPEC_SQL}),
observations AS (
  SELECT 'lineitem_raw' AS source_name,
         CAST(l_suppkey AS VARCHAR) AS entity_id,
         CAST(l_shipdate AS DATE) AS observation_date
  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
  UNION ALL
  SELECT 'orders_raw', CAST(o_custkey AS VARCHAR),
         CAST(o_orderdate AS DATE)
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  UNION ALL
  SELECT 'events_raw', CAST(user_id AS VARCHAR), CAST(ts AS DATE)
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
today AS (SELECT MAX(observation_date) AS today FROM observations),
expected AS (
  SELECT source_name,
         CAST(COUNT(DISTINCT entity_id) AS BIGINT)
           AS expected_entity_count
  FROM observations GROUP BY source_name
),
latest AS (
  SELECT source_name, MAX(observation_date) AS coverage_date
  FROM observations GROUP BY source_name
),
windowed AS (
  SELECT o.source_name, o.entity_id
  FROM observations o
  JOIN latest l ON o.source_name = l.source_name
  JOIN specs s ON o.source_name = s.source_name
  WHERE o.observation_date >= l.coverage_date - s.lookback_days
),
counts AS (
  SELECT source_name,
         CAST(COUNT(*) AS BIGINT) AS observed_row_count,
         CAST(COUNT(DISTINCT entity_id) AS BIGINT)
           AS observed_entity_count
  FROM windowed GROUP BY source_name
)
SELECT
  s.source_name || ':' || CAST(l.coverage_date AS VARCHAR) AS coverage_id,
  s.source_name, s.source_domain, s.grain,
  l.coverage_date,
  l.coverage_date - s.lookback_days AS coverage_window_start,
  CAST(s.lookback_days AS BIGINT) AS lookback_days,
  e.expected_entity_count,
  COALESCE(c.observed_entity_count, 0) AS observed_entity_count,
  e.expected_entity_count - COALESCE(c.observed_entity_count, 0)
    AS missing_entity_count,
  COALESCE(c.observed_row_count, 0) AS observed_row_count,
  (COALESCE(c.observed_entity_count, 0) * 1.0
   / NULLIF(e.expected_entity_count, 0)) AS coverage_pct,
  CAST(date_diff('day', l.coverage_date, t.today) AS BIGINT)
    AS freshness_lag_days,
  CAST(s.freshness_warn_days AS BIGINT) AS freshness_warn_days,
  CAST(s.freshness_error_days AS BIGINT) AS freshness_error_days,
  (CASE
     WHEN e.expected_entity_count = 0 THEN 'no_expected_entities'
     WHEN date_diff('day', l.coverage_date, t.today)
          > s.freshness_error_days THEN 'stale'
     WHEN (COALESCE(c.observed_entity_count, 0) * 1.0
           / NULLIF(e.expected_entity_count, 0)) < 0.80
       THEN 'coverage_gap'
     WHEN date_diff('day', l.coverage_date, t.today)
          > s.freshness_warn_days THEN 'lagging'
     WHEN (COALESCE(c.observed_entity_count, 0) * 1.0
           / NULLIF(e.expected_entity_count, 0)) < 0.98 THEN 'partial'
     ELSE 'healthy' END) AS coverage_status
FROM specs s
CROSS JOIN today t
LEFT JOIN latest l ON s.source_name = l.source_name
LEFT JOIN expected e ON s.source_name = e.source_name
LEFT JOIN counts c ON s.source_name = c.source_name
ORDER BY s.source_name
"""


@query("current_data_coverage", oracle=_COVERAGE_ORACLE)
def current_data_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")

    obs = (
        li.where(
            F.col("l_suppkey").isNotNull()
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.lit("lineitem_raw").alias("source_name"),
            F.col("l_suppkey").cast("string").alias("entity_id"),
            F.to_date("l_shipdate").alias("observation_date"),
        )
        .unionByName(
            orders.where(
                F.col("o_custkey").isNotNull()
                & F.col("o_orderdate").isNotNull()
            ).select(
                F.lit("orders_raw").alias("source_name"),
                F.col("o_custkey").cast("string").alias("entity_id"),
                F.to_date("o_orderdate").alias("observation_date"),
            )
        )
        .unionByName(
            events.where(
                F.col("user_id").isNotNull() & F.col("ts").isNotNull()
            ).select(
                F.lit("events_raw").alias("source_name"),
                F.col("user_id").cast("string").alias("entity_id"),
                F.to_date("ts").alias("observation_date"),
            )
        )
    )
    specs = spark.createDataFrame(
        SOURCE_SPECS,
        "source_name string, source_domain string, grain string,"
        " lookback_days long, freshness_warn_days long,"
        " freshness_error_days long",
    )
    # One pass computes BOTH per-source aggregates (entity census +
    # latest date), and the global 'today' derives from the tiny
    # per-source maxes instead of its own corpus pass — r9: the cold
    # plan ran the 3-fact union once per consumer (today, expected,
    # latest, windowed = 15 fact scans); now it's two passes total
    # (this one + the lookback-windowed counts, which need `latest`
    # first and are inherently a second pass). `obs` is corpus-sized,
    # so restructuring beats caching here.
    stats = (
        obs.groupBy("source_name")
        .agg(
            F.countDistinct("entity_id").cast("long").alias(
                "expected_entity_count"
            ),
            F.max("observation_date").alias("coverage_date"),
        )
        .repartition(1)
        .cache()
    )
    today = stats.agg(F.max("coverage_date").alias("today"))
    expected = stats.select("source_name", "expected_entity_count")
    latest = stats.select("source_name", "coverage_date")
    windowed = (
        obs.join(F.broadcast(latest), on="source_name")
        .join(F.broadcast(specs.select("source_name", "lookback_days")),
              on="source_name")
        .where(
            F.col("observation_date")
            >= F.date_sub(
                F.col("coverage_date"),
                F.col("lookback_days").cast("int"),
            )
        )
    )
    counts = windowed.groupBy("source_name").agg(
        F.count("*").cast("long").alias("observed_row_count"),
        F.countDistinct("entity_id").cast("long").alias(
            "observed_entity_count"
        ),
    )
    pct = (
        F.coalesce("observed_entity_count", F.lit(0))
        * 1.0
        / F.nullif(F.col("expected_entity_count"), F.lit(0))
    )
    lag_days = F.datediff(F.col("today"), F.col("coverage_date")).cast(
        "long"
    )
    return (
        specs.crossJoin(F.broadcast(today))
        .join(F.broadcast(latest), on="source_name", how="left")
        .join(F.broadcast(expected), on="source_name", how="left")
        .join(F.broadcast(counts), on="source_name", how="left")
        .select(
            F.concat(
                F.col("source_name"),
                F.lit(":"),
                F.col("coverage_date").cast("string"),
            ).alias("coverage_id"),
            "source_name",
            "source_domain",
            "grain",
            "coverage_date",
            F.date_sub(
                F.col("coverage_date"),
                F.col("lookback_days").cast("int"),
            ).alias("coverage_window_start"),
            "lookback_days",
            "expected_entity_count",
            F.coalesce("observed_entity_count", F.lit(0)).alias(
                "observed_entity_count"
            ),
            (
                F.col("expected_entity_count")
                - F.coalesce("observed_entity_count", F.lit(0))
            ).alias("missing_entity_count"),
            F.coalesce("observed_row_count", F.lit(0)).alias(
                "observed_row_count"
            ),
            pct.alias("coverage_pct"),
            lag_days.alias("freshness_lag_days"),
            "freshness_warn_days",
            "freshness_error_days",
            F.when(
                F.col("expected_entity_count") == 0,
                "no_expected_entities",
            )
            .when(lag_days > F.col("freshness_error_days"), "stale")
            .when(pct < 0.80, "coverage_gap")
            .when(lag_days > F.col("freshness_warn_days"), "lagging")
            .when(pct < 0.98, "partial")
            .otherwise("healthy")
            .alias("coverage_status"),
        )
        .orderBy("source_name")
    )
