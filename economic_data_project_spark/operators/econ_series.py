"""Economic-series preprocessing models: latest-month trailing aggregates
and month-spine gap interpolation.

Mirrors two reference models over ``stg_fred_series``:

- ``series_latest_aggregates`` =
  ``dbt_project/models/government/fred_series_latest_aggregates.sql`` —
  trailing-12-month grain inference (count ladder :20-37), monthly AVG
  resample (:41-58), LAG(3/6/12) percent changes (:60-107) and the
  latest-month inner join (:109-134), then the agents_preprocess
  projection/filter
  (``agents_preprocess/agent_fred_series_latest_aggregates.sql:8-18``).
  The reference's pct_change_6m/1y numerators use ``clean_value -
  value_3m_ago`` (not the matching horizon) — a reference quirk
  reproduced verbatim for parity (:99-106).
- ``series_monthly_interpolation`` =
  ``dbt_project/models/government/fred_quarterly_roc.sql`` — per-series
  month spine from the global date range (:44-63), single-gap neighbor
  interpolation ``(prev+next)/2`` with an Actual/Interpolated/No Data
  provenance ladder (:80-113), and period-over-period percent change
  (:115-133).

Synthetic mapping (stg_fred_series → TPC-H star): the mixed-grain series
store derives daily series per returnflag (integer quantity sums), weekly
per linestatus (2dp price sums), monthly per order priority and quarterly
per order status (2dp totalprice sums) — every stored value is an exact
decimal so downstream decimal-window arithmetic is lossless. The sparse
store for interpolation keeps only orders with ``o_totalprice > 480000``
(~2 obs per series-month at sf0.01, ~25% empty months) so the
gap/interpolation branches genuinely execute.

Determinism policy (memory: spark-duckdb-determinism): ``clean_value``
keeps the reference's ROUND(...,4) — safe because every monthly count
divides 10^5 with a residual factor of 10 (ties are impossible for n in
28..31/4/5/1). The interpolation model emits values UNROUNDED (the
reference's display ROUND(...,2) ties on rational monthly means, e.g.
odd-sum/8; identical IEEE ops are bit-exact cross-engine), as do all
percent changes.

Scale: each store branch is one partial-agg'd hash aggregate pushed at
the scan; the grain table is tiny (one row per series) and broadcast; the
month spine is a broadcast ~100-row range; per-series windows partition
on series_code (no global windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query

DEC = "decimal(28,6)"
SPARSE_MIN_TOTALPRICE = 480000


def _dec_sum(col: str):
    return F.sum(F.col(col).cast(DEC)).cast("double")


def series_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valued mixed-grain series store (the stg_fred_series stand-in).

    Four grains so the count ladder lands on Daily/Weekly/Monthly/
    Quarterly; values are exact decimals (integer or 2dp sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def branch(df, code_prefix, name_prefix, key, date_col, value_col):
        return (
            df.groupBy(
                F.col(key).alias("k"), date_col.alias("date")
            )
            .agg(_dec_sum(value_col).alias("value"))
            .select(
                F.concat(F.lit(code_prefix), F.col("k")).alias(
                    "series_code"
                ),
                F.concat(F.lit(name_prefix), F.col("k")).alias(
                    "series_name"
                ),
                "date",
                "value",
            )
        )

    ship = F.to_date("l_shipdate")
    od = F.to_date("o_orderdate")
    return (
        branch(
            li,
            "SHIP_",
            "Daily shipments flag ",
            "l_returnflag",
            ship,
            "l_quantity",
        )
        .unionByName(
            branch(
                li,
                "SHIPWK_",
                "Weekly shipments status ",
                "l_linestatus",
                F.trunc(ship, "week"),
                "l_extendedprice",
            )
        )
        .unionByName(
            branch(
                orders,
                "ORDM_",
                "Monthly orders priority ",
                "o_orderpriority",
                F.trunc(od, "month"),
                "o_totalprice",
            )
        )
        .unionByName(
            branch(
                orders,
                "ORDQ_",
                "Quarterly orders status ",
                "o_orderstatus",
                F.trunc(od, "quarter"),
                "o_totalprice",
            )
        )
    )


_STORE_SQL = """
  SELECT 'SHIP_' || l_returnflag AS series_code,
         'Daily shipments flag ' || l_returnflag AS series_name,
         CAST(l_shipdate AS DATE) AS date,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS value
  FROM lineitem GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'SHIPWK_' || l_linestatus,
         'Weekly shipments status ' || l_linestatus,
         date_trunc('week', CAST(l_shipdate AS DATE)),
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
  FROM lineitem GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'ORDM_' || o_orderpriority,
         'Monthly orders priority ' || o_orderpriority,
         date_trunc('month', CAST(o_orderdate AS DATE)),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
  FROM orders GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'ORDQ_' || o_orderstatus,
         'Quarterly orders status ' || o_orderstatus,
         date_trunc('quarter', CAST(o_orderdate AS DATE)),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
  FROM orders GROUP BY 1, 2, 3
"""

_LATEST_ORACLE = f"""
WITH series_store AS ({_STORE_SQL}),
bounds AS (
  SELECT MAX(date) AS end_date, MAX(date) - INTERVAL 12 MONTH AS start_date
  FROM series_store
),
series_grain AS (
  SELECT s.series_code,
    (CASE WHEN COUNT(*) >= 200 THEN 'Daily'
          WHEN COUNT(*) >= 50 THEN 'Weekly'
          WHEN COUNT(*) >= 9 THEN 'Monthly'
          WHEN COUNT(*) >= 2 THEN 'Quarterly'
          WHEN COUNT(*) >= 1 THEN 'Annually'
          ELSE 'Limited Data' END) AS date_grain
  FROM series_store s, bounds d
  WHERE s.date >= d.start_date AND s.date <= d.end_date
  GROUP BY s.series_code
),
aggregates AS (
  SELECT st.series_code, st.series_name, g.date_grain,
         date_trunc('month', st.date) AS month,
         ROUND(
           CAST(SUM(CAST(st.value AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 4) AS clean_value
  FROM series_store st
  LEFT JOIN series_grain g ON st.series_code = g.series_code
  WHERE g.date_grain IN ('Daily', 'Monthly', 'Quarterly', 'Weekly')
  GROUP BY 1, 2, 3, 4
),
date_ranges AS (
  SELECT *,
    LAG(clean_value, 3) OVER w AS value_3m_ago,
    LAG(clean_value, 6) OVER w AS value_6m_ago,
    LAG(clean_value, 12) OVER w AS value_1y_ago
  FROM aggregates
  WINDOW w AS (PARTITION BY series_code ORDER BY month)
),
calc_view AS (
  SELECT series_code, series_name, date_grain, month,
    clean_value AS current_value,
    (CASE WHEN value_3m_ago IS NULL OR value_3m_ago = 0 THEN NULL
          ELSE (clean_value - value_3m_ago) / value_3m_ago
     END) AS pct_change_3m,
    (CASE WHEN value_6m_ago IS NULL OR value_6m_ago = 0 THEN NULL
          ELSE (clean_value - value_3m_ago) / value_6m_ago
     END) AS pct_change_6m,
    (CASE WHEN value_1y_ago IS NULL OR value_1y_ago = 0 THEN NULL
          ELSE (clean_value - value_3m_ago) / value_1y_ago
     END) AS pct_change_1y
  FROM date_ranges
),
max_date_view AS (
  SELECT series_code, MAX(month) AS month FROM calc_view GROUP BY 1
)
SELECT c.series_code, c.series_name, CAST(c.month AS DATE) AS month,
       c.current_value, c.pct_change_3m, c.pct_change_6m, c.pct_change_1y,
       c.date_grain
FROM calc_view c
JOIN max_date_view m
  ON c.series_code = m.series_code AND c.month = m.month
WHERE c.current_value IS NOT NULL
ORDER BY c.series_code
"""


@query("series_latest_aggregates", oracle=_LATEST_ORACLE)
def series_latest_aggregates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # cached (r9): the store is (series x date) sized — a handful of
    # flag/status/priority series per grain — but it feeds the bounds
    # scalar, the grain ladder, the monthly rollup and the current
    # cross-section; uncached each consumer re-ran all four fact
    # aggregates (12 lineitem + 12 orders scans cold; plan-gated).
    # repartition(1), not coalesce(1): keep the agg reduces parallel
    # and move only the aggregated rows.
    store = series_store(spark, sf_dir).repartition(1).cache()

    bounds = store.agg(
        F.max("date").alias("end_date"),
        F.add_months(F.max("date"), -12).alias("start_date"),
    )
    grain = (
        store.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("date") >= F.col("start_date"))
            & (F.col("date") <= F.col("end_date"))
        )
        .groupBy("series_code")
        .agg(F.count("*").alias("entry_count"))
        .select(
            "series_code",
            F.when(F.col("entry_count") >= 200, "Daily")
            .when(F.col("entry_count") >= 50, "Weekly")
            .when(F.col("entry_count") >= 9, "Monthly")
            .when(F.col("entry_count") >= 2, "Quarterly")
            .when(F.col("entry_count") >= 1, "Annually")
            .otherwise("Limited Data")
            .alias("date_grain"),
        )
    )

    monthly = (
        store.join(F.broadcast(grain), "series_code")
        .where(
            F.col("date_grain").isin(
                "Daily", "Monthly", "Quarterly", "Weekly"
            )
        )
        .groupBy(
            "series_code",
            "series_name",
            "date_grain",
            F.trunc("date", "month").alias("month"),
        )
        .agg(
            F.round(
                _dec_sum("value") / F.count("*"), 4
            ).alias("clean_value")
        )
    )

    w = Window.partitionBy("series_code").orderBy("month")
    lagged = monthly.select(
        "*",
        F.lag("clean_value", 3).over(w).alias("value_3m_ago"),
        F.lag("clean_value", 6).over(w).alias("value_6m_ago"),
        F.lag("clean_value", 12).over(w).alias("value_1y_ago"),
    )

    def pct(num_base: str, denom: str):
        d = F.col(denom)
        return F.when(
            d.isNull() | (d == 0), F.lit(None)
        ).otherwise((F.col("clean_value") - F.col(num_base)) / d)

    calc = lagged.select(
        "series_code",
        "series_name",
        "date_grain",
        "month",
        F.col("clean_value").alias("current_value"),
        # Reference quirk: 6m/1y numerators reuse the 3m delta
        # (fred_series_latest_aggregates.sql:99-106).
        pct("value_3m_ago", "value_3m_ago").alias("pct_change_3m"),
        pct("value_3m_ago", "value_6m_ago").alias("pct_change_6m"),
        pct("value_3m_ago", "value_1y_ago").alias("pct_change_1y"),
    )

    latest = calc.groupBy("series_code").agg(
        F.max("month").alias("month")
    )
    return (
        calc.join(F.broadcast(latest), ["series_code", "month"])
        .where(F.col("current_value").isNotNull())
        .select(
            "series_code",
            "series_name",
            "month",
            "current_value",
            "pct_change_3m",
            "pct_change_6m",
            "pct_change_1y",
            "date_grain",
        )
        .orderBy("series_code")
    )


_INTERP_ORACLE = f"""
WITH sparse AS (
  SELECT 'HIVAL_' || o_orderpriority AS series_code,
         'High-value orders priority ' || o_orderpriority AS series_name,
         EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS year_val,
         EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS month_val,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS month_date,
         o_totalprice AS literal
  FROM orders
  WHERE o_totalprice > {SPARSE_MIN_TOTALPRICE}
),
quarterly_data AS (
  SELECT series_code, series_name,
         CONCAT(year_val, '-', month_val) AS year_month,
         month_date,
         CAST(SUM(CAST(literal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS avg_value
  FROM sparse
  GROUP BY year_val, month_val, month_date, series_code, series_name
),
date_bounds AS (
  SELECT series_code, series_name,
         MIN(month_date) AS min_date, MAX(month_date) AS max_date
  FROM quarterly_data GROUP BY series_code, series_name
),
all_months AS (
  SELECT db.series_code, db.series_name,
         m.month_date,
         CONCAT(EXTRACT(YEAR FROM m.month_date), '-',
                EXTRACT(MONTH FROM m.month_date)) AS year_month
  FROM date_bounds db
  CROSS JOIN (
    SELECT CAST(UNNEST(generate_series(
        (SELECT MIN(min_date) FROM date_bounds),
        (SELECT MAX(max_date) FROM date_bounds),
        INTERVAL 1 MONTH)) AS DATE) AS month_date
  ) m
  WHERE m.month_date >= db.min_date AND m.month_date <= db.max_date
),
data_with_gaps AS (
  SELECT am.series_code, am.series_name, am.year_month, am.month_date,
         qd.avg_value AS actual_value
  FROM all_months am
  LEFT JOIN quarterly_data qd
    ON am.series_code = qd.series_code
   AND am.year_month = qd.year_month
),
with_neighbors AS (
  SELECT *,
    LAG(actual_value) OVER (
      PARTITION BY series_code ORDER BY month_date) AS prev_actual,
    LEAD(actual_value) OVER (
      PARTITION BY series_code ORDER BY month_date) AS next_actual
  FROM data_with_gaps
),
interpolated AS (
  SELECT series_code, series_name, year_month, month_date,
    (CASE
       WHEN actual_value IS NOT NULL THEN actual_value
       WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL
         THEN (prev_actual + next_actual) / 2.0
     END) AS avg_value,
    (CASE
       WHEN actual_value IS NOT NULL THEN 'Actual'
       WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL
         THEN 'Interpolated'
       ELSE 'No Data'
     END) AS data_source
  FROM with_neighbors
)
SELECT year_month, series_code, series_name, data_source, month_date,
  avg_value,
  (CASE WHEN LAG(avg_value) OVER w IS NULL
          OR LAG(avg_value) OVER w = 0 THEN NULL
        ELSE (avg_value - LAG(avg_value) OVER w)
             / LAG(avg_value) OVER w * 100
   END) AS pct_change_period
FROM interpolated
WHERE avg_value IS NOT NULL
WINDOW w AS (PARTITION BY series_code ORDER BY month_date)
ORDER BY series_code, month_date
"""


@query("series_monthly_interpolation", oracle=_INTERP_ORACLE)
def series_monthly_interpolation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    sparse = orders.where(
        F.col("o_totalprice") > SPARSE_MIN_TOTALPRICE
    ).select(
        F.concat(F.lit("HIVAL_"), F.col("o_orderpriority")).alias(
            "series_code"
        ),
        F.concat(
            F.lit("High-value orders priority "),
            F.col("o_orderpriority"),
        ).alias("series_name"),
        F.year(od).alias("year_val"),
        F.month(od).alias("month_val"),
        F.trunc(od, "month").alias("month_date"),
        F.col("o_totalprice").alias("literal"),
    )

    monthly = sparse.groupBy(
        "series_code",
        "series_name",
        F.concat(
            F.col("year_val").cast("string"),
            F.lit("-"),
            F.col("month_val").cast("string"),
        ).alias("year_month"),
        "month_date",
    ).agg(
        (_dec_sum("literal") / F.count("*")).alias("avg_value")
    )
    # cached (r9): (series x month) sized, read by the per-series date
    # bounds AND the spine gap join — 3 fact scans cold otherwise.
    # repartition(1): see data_points.py.
    monthly = monthly.repartition(1).cache()
    db = monthly.groupBy("series_code", "series_name").agg(
        F.min("month_date").alias("min_date"),
        F.max("month_date").alias("max_date"),
    )
    spine = (
        db.agg(
            F.min("min_date").alias("lo"), F.max("max_date").alias("hi")
        )
        .select(
            F.explode(
                F.sequence(
                    "lo", "hi", F.expr("INTERVAL 1 MONTH")
                )
            ).alias("month_date")
        )
    )
    all_months = (
        db.crossJoin(F.broadcast(spine))
        .where(
            (F.col("month_date") >= F.col("min_date"))
            & (F.col("month_date") <= F.col("max_date"))
        )
        .select(
            "series_code",
            "series_name",
            "month_date",
            F.concat(
                F.year("month_date").cast("string"),
                F.lit("-"),
                F.month("month_date").cast("string"),
            ).alias("year_month"),
        )
    )

    gaps = all_months.join(
        monthly.select("series_code", "year_month", "avg_value"),
        ["series_code", "year_month"],
        "left",
    ).withColumnRenamed("avg_value", "actual_value")

    wn = Window.partitionBy("series_code").orderBy("month_date")
    nb = gaps.select(
        "*",
        F.lag("actual_value").over(wn).alias("prev_actual"),
        F.lead("actual_value").over(wn).alias("next_actual"),
    )
    both = F.col("prev_actual").isNotNull() & F.col(
        "next_actual"
    ).isNotNull()
    interp = nb.select(
        "series_code",
        "series_name",
        "year_month",
        "month_date",
        F.when(F.col("actual_value").isNotNull(), F.col("actual_value"))
        .when(
            both,
            (F.col("prev_actual") + F.col("next_actual")) / 2.0,
        )
        .alias("avg_value"),
        F.when(F.col("actual_value").isNotNull(), "Actual")
        .when(both, "Interpolated")
        .otherwise("No Data")
        .alias("data_source"),
    )

    # SQL evaluates the final WHERE before its window functions, so the
    # period lag skips the filtered No-Data rows: filter THEN lag.
    prev = F.lag("avg_value").over(wn)
    return (
        interp.where(F.col("avg_value").isNotNull())
        .select(
            "year_month",
            "series_code",
            "series_name",
            "data_source",
            "month_date",
            "avg_value",
            F.when(
                prev.isNull() | (prev == 0), F.lit(None)
            )
            .otherwise((F.col("avg_value") - prev) / prev * 100)
            .alias("pct_change_period"),
        )
        .orderBy("series_code", "month_date")
    )
