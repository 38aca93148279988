"""Economic alerts: indicator inputs + breach/resolution event history.

Mirror of the reference's alerting subsystem:

- ``economic_alert_inputs``
  (dbt_project/models/signals/economic_alert_inputs.sql): five
  independently-transformed indicator series (YoY pct, level rounds,
  3-month delta, absolute MoM step, spread) aligned on a UNION-DISTINCT
  date spine via LEFT-JOIN fan-in — one sparse row per observation
  date; the alert engine reads the latest non-null per column.
- ``economic_alert_events``: the evaluator
  (macro_agents/defs/alerts/assets.py:131-210 + definitions.yaml) —
  declarative (alert_id, indicator, comparator, threshold, severity)
  definitions evaluated into breach events with resolution tracking.

Spark-first deviation: the reference evaluates only the LATEST value
per indicator on the driver and keeps open-event state in a side table
(assets.py:55-129). Set-based formulation instead: derive the FULL
breach-episode history in one pass — gaps-and-islands over the breach
flag per alert (episode id = cumulative count of breach starts),
episodes aggregated to (breached_at, last_breach_date, resolved_at,
peak/trough, n_observations) with resolution = first non-breached
observation after the episode. The latest open episode is exactly the
reference's open-event row; the history is what its side table
accumulates over many runs. CURRENT_DATE trailing filters are dropped
for oracle determinism.

Series mapping (monthly, from orders/lineitem; thresholds sit inside
each series' observed range so both breaches and resolutions occur):
cpi = avg order price YoY; spread = flag-A minus flag-N mean discount
x 100; unrate = share of 5-LOW priority orders; fedfunds = share of
1-URGENT; hy_oas = mean tax x 100.

Scale: each series is one distributed hash-agg; the spine join is
per-month (broadcast); the episode machinery is windows over per-month
rows per alert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..registry import query

DEC = "decimal(28,6)"

# alert_id, indicator, comparator, threshold, severity
ALERTS = [
    ("cpi_yoy_above_1pct", "cpi_yoy_pct", "gt", 1.0, "warning"),
    ("spread_inversion", "t10y2y_spread", "lt", 0.0, "critical"),
    ("unrate_3mo_rise", "unrate_change_3mo", "gte", 0.2, "warning"),
    ("fedfunds_step_change", "fedfunds_change_1mo", "gte", 0.1, "info"),
    ("hy_oas_stress", "hy_oas_pct", "gt", 4.05, "critical"),
]

_CMP_SQL = {"gt": ">", "lt": "<", "gte": ">=", "lte": "<="}


def _inputs_sql() -> str:
    return """
monthly_orders AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS date,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      AS avg_price,
    (SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) * 100.0
     / COUNT(*)) AS unrate_level,
    (SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 100.0
     / COUNT(*)) AS fedfunds_level
  FROM orders GROUP BY 1
),
monthly_li AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS date,
    ((CAST(SUM(CASE WHEN l_returnflag = 'A'
            THEN CAST(l_discount AS DECIMAL(28,6)) END) AS DOUBLE)
      / COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END))
     - (CAST(SUM(CASE WHEN l_returnflag = 'N'
            THEN CAST(l_discount AS DECIMAL(28,6)) END) AS DOUBLE)
        / COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END))) * 100
      AS spread_raw,
    (CAST(SUM(CAST(l_tax AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)) * 100
      AS hy_oas_raw
  FROM lineitem GROUP BY 1
),
cpi_yoy AS (
  SELECT date,
    (ROUND((avg_price / NULLIF(LAG(avg_price, 12) OVER (ORDER BY date), 0)
           - 1) * 100, 2) + 0.0) AS cpi_yoy_pct
  FROM monthly_orders
  QUALIFY LAG(avg_price, 12) OVER (ORDER BY date) IS NOT NULL
),
t10y2y AS (
  SELECT date, (ROUND(spread_raw, 3) + 0.0) AS t10y2y_spread
  FROM monthly_li WHERE spread_raw IS NOT NULL
),
unrate_delta AS (
  SELECT date,
    (ROUND(unrate_level - LAG(unrate_level, 3) OVER (ORDER BY date), 2)
      + 0.0) AS unrate_change_3mo
  FROM monthly_orders
  QUALIFY LAG(unrate_level, 3) OVER (ORDER BY date) IS NOT NULL
),
fedfunds_delta AS (
  SELECT date,
    (ROUND(ABS(fedfunds_level - LAG(fedfunds_level) OVER (ORDER BY date)),
          3) + 0.0) AS fedfunds_change_1mo
  FROM monthly_orders
  QUALIFY LAG(fedfunds_level) OVER (ORDER BY date) IS NOT NULL
),
hy_oas AS (
  SELECT date, (ROUND(hy_oas_raw, 3) + 0.0) AS hy_oas_pct FROM monthly_li
),
all_dates AS (
  SELECT date FROM cpi_yoy
  UNION SELECT date FROM t10y2y
  UNION SELECT date FROM unrate_delta
  UNION SELECT date FROM fedfunds_delta
  UNION SELECT date FROM hy_oas
),
alert_inputs AS (
  SELECT d.date, c.cpi_yoy_pct, t.t10y2y_spread, u.unrate_change_3mo,
         f.fedfunds_change_1mo, h.hy_oas_pct
  FROM all_dates d
  LEFT JOIN cpi_yoy c ON d.date = c.date
  LEFT JOIN t10y2y t ON d.date = t.date
  LEFT JOIN unrate_delta u ON d.date = u.date
  LEFT JOIN fedfunds_delta f ON d.date = f.date
  LEFT JOIN hy_oas h ON d.date = h.date
)"""


_INPUTS_ORACLE = f"""
WITH {_inputs_sql()}
SELECT * FROM alert_inputs ORDER BY date
"""


def _inputs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    # cached (r9): mo/ml are month-dimension-sized aggregates (~one
    # row per month at ANY corpus scale) consumed by every indicator
    # branch AND the union-distinct date spine — uncached, the fan-in
    # plan re-runs the orders/lineitem hash-aggs once per consumer (36
    # orders + 24 lineitem scans measured cold; plan-gated to one fact
    # scan each in tests/test_plans.py). One scan per fact materializes
    # them; the spine + indicator windows move only monthly rows.
    # repartition(1), not coalesce(1): coalesce would fuse into the
    # aggregate's reduce stage and single-task the partial merge at
    # scale; repartition moves only the ~84 aggregated rows.
    mo = orders.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("date")
    ).agg(
        (
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
            / F.count("*")
        ).alias("avg_price"),
        (
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            )
            * 100.0
            / F.count("*")
        ).alias("unrate_level"),
        (
            F.sum(
                F.when(
                    F.col("o_orderpriority") == "1-URGENT", 1
                ).otherwise(0)
            )
            * 100.0
            / F.count("*")
        ).alias("fedfunds_level"),
    )
    mo = mo.repartition(1).cache()

    def _davg_flag(flag: str):
        return F.sum(
            F.when(
                F.col("l_returnflag") == flag,
                F.col("l_discount").cast(DEC),
            )
        ).cast("double") / F.count(
            F.when(F.col("l_returnflag") == flag, F.lit(1))
        )

    ml = li.groupBy(
        F.trunc(F.to_date("l_shipdate"), "month").alias("date")
    ).agg(
        ((_davg_flag("A") - _davg_flag("N")) * 100).alias("spread_raw"),
        (
            F.sum(F.col("l_tax").cast(DEC)).cast("double")
            / F.count("*")
            * 100
        ).alias("hy_oas_raw"),
    )
    ml = ml.repartition(1).cache()

    wd = ta.series_window("date")
    cpi = (
        mo.select(
            "date",
            (
                F.round(
                    (
                        F.col("avg_price")
                        / F.nullif(
                            F.lag("avg_price", 12).over(wd), F.lit(0)
                        )
                        - 1
                    )
                    * 100,
                    2,
                )
                + F.lit(0.0)
            ).alias("cpi_yoy_pct"),
            F.lag("avg_price", 12).over(wd).alias("_prev"),
        )
        .where(F.col("_prev").isNotNull())
        .drop("_prev")
    )
    spread = ml.where(F.col("spread_raw").isNotNull()).select(
        "date",
        (F.round("spread_raw", 3) + F.lit(0.0)).alias("t10y2y_spread"),
    )
    unrate = (
        mo.select(
            "date",
            (
                F.round(
                    F.col("unrate_level")
                    - F.lag("unrate_level", 3).over(wd),
                    2,
                )
                + F.lit(0.0)
            ).alias("unrate_change_3mo"),
            F.lag("unrate_level", 3).over(wd).alias("_prev"),
        )
        .where(F.col("_prev").isNotNull())
        .drop("_prev")
    )
    fedfunds = (
        mo.select(
            "date",
            (
                F.round(
                    F.abs(
                        F.col("fedfunds_level")
                        - F.lag("fedfunds_level").over(wd)
                    ),
                    3,
                )
                + F.lit(0.0)
            ).alias("fedfunds_change_1mo"),
            F.lag("fedfunds_level").over(wd).alias("_prev"),
        )
        .where(F.col("_prev").isNotNull())
        .drop("_prev")
    )
    hy = ml.select(
        "date", (F.round("hy_oas_raw", 3) + F.lit(0.0)).alias("hy_oas_pct")
    )

    parts = [cpi, spread, unrate, fedfunds, hy]
    spine = parts[0].select("date")
    for p in parts[1:]:
        spine = spine.union(p.select("date"))
    spine = spine.distinct()
    out = spine
    for p in parts:
        out = out.join(F.broadcast(p), on="date", how="left")
    return out


@query("economic_alert_inputs", oracle=_INPUTS_ORACLE)
def economic_alert_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _inputs_df(spark, sf_dir).orderBy("date")


# ------------------------------------------------------------- events

def _events_oracle() -> str:
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT '{aid}' AS alert_id, '{sev}' AS severity, date,
    {ind} AS value,
    COALESCE({ind} {_CMP_SQL[cmp]} {thr!r}, FALSE) AS breached
  FROM alert_inputs WHERE {ind} IS NOT NULL"""
        for aid, ind, cmp, thr, sev in ALERTS
    )
    return f"""
WITH {_inputs_sql()},
flagged AS (
{branches}
),
numbered AS (
  SELECT *,
    (CASE WHEN breached
           AND NOT COALESCE(LAG(breached) OVER wa, FALSE) THEN 1
          ELSE 0 END) AS is_start
  FROM flagged
  WINDOW wa AS (PARTITION BY alert_id ORDER BY date)
),
episodes AS (
  SELECT *,
    CAST(SUM(is_start) OVER (PARTITION BY alert_id ORDER BY date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS episode_id
  FROM numbered
),
grouped AS (
  SELECT alert_id, severity, episode_id,
    MIN(date) AS breached_at,
    MAX(date) AS last_breach_date,
    CAST(COUNT(*) AS BIGINT) AS n_observations,
    MAX(value) AS peak_value,
    MIN(value) AS trough_value
  FROM episodes
  WHERE breached AND episode_id > 0
  GROUP BY alert_id, severity, episode_id
)
SELECT g.alert_id, g.severity, g.episode_id, g.breached_at,
  g.last_breach_date, g.n_observations, g.peak_value, g.trough_value,
  (SELECT MIN(e.date) FROM episodes e
   WHERE e.alert_id = g.alert_id AND e.date > g.last_breach_date
     AND NOT e.breached) AS resolved_at,
  ((SELECT MIN(e.date) FROM episodes e
    WHERE e.alert_id = g.alert_id AND e.date > g.last_breach_date
      AND NOT e.breached) IS NULL) AS is_open
FROM grouped g
ORDER BY alert_id, episode_id
"""


@query("economic_alert_events", oracle=_events_oracle())
def economic_alert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    inputs = _inputs_df(spark, sf_dir)
    cmp_ops = {
        "gt": lambda c, t: c > t,
        "lt": lambda c, t: c < t,
        "gte": lambda c, t: c >= t,
        "lte": lambda c, t: c <= t,
    }
    branches = []
    for aid, ind, cmp, thr, sev in ALERTS:
        branches.append(
            inputs.where(F.col(ind).isNotNull()).select(
                F.lit(aid).alias("alert_id"),
                F.lit(sev).alias("severity"),
                "date",
                F.col(ind).alias("value"),
                F.coalesce(
                    cmp_ops[cmp](F.col(ind), F.lit(thr)), F.lit(False)
                ).alias("breached"),
            )
        )
    flagged = branches[0]
    for b in branches[1:]:
        flagged = flagged.unionByName(b)

    wa = Window.partitionBy("alert_id").orderBy("date")
    wcum = wa.rowsBetween(Window.unboundedPreceding, 0)
    episodes = flagged.select(
        "*",
        F.sum(
            F.when(
                F.col("breached")
                & ~F.coalesce(F.lag("breached").over(wa), F.lit(False)),
                1,
            ).otherwise(0)
        )
        .over(wcum)
        .cast("long")
        .alias("episode_id"),
    )
    grouped = (
        episodes.where(F.col("breached") & (F.col("episode_id") > 0))
        .groupBy("alert_id", "severity", "episode_id")
        .agg(
            F.min("date").alias("breached_at"),
            F.max("date").alias("last_breach_date"),
            F.count("*").cast("long").alias("n_observations"),
            F.max("value").alias("peak_value"),
            F.min("value").alias("trough_value"),
        )
    )
    non_breach = episodes.where(~F.col("breached")).select(
        F.col("alert_id").alias("nb_alert"),
        F.col("date").alias("nb_date"),
    )
    resolved = (
        grouped.join(
            F.broadcast(non_breach),
            (F.col("alert_id") == F.col("nb_alert"))
            & (F.col("nb_date") > F.col("last_breach_date")),
            "left",
        )
        .groupBy(
            "alert_id",
            "severity",
            "episode_id",
            "breached_at",
            "last_breach_date",
            "n_observations",
            "peak_value",
            "trough_value",
        )
        .agg(F.min("nb_date").alias("resolved_at"))
    )
    return resolved.select(
        "*", F.col("resolved_at").isNull().alias("is_open")
    ).orderBy("alert_id", "episode_id")
