"""Six-family FULL OUTER signal spine through the DAG executor.

Re-expresses the reference's signals-layer spine pattern — independent
per-family models full-outer joined on the date key with coalesced
months, then composite scoring (23 FULL OUTER uses across
dbt_project/models/signals/*.sql, e.g. financial_conditions_signals.sql
nfci/anfci/stl_fsi/kc_fsi joins; housing_signals.sql; inflation_signals.sql).

Families are monthly aggregates over three distinct fact tables
(lineitem, orders, events) — one ModelGraph model per SOURCE (r16:
families sharing a source share its scan and group-by exchange, guide
§2.4), so the spine remains a genuine multi-source composition:

1. ship_revenue      — lineitem revenue (exact decimal sum)
2. order_flow        — order count
3. customer_breadth  — distinct ordering customers
4. discount_pressure — mean discount rate (exact decimal mean)
5. supplier_breadth  — distinct shipping suppliers
6. event_activity    — event count

Composite scoring normalizes each family to its historical [0,1] range
using min-max bounds computed ONCE by a scalar aggregate and broadcast
(cross join of a 1-row frame) — deterministic cross-engine (MIN/MAX are
order-insensitive), and no unpartitioned window ever touches the spine.
The composite is the mean of the reporting families' normalized values
with a fixed summation order, so the double expression tree is identical
in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.parity import dsum, sql_dsum
from ..registry import query
from .dag import ModelGraph

GRAPH = ModelGraph()

_FAMS = (
    "ship_revenue",
    "order_flow",
    "customer_breadth",
    "discount_pressure",
    "supplier_breadth",
    "event_activity",
)


# r16 (guide §2.4, one exchange per grouping key): the six families
# are grouped BY SOURCE TABLE into three monthly aggregates — the
# lineitem families (ship_revenue, discount_pressure, supplier_breadth)
# share one scan+exchange, the orders families (order_flow,
# customer_breadth) another, events its own. Within a source every
# family has the SAME month set (same rows, same groupBy), so the
# 3-frame full-outer spine is row- and null-pattern-identical to the
# old 6-frame chain (the oracle still declares the 6-CTE chain and
# adjudicates equality). Before: 6 fact scans + 5 full-outer joins per
# spine build; after: 3 + 2. Bench-neutral (9-rep A/B/A: fused+spread
# 2.01s vs six-model 1.95s — inside this box's noise band; the fused
# lineitem agg needs the spread because its mixed distinct/decimal
# Expand doubles the single scan task's work — 2.24s without it),
# adopted for the scale shape: at 100 TB three whole fact-table passes
# disappear (lineitem read once instead of three times, orders once
# instead of twice).


@GRAPH.model("fam_lineitem")
def fam_lineitem(spark: SparkSession) -> DataFrame:
    li = spread_scan(
        spark.table("__src_lineitem"), "l_extendedprice", "l_shipdate"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy(
        F.trunc(F.to_date("l_shipdate"), "month").alias("month")
    ).agg(
        (dsum(rev) / F.lit(1e6)).alias("ship_revenue"),
        (dsum("l_discount") / F.count("l_discount")).alias(
            "discount_pressure"
        ),
        F.countDistinct("l_suppkey")
        .cast("double")
        .alias("supplier_breadth"),
    )


@GRAPH.model("fam_orders")
def fam_orders(spark: SparkSession) -> DataFrame:
    o = spark.table("__src_orders")
    return o.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("month")
    ).agg(
        F.count("*").cast("double").alias("order_flow"),
        F.countDistinct("o_custkey")
        .cast("double")
        .alias("customer_breadth"),
    )


@GRAPH.model("fam_events")
def fam_events(spark: SparkSession) -> DataFrame:
    e = spark.table("__src_events")
    return e.groupBy(
        F.trunc(F.to_date("ts"), "month").alias("month")
    ).agg(F.count("*").cast("double").alias("event_activity"))


@GRAPH.model(
    "families_spine",
    deps=("fam_lineitem", "fam_orders", "fam_events"),
)
def families_spine(spark: SparkSession) -> DataFrame:
    frames = [
        spark.table("fam_lineitem"),
        spark.table("fam_orders"),
        spark.table("fam_events"),
    ]

    def outer(acc: DataFrame, nxt: DataFrame) -> DataFrame:
        a, b = acc.alias("a"), nxt.alias("b")
        keep = [c for c in acc.columns if c != "month"]
        return a.join(
            b, F.col("a.month") == F.col("b.month"), "full_outer"
        ).select(
            F.coalesce(F.col("a.month"), F.col("b.month")).alias("month"),
            *[F.col(f"a.{c}") for c in keep],
            *[F.col(f"b.{c}") for c in nxt.columns if c != "month"],
        )

    # cached (r9): the spine (~one row per month, eight columns) is
    # consumed TWICE — the min/max bounds scalar and the normalized
    # projection — and uncached both consumers re-run all six family
    # aggregates (every fact table scanned twice; plan-gated in
    # tests/test_plans.py). repartition(1) keeps the family agg
    # reduces parallel and moves only monthly rows.
    spine = reduce(outer, frames).repartition(1).cache()
    bounds = spine.agg(
        *[F.min(f).alias(f"min_{f}") for f in _FAMS],
        *[F.max(f).alias(f"max_{f}") for f in _FAMS],
    )
    sb = spine.crossJoin(F.broadcast(bounds))
    norm = {
        f: (F.col(f) - F.col(f"min_{f}"))
        / F.nullif(F.col(f"max_{f}") - F.col(f"min_{f}"), F.lit(0))
        for f in _FAMS
    }
    present = [
        F.when(F.col(f).isNotNull(), 1).otherwise(0) for f in _FAMS
    ]
    n_reporting = reduce(lambda x, y: x + y, present)
    num = reduce(
        lambda x, y: x + y,
        [F.coalesce(norm[f], F.lit(0.0)) for f in _FAMS],
    )
    composite = num / F.nullif(n_reporting.cast("double"), F.lit(0))
    return sb.select(
        "month",
        *_FAMS,
        n_reporting.cast("bigint").alias("n_families_reporting"),
        composite.alias("composite_score"),
        F.when(composite >= 0.6, "risk_on")
        .when(composite <= 0.4, "risk_off")
        .otherwise("neutral")
        .alias("spine_regime"),
    )


def _fam_sql(name: str) -> str:
    rev = "l_extendedprice * (1 - l_discount)"
    return {
        "ship_revenue": f"""
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {sql_dsum(rev)} / 1e6 AS ship_revenue
  FROM lineitem GROUP BY 1""",
        "order_flow": """
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(*) AS DOUBLE) AS order_flow
  FROM orders GROUP BY 1""",
        "customer_breadth": """
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS customer_breadth
  FROM orders GROUP BY 1""",
        "discount_pressure": f"""
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {sql_dsum("l_discount")} / COUNT(l_discount)
           AS discount_pressure
  FROM lineitem GROUP BY 1""",
        "supplier_breadth": """
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS supplier_breadth
  FROM lineitem GROUP BY 1""",
        "event_activity": """
  SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
         CAST(COUNT(*) AS DOUBLE) AS event_activity
  FROM events GROUP BY 1""",
    }[name]


def _spine_oracle() -> str:
    fams = ",\n".join(
        f"f_{name} AS ({_fam_sql(name)})" for name in _FAMS
    )
    # chained FULL OUTER with progressively-coalesced key
    joins = "f_ship_revenue"
    key = "f_ship_revenue.month"
    for name in _FAMS[1:]:
        joins += (
            f"\n  FULL OUTER JOIN f_{name}"
            f" ON ({key}) = f_{name}.month"
        )
        key = f"COALESCE({key}, f_{name}.month)"
    fam_cols = ",\n    ".join(f"f_{n}.{n} AS {n}" for n in _FAMS)
    mins = ",\n    ".join(
        f"MIN({n}) AS min_{n}, MAX({n}) AS max_{n}" for n in _FAMS
    )
    norm = {
        n: f"(({n} - min_{n}) / NULLIF(max_{n} - min_{n}, 0))"
        for n in _FAMS
    }
    present = " + ".join(
        f"(CASE WHEN {n} IS NOT NULL THEN 1 ELSE 0 END)" for n in _FAMS
    )
    num = " + ".join(f"COALESCE({norm[n]}, 0.0)" for n in _FAMS)
    return f"""
WITH {fams},
spine AS (
  SELECT ({key}) AS month,
    {fam_cols}
  FROM {joins}
),
bounds AS (
  SELECT {mins} FROM spine
),
sb AS (SELECT * FROM spine CROSS JOIN bounds)
SELECT month, {", ".join(_FAMS)},
  CAST(({present}) AS BIGINT) AS n_families_reporting,
  (({num}) / NULLIF(CAST(({present}) AS DOUBLE), 0)) AS composite_score,
  (CASE WHEN (({num}) / NULLIF(CAST(({present}) AS DOUBLE), 0)) >= 0.6
          THEN 'risk_on'
        WHEN (({num}) / NULLIF(CAST(({present}) AS DOUBLE), 0)) <= 0.4
          THEN 'risk_off'
        ELSE 'neutral' END) AS spine_regime
FROM sb
ORDER BY month
"""


@query("signal_families_spine", oracle=_spine_oracle())
def signal_families_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t, view in (
        ("lineitem", "__src_lineitem"),
        ("orders", "__src_orders"),
        ("events", "__src_events"),
    ):
        load_table(spark, sf_dir, t).createOrReplaceTempView(view)
    out = GRAPH.run(spark, targets=["families_spine"])
    return out["families_spine"].orderBy("month")
