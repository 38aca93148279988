"""Leading-indicator analysis: economic rate-of-change vs future returns.

Mirror of ``dbt_project/models/analysis/leading_econ_return_indicator.sql``:
per (sector, series) pair, correlate the indicator's MoM change with
multi-horizon trailing returns (3/6/9-month, :88-99), conditional mean
returns when the indicator grows vs declines (:101-110), volatility and
range stats (:112-120); then a quintile table — NTILE(5) buckets of the
indicator change with mean returns per bucket (:126-151) — UNION'd
under the correlation table with the reference's column-slot reuse
(quintile id in the corr_q1 slot, bucket count in the econ_down slot,
:177-199).

Determinism: NTILE order gets a month tiebreak on both sides (equal
indicator changes would otherwise tile nondeterministically);
conditional means stay unrounded (clean-decimal quotients tie at
display rounding); pairwise correlations null the indicator deviation
wherever the horizon return is null so numerator and denominator sums
cover exactly the same pairs. ``quarterly_return_pct`` deliberately
duplicates the 3-month column — the reference aliases the same input
twice (:18-19) and we keep that shape.

Scale: one monthly panel (broadcast month join of the
``operators/panels.py`` sector returns and indicator counts), one
hash-agg per table, NTILE windows partitioned per (symbol, series).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.parity import (
    centered_corr,
    davg,
    sql_centered_corr,
    sql_davg,
    sql_dsum,
)
from ..registry import query
from .panels import indicator_counts, sector_returns

_REV = "l_extendedprice * (1 - l_discount)"
MIN_OBS = 10
MIN_BUCKET = 3
HORIZONS = {"q1": 3, "q2": 6, "q3": 9}


def _pair_corr_sql(x: str, y: str) -> str:
    """Centered corr over exactly the pairs where ``y`` is non-null."""
    dev_x = f"CASE WHEN p.{y} IS NOT NULL THEN p.{x} - m.mean_{x}_{y} END"
    dev_y = f"p.{y} - m.mean_{y}"
    return sql_centered_corr(dev_x, dev_y)


_MEANS = ",\n    ".join(
    [
        f"{sql_davg(f'CASE WHEN {h} IS NOT NULL THEN econ END')}"
        f" AS mean_econ_{h},\n    {sql_davg(h)} AS mean_{h}"
        for h in HORIZONS
    ]
)

_CORRS = ",\n    ".join(
    f"{_pair_corr_sql('econ', h)} AS corr_econ_{h}_returns"
    for h in HORIZONS
)

_ORACLE = f"""
WITH ind_monthly AS (
  SELECT o_orderpriority AS series_name,
         date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM orders GROUP BY 1, 2
),
ind_pct AS (
  SELECT series_name, month,
    (CASE WHEN LAG(value) OVER w IS NOT NULL AND LAG(value) OVER w != 0
          THEN ROUND((value - LAG(value) OVER w) * 1.0
                     / LAG(value) OVER w * 100, 4) END) AS econ
  FROM ind_monthly
  WINDOW w AS (PARTITION BY series_name ORDER BY month)
),
sector_monthly AS (
  SELECT r_name AS symbol,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {sql_dsum(_REV)} / 1e6 AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
sector_returns AS (
  SELECT symbol, month,
    {", ".join(
        f"ROUND((rev / NULLIF(LAG(rev, {m}) OVER w, 0) - 1) * 100, 4)"
        f" AS {h}" for h, m in HORIZONS.items())}
  FROM sector_monthly
  WINDOW w AS (PARTITION BY symbol ORDER BY month)
),
panel AS (
  SELECT sr.symbol, sr.month, ip.series_name, ip.econ,
         sr.q1 AS quarterly_return_pct, sr.q1, sr.q2, sr.q3
  FROM sector_returns sr
  JOIN ind_pct ip ON sr.month = ip.month
  WHERE ip.econ IS NOT NULL
),
grp_means AS (
  SELECT symbol, series_name,
    {_MEANS}
  FROM panel GROUP BY symbol, series_name
),
corr_table AS (
  SELECT p.symbol, p.series_name,
    CAST(COUNT(*) AS BIGINT) AS observation_count,
    {_CORRS},
    {_pair_corr_sql('econ', 'q1')} AS corr_econ_quarterly_total_return,
    {sql_davg("CASE WHEN p.econ > 0 THEN p.q1 END")} AS avg_q1_up,
    {sql_davg("CASE WHEN p.econ < 0 THEN p.q1 END")} AS avg_q1_down,
    {sql_davg("CASE WHEN p.econ > 0 THEN p.quarterly_return_pct END")}
      AS avg_qt_up,
    {sql_davg("CASE WHEN p.econ < 0 THEN p.quarterly_return_pct END")}
      AS avg_qt_down
  FROM panel p
  JOIN grp_means m
    ON p.symbol = m.symbol AND p.series_name = m.series_name
  GROUP BY p.symbol, p.series_name
  HAVING COUNT(*) >= {MIN_OBS}
),
quintiles AS (
  SELECT symbol, series_name, econ, q1, quarterly_return_pct,
    NTILE(5) OVER (PARTITION BY symbol, series_name
                   ORDER BY econ, month) AS econ_change_quintile
  FROM panel
)
SELECT 'Correlation Analysis' AS analysis_type, symbol, series_name,
  observation_count,
  (ROUND(corr_econ_q1_returns, 4) + 0.0) AS correlation_econ_vs_q1_returns,
  (ROUND(corr_econ_q2_returns, 4) + 0.0) AS correlation_econ_vs_q2_returns,
  (ROUND(corr_econ_q3_returns, 4) + 0.0) AS correlation_econ_vs_q3_returns,
  (ROUND(corr_econ_quarterly_total_return, 4) + 0.0)
    AS correlation_econ_vs_quarterly_total_return,
  avg_q1_up AS avg_q1_return_econ_up,
  avg_q1_down AS avg_q1_return_econ_down,
  avg_qt_up AS avg_quarterly_total_return_econ_up,
  avg_qt_down AS avg_quarterly_total_return_econ_down,
  (COALESCE(avg_q1_up, 0) - COALESCE(avg_q1_down, 0)) AS return_difference
FROM corr_table
UNION ALL
SELECT 'Quintile Analysis', symbol, series_name,
  CAST(NULL AS BIGINT),
  CAST(econ_change_quintile AS DOUBLE),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  {sql_davg("q1")},
  CAST(COUNT(*) AS DOUBLE),
  {sql_davg("quarterly_return_pct")},
  CAST(NULL AS DOUBLE),
  {sql_davg("econ")}
FROM quintiles
GROUP BY symbol, series_name, econ_change_quintile
HAVING COUNT(*) >= {MIN_BUCKET}
ORDER BY analysis_type, symbol, series_name,
         correlation_econ_vs_q1_returns
"""


@query("leading_econ_return_indicator", oracle=_ORACLE)
def leading_econ_return_indicator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")

    ws = Window.partitionBy("series_name").orderBy("month")
    lagv = F.lag("value").over(ws)
    ind = (
        indicator_counts(orders)
        .withColumnRenamed("series_code", "series_name")
        .select(
            "series_name",
            "month",
            F.when(
                lagv.isNotNull() & (lagv != 0),
                F.round(
                    (F.col("value") - lagv) * 1.0 / lagv * 100, 4
                ),
            ).alias("econ"),
        )
    )
    returns = sector_returns(li, su, na, re, HORIZONS)
    # cached (r9): the panel (region-symbol x priority-series x month,
    # dimension-sized) feeds THREE consumers — the group means, the
    # corr table, and the quintile pass — and uncached each re-ran the
    # full lineitem join-agg AND the orders indicator agg (3 scans of
    # each fact cold). repartition(1): see data_points.py.
    panel = (
        returns.join(F.broadcast(ind), on="month")
        .where(F.col("econ").isNotNull())
        .withColumn("quarterly_return_pct", F.col("q1"))
        .repartition(1)
        .cache()
    )
    pair = ["symbol", "series_name"]
    mean_aggs = []
    for h in HORIZONS:
        mean_aggs += [
            davg(
                F.when(F.col(h).isNotNull(), F.col("econ"))
            ).alias(f"mean_econ_{h}"),
            davg(h).alias(f"mean_{h}"),
        ]
    means = panel.groupBy(*pair).agg(*mean_aggs)

    def pair_corr(h: str) -> Column:
        return centered_corr(
            F.when(
                F.col(h).isNotNull(),
                F.col("econ") - F.col(f"mean_econ_{h}"),
            ),
            F.col(h) - F.col(f"mean_{h}"),
        )

    corr_table = (
        panel.join(F.broadcast(means), on=pair)
        .groupBy(*pair)
        .agg(
            F.count("*").cast("long").alias("observation_count"),
            *[
                pair_corr(h).alias(f"corr_econ_{h}_returns")
                for h in HORIZONS
            ],
            pair_corr("q1").alias("corr_econ_quarterly_total_return"),
            davg(F.when(F.col("econ") > 0, F.col("q1"))).alias(
                "avg_q1_up"
            ),
            davg(F.when(F.col("econ") < 0, F.col("q1"))).alias(
                "avg_q1_down"
            ),
            davg(
                F.when(
                    F.col("econ") > 0, F.col("quarterly_return_pct")
                )
            ).alias("avg_qt_up"),
            davg(
                F.when(
                    F.col("econ") < 0, F.col("quarterly_return_pct")
                )
            ).alias("avg_qt_down"),
        )
        .where(F.col("observation_count") >= MIN_OBS)
    )
    corr_rows = corr_table.select(
        F.lit("Correlation Analysis").alias("analysis_type"),
        "symbol",
        "series_name",
        "observation_count",
        (F.round("corr_econ_q1_returns", 4) + F.lit(0.0)).alias(
            "correlation_econ_vs_q1_returns"
        ),
        (F.round("corr_econ_q2_returns", 4) + F.lit(0.0)).alias(
            "correlation_econ_vs_q2_returns"
        ),
        (F.round("corr_econ_q3_returns", 4) + F.lit(0.0)).alias(
            "correlation_econ_vs_q3_returns"
        ),
        (
            F.round("corr_econ_quarterly_total_return", 4) + F.lit(0.0)
        ).alias("correlation_econ_vs_quarterly_total_return"),
        F.col("avg_q1_up").alias("avg_q1_return_econ_up"),
        F.col("avg_q1_down").alias("avg_q1_return_econ_down"),
        F.col("avg_qt_up").alias("avg_quarterly_total_return_econ_up"),
        F.col("avg_qt_down").alias(
            "avg_quarterly_total_return_econ_down"
        ),
        (
            F.coalesce("avg_q1_up", F.lit(0))
            - F.coalesce("avg_q1_down", F.lit(0))
        ).alias("return_difference"),
    )

    wq = Window.partitionBy(*pair).orderBy("econ", "month")
    quint = panel.withColumn("econ_change_quintile", F.ntile(5).over(wq))
    quint_rows = (
        quint.groupBy(*pair, "econ_change_quintile")
        .agg(
            F.count("*").alias("n_bucket"),
            davg("q1").alias("avg_q1"),
            davg("quarterly_return_pct").alias("avg_qt"),
            davg("econ").alias("avg_econ"),
        )
        .where(F.col("n_bucket") >= MIN_BUCKET)
        .select(
            F.lit("Quintile Analysis").alias("analysis_type"),
            "symbol",
            "series_name",
            F.lit(None).cast("long").alias("observation_count"),
            F.col("econ_change_quintile")
            .cast("double")
            .alias("correlation_econ_vs_q1_returns"),
            F.lit(None)
            .cast("double")
            .alias("correlation_econ_vs_q2_returns"),
            F.lit(None)
            .cast("double")
            .alias("correlation_econ_vs_q3_returns"),
            F.lit(None)
            .cast("double")
            .alias("correlation_econ_vs_quarterly_total_return"),
            F.col("avg_q1").alias("avg_q1_return_econ_up"),
            F.col("n_bucket")
            .cast("double")
            .alias("avg_q1_return_econ_down"),
            F.col("avg_qt").alias("avg_quarterly_total_return_econ_up"),
            F.lit(None)
            .cast("double")
            .alias("avg_quarterly_total_return_econ_down"),
            F.col("avg_econ").alias("return_difference"),
        )
    )
    return corr_rows.unionByName(quint_rows).orderBy(
        "analysis_type",
        "symbol",
        "series_name",
        "correlation_econ_vs_q1_returns",
    )
