"""Data-quality layer (SURVEY.md §5 tiers 2-4): reusable DataFrame
assertions porting the reference's dbt generic tests, plus the dq_*
statistical anomaly models as oracle-checked queries.

Assertions (dbt_project/macros/test_*.sql):
- unique_combination (grain duplicates, test_upstream_market_grain_duplicates.sql)
- positive values / value_in_range
- ohlc_consistency (test_ohlc_consistency.sql:1-22: high >= low,
  high >= open/close, low <= open/close)
Each returns the VIOLATION rows — empty means pass — so they compose as
Dagster-style asset checks gating downstream materialization.

Anomaly queries (models/data_quality/):
- dq_zscore_anomalies (dq_zscore_anomalies.sql: 21d prior-window z-score,
  self-excluding so the outlier doesn't inflate its own baseline)
- dq_value_spikes (dq_return_spikes.sql:51-58: day-over-day jump above
  threshold, with the exact-key NOT-EXISTS exclusion shape)
- dq_stale_series (dq_stale_prices.sql: repeated identical values — a
  dead feed).

Scale: all window-partitioned by entity; anomaly scans are one window
pass over per-day aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.panels import daily_revenue
from ..registry import query

DEC = "decimal(28,6)"

# ------------------------------------------------------------- assertions


def check_unique_combination(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows whose key combination occurs more than once (the grain test)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def check_positive(df: DataFrame, column: str) -> DataFrame:
    return df.where(
        F.col(column).isNull() | (F.col(column) <= 0)
    )


def check_value_in_range(
    df: DataFrame, column: str, lo: float, hi: float
) -> DataFrame:
    return df.where(~F.col(column).between(lo, hi))


def check_not_null(df: DataFrame, columns: list[str]) -> DataFrame:
    cond = None
    for c in columns:
        x = F.col(c).isNull()
        cond = x if cond is None else (cond | x)
    return df.where(cond)


def check_ohlc_consistency(
    df: DataFrame,
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """test_ohlc_consistency.sql:1-22 as a DataFrame assertion."""
    o, h, lo, c = (F.col(x) for x in (open_col, high_col, low_col, close_col))
    bad = (
        (h < lo)
        | (h < o)
        | (h < c)
        | (lo > o)
        | (lo > c)
    )
    return df.where(bad)


# ---------------------------------------------------------- anomaly queries

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


_Z_THRESHOLD = 2.5

_ZSCORE_ORACLE = f"""
WITH {_DAILY_CTE},
stats AS (
  SELECT flag, d, rev,
    COUNT(rev) OVER wp AS n_prior,
    CAST(SUM(CAST(rev AS DECIMAL(28,6))) OVER wp AS DOUBLE) AS s_prior,
    CAST(SUM(CAST(rev * rev AS DECIMAL(28,6))) OVER wp AS DOUBLE) AS ss_prior
  FROM daily
  WINDOW wp AS (PARTITION BY flag ORDER BY d
                ROWS BETWEEN 21 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT flag, d, rev, n_prior,
    (rev - s_prior / n_prior)
      / NULLIF(SQRT(GREATEST((ss_prior - s_prior * s_prior / n_prior)
                             / (n_prior - 1.0), 0)), 0) AS z
  FROM stats WHERE n_prior >= 10
)
SELECT flag, d, rev, n_prior, z,
       (CASE WHEN z > 0 THEN 'high' ELSE 'low' END) AS side
FROM scored
WHERE ABS(z) > {_Z_THRESHOLD}
ORDER BY flag, d
"""


@query("dq_zscore_anomalies", oracle=_ZSCORE_ORACLE)
def dq_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    wp = Window.partitionBy("flag").orderBy("d").rowsBetween(-21, -1)
    rev = F.col("rev")
    n = F.count(rev).over(wp)
    s = F.sum(rev.cast(DEC)).over(wp).cast("double")
    ss = F.sum((rev * rev).cast(DEC)).over(wp).cast("double")
    stats = daily.select(
        "flag", "d", "rev", n.alias("n_prior"), s.alias("s_prior"),
        ss.alias("ss_prior"),
    ).where(F.col("n_prior") >= 10)
    z = (
        F.col("rev") - F.col("s_prior") / F.col("n_prior")
    ) / F.nullif(
        F.sqrt(
            F.greatest(
                (
                    F.col("ss_prior")
                    - F.col("s_prior") * F.col("s_prior") / F.col("n_prior")
                )
                / (F.col("n_prior") - F.lit(1.0)),
                F.lit(0.0),
            )
        ),
        F.lit(0),
    )
    return (
        stats.withColumn("z", z)
        .where(F.abs(F.col("z")) > _Z_THRESHOLD)
        .select(
            "flag",
            "d",
            "rev",
            "n_prior",
            "z",
            F.when(F.col("z") > 0, "high").otherwise("low").alias("side"),
        )
        .orderBy("flag", "d")
    )


_SPIKE_FRAC = 0.8

_SPIKES_ORACLE = f"""
WITH {_DAILY_CTE},
chg AS (
  SELECT flag, d, rev,
         LAG(rev) OVER (PARTITION BY flag ORDER BY d) AS prev_rev
  FROM daily
)
SELECT flag, d, rev, prev_rev,
       ((rev - prev_rev) / prev_rev) AS jump_frac
FROM chg
WHERE prev_rev IS NOT NULL AND prev_rev > 0
  AND ABS((rev - prev_rev) / prev_rev) > {_SPIKE_FRAC}
ORDER BY flag, d
"""


@query("dq_value_spikes", oracle=_SPIKES_ORACLE)
def dq_value_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w = Window.partitionBy("flag").orderBy("d")
    chg = daily.withColumn("prev_rev", F.lag("rev").over(w))
    jump = (F.col("rev") - F.col("prev_rev")) / F.col("prev_rev")
    return (
        chg.where(
            F.col("prev_rev").isNotNull()
            & (F.col("prev_rev") > 0)
            & (F.abs(jump) > _SPIKE_FRAC)
        )
        .select("flag", "d", "rev", "prev_rev", jump.alias("jump_frac"))
        .orderBy("flag", "d")
    )


_STALE_RUN = 3

_STALE_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS part_key,
         CAST(l_shipdate AS DATE) AS d,
         l_orderkey AS ok, l_linenumber AS ln,
         l_extendedprice AS price,
         LAG(l_extendedprice) OVER (
           PARTITION BY l_partkey ORDER BY CAST(l_shipdate AS DATE),
           l_orderkey, l_linenumber) AS prev_price
  FROM lineitem
),
runs AS (
  SELECT part_key, d, price,
         CAST(SUM(CASE WHEN price = prev_price THEN 0 ELSE 1 END) OVER (
           PARTITION BY part_key ORDER BY d, ok, ln
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_id
  FROM per_part
)
SELECT part_key, run_id, COUNT(*) AS run_len,
       (MIN(d)) AS run_start, (MAX(d)) AS run_end,
       (MIN(price)) AS stale_price
FROM runs
GROUP BY part_key, run_id
HAVING COUNT(*) >= 3
ORDER BY part_key, run_id
"""


@query("dq_stale_series", oracle=_STALE_ORACLE)
def dq_stale_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-feed detection: runs of >= 3 identical consecutive prices per
    part (dq_stale_prices.sql shape, gaps-and-islands via change-flag
    cumulative sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_partkey").orderBy(
        F.to_date("l_shipdate"), "l_orderkey", "l_linenumber"
    )
    per_part = li.select(
        F.col("l_partkey").alias("part_key"),
        F.to_date("l_shipdate").alias("d"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_extendedprice").alias("price"),
        F.lag("l_extendedprice").over(wo).alias("prev_price"),
    )
    wrun = (
        Window.partitionBy("part_key")
        .orderBy("d", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = per_part.withColumn(
        "run_id",
        F.sum(
            F.when(F.col("price") == F.col("prev_price"), 0).otherwise(1)
        ).over(wrun),
    )
    return (
        runs.groupBy("part_key", "run_id")
        .agg(
            F.count("*").alias("run_len"),
            F.min("d").alias("run_start"),
            F.max("d").alias("run_end"),
            F.min("price").alias("stale_price"),
        )
        .where(F.col("run_len") >= _STALE_RUN)
        .orderBy("part_key", "run_id")
    )
