"""Momentum & trend-following signal battery.

Mirror of ``dbt_project/models/signals/momentum_signals.sql``:
- TSMOM: 12-month minus 1-month return, with SIGN signal (:119-122);
- Dual momentum: equities/international/bonds/cash ladder on relative
  + absolute 12m returns (:124-133);
- Faber TAA: count of the four assets above their 200-day SMA
  (:67-113);
- Sector rotation: per-date cross-sectional momentum dispersion with
  deterministic top/bottom sector picks (:48-65);
- Multi-timeframe trend score: sum of return signs across 1/3/6/12m
  (:143-145) — plus the five status ladders (:147-177).

Mapping: SPY/ACWI/GOVT = flag N/R/A daily revenue; sectors = the five
regions. Trailing returns use row-lag windows of 21/63/126/252 trading
days (the reference reads ``*_analysis_return`` calendar offsets — the
row-window flavor of the same horizons; the calendar-offset flavor is
exercised by ``market_analysis_return``). Top/bottom sector picks are
order-pinned (momentum, then symbol) — BigQuery's bare
``ARRAY_AGG(... ORDER BY momentum)[OFFSET(0)]`` tie-breaks
nondeterministically. ``sector_dispersion`` rounds at 3dp (the value
is an exact 3dp decimal; the reference's 2dp ROUND ties at half-cents
cross-engine). CURRENT_DATE trailing filter dropped.

Scale: one hash-agg to daily bars, per-symbol windows, one per-date
sector agg, broadcast date joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..registry import query

DEC = "decimal(28,6)"
_REV = "l_extendedprice * (1 - l_discount)"
RET_WINDOWS = {"1mo": 21, "3mo": 63, "6mo": 126, "1yr": 252}


def _oracle() -> str:
    pct = {
        h: f"ROUND((close / NULLIF(LAG(close, {n}) OVER ws, 0) - 1)"
        f" * 100, 4)"
        for h, n in RET_WINDOWS.items()
    }
    pct_sel = ",\n    ".join(f"{e} AS pct_{h}" for h, e in pct.items())
    signs = " + ".join(
        f"SIGN(spy.pct_{h})" for h in RET_WINDOWS
    )
    return f"""
WITH daily AS (
  SELECT l_returnflag AS symbol, CAST(l_shipdate AS DATE) AS date,
    CAST(SUM(CAST({_REV} AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS close
  FROM lineitem GROUP BY 1, 2
),
rets AS (
  SELECT symbol, date, close,
    {pct_sel},
    (CASE WHEN close > {ta.sql_wavg("close",
        "(PARTITION BY symbol ORDER BY date"
        " ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)")}
          THEN 1 ELSE 0 END) AS above_sma
  FROM daily
  WINDOW ws AS (PARTITION BY symbol ORDER BY date)
),
sector_daily AS (
  SELECT r_name AS sector, CAST(l_shipdate AS DATE) AS date,
    CAST(SUM(CAST({_REV} AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS close
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
sector_mom AS (
  SELECT sector, date,
    (COALESCE(ROUND((close / NULLIF(LAG(close, 21) OVER w, 0) - 1)
              * 100, 4), 0)
     + COALESCE(ROUND((close / NULLIF(LAG(close, 63) OVER w, 0) - 1)
                * 100, 4), 0)) / 2.0 AS avg_momentum
  FROM sector_daily
  WINDOW w AS (PARTITION BY sector ORDER BY date)
),
sector_stats AS (
  SELECT date,
    MAX(avg_momentum) - MIN(avg_momentum) AS dispersion,
    (list(sector ORDER BY avg_momentum DESC, sector))[1] AS top_sector,
    (list(sector ORDER BY avg_momentum ASC, sector))[1] AS bottom_sector
  FROM sector_mom
  GROUP BY date
),
faber AS (
  SELECT date,
    CAST(SUM(above_sma) AS BIGINT) AS invested_count
  FROM rets WHERE symbol IN ('N', 'R', 'A')
  GROUP BY date
)
SELECT spy.date,
  (ROUND(spy.pct_1yr - spy.pct_1mo, 4) + 0.0) AS tsmom_return,
  CAST(SIGN(spy.pct_1yr - spy.pct_1mo) AS BIGINT) AS tsmom_signal,
  (spy.pct_1yr + 0.0) AS spy_12m_return,
  (intl.pct_1yr + 0.0) AS acwi_12m_return,
  (bond.pct_1yr + 0.0) AS govt_12m_return,
  (CASE
     WHEN spy.pct_1yr >= intl.pct_1yr AND spy.pct_1yr > 0
       THEN 'equities'
     WHEN intl.pct_1yr > spy.pct_1yr AND intl.pct_1yr > 0
       THEN 'international'
     WHEN GREATEST(spy.pct_1yr, intl.pct_1yr) <= 0
          AND bond.pct_1yr > 0 THEN 'bonds'
     ELSE 'cash' END) AS dual_momentum_position,
  f.invested_count AS faber_invested_count,
  (ROUND(ss.dispersion * 100, 3) + 0.0) AS sector_dispersion,
  ss.top_sector, ss.bottom_sector,
  CAST(({signs}) AS BIGINT) AS trend_score,
  (CASE WHEN SIGN(spy.pct_1yr - spy.pct_1mo) = -1 THEN 'high'
        WHEN SIGN(spy.pct_1yr - spy.pct_1mo) = 1
             AND (spy.pct_1yr - spy.pct_1mo) > 0.20 THEN 'low'
        ELSE 'normal' END) AS tsmom_status,
  (CASE WHEN GREATEST(spy.pct_1yr, intl.pct_1yr) <= 0
             AND bond.pct_1yr <= 0 THEN 'high'
        WHEN GREATEST(spy.pct_1yr, intl.pct_1yr) <= 0
             AND bond.pct_1yr > 0 THEN 'medium'
        ELSE 'normal' END) AS dual_momentum_status,
  (CASE WHEN f.invested_count <= 1 THEN 'high'
        WHEN f.invested_count = 2 THEN 'medium'
        ELSE 'normal' END) AS faber_taa_status,
  (CASE WHEN ss.dispersion * 100 > 30 THEN 'high'
        WHEN ss.dispersion * 100 > 20 THEN 'medium'
        ELSE 'normal' END) AS sector_rotation_status,
  (CASE WHEN ({signs}) <= -3 THEN 'high'
        WHEN ({signs}) = -2 THEN 'medium'
        WHEN ({signs}) = 4 THEN 'low'
        ELSE 'normal' END) AS trend_score_status
FROM (SELECT * FROM rets WHERE symbol = 'N') spy
LEFT JOIN (SELECT * FROM rets WHERE symbol = 'R') intl
  ON spy.date = intl.date
LEFT JOIN (SELECT * FROM rets WHERE symbol = 'A') bond
  ON spy.date = bond.date
LEFT JOIN faber f ON spy.date = f.date
LEFT JOIN sector_stats ss ON spy.date = ss.date
ORDER BY spy.date
"""


@query("momentum_signals", oracle=_oracle())
def momentum_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)

    # cached (r9): the two daily base aggregates below are re-derived
    # by every downstream signal layer that references them — 5 fact
    # scans cold. Both are (entity x date) sized. repartition(1): see
    # data_points.py for the rationale.
    daily = (
        li.groupBy(
            F.col("l_returnflag").alias("symbol"),
            F.to_date("l_shipdate").alias("date"),
        )
        .agg((F.sum(rev).cast("double") / F.lit(1e6)).alias("close"))
        .repartition(1)
        .cache()
    )
    ws = Window.partitionBy("symbol").orderBy("date")

    def pct(n: int):
        return F.round(
            (
                F.col("close")
                / F.nullif(F.lag("close", n).over(ws), F.lit(0))
                - 1
            )
            * 100,
            4,
        )

    rets = daily.select(
        "symbol",
        "date",
        *[pct(n).alias(f"pct_{h}") for h, n in RET_WINDOWS.items()],
        F.when(
            F.col("close") > ta.wavg("close", ws.rowsBetween(-199, 0)),
            1,
        )
        .otherwise(0)
        .alias("above_sma"),
    )

    sector_daily = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(
            F.col("r_name").alias("sector"),
            F.to_date("l_shipdate").alias("date"),
        )
        .agg((F.sum(rev).cast("double") / F.lit(1e6)).alias("close"))
        .repartition(1)
        .cache()
    )
    wsec = Window.partitionBy("sector").orderBy("date")

    def spct(n: int):
        return F.round(
            (
                F.col("close")
                / F.nullif(F.lag("close", n).over(wsec), F.lit(0))
                - 1
            )
            * 100,
            4,
        )

    sector_mom = sector_daily.select(
        "sector",
        "date",
        (
            (
                F.coalesce(spct(21), F.lit(0))
                + F.coalesce(spct(63), F.lit(0))
            )
            / 2.0
        ).alias("avg_momentum"),
    )
    sector_stats = sector_mom.groupBy("date").agg(
        (F.max("avg_momentum") - F.min("avg_momentum")).alias(
            "dispersion"
        ),
        F.expr(
            "element_at(transform(array_sort(collect_list("
            "struct(-avg_momentum AS m, sector AS s))),"
            " x -> x.s), 1)"
        ).alias("top_sector"),
        F.expr(
            "element_at(transform(array_sort(collect_list("
            "struct(avg_momentum AS m, sector AS s))),"
            " x -> x.s), 1)"
        ).alias("bottom_sector"),
    )
    faber = (
        rets.where(F.col("symbol").isin("N", "R", "A"))
        .groupBy("date")
        .agg(F.sum("above_sma").cast("long").alias("invested_count"))
    )

    def side(sym: str, alias: str) -> DataFrame:
        return rets.where(F.col("symbol") == sym).select(
            F.col("date").alias(f"{alias}_date"),
            *[
                F.col(f"pct_{h}").alias(f"{alias}_pct_{h}")
                for h in RET_WINDOWS
            ],
        )

    spy, intl, bond = side("N", "spy"), side("R", "intl"), side("A", "bond")
    joined = (
        spy.join(intl, spy.spy_date == intl.intl_date, "left")
        .join(bond, spy.spy_date == F.col("bond_date"), "left")
        .join(faber, spy.spy_date == faber.date, "left")
        .drop("date")
        .join(
            sector_stats.withColumnRenamed("date", "ss_date"),
            spy.spy_date == F.col("ss_date"),
            "left",
        )
    )
    tsmom = F.col("spy_pct_1yr") - F.col("spy_pct_1mo")
    signs = sum(
        [F.signum(F.col(f"spy_pct_{h}")) for h in RET_WINDOWS],
        F.lit(0.0),
    )
    disp100 = F.col("dispersion") * 100
    return joined.select(
        F.col("spy_date").alias("date"),
        (F.round(tsmom, 4) + F.lit(0.0)).alias("tsmom_return"),
        F.signum(tsmom).cast("long").alias("tsmom_signal"),
        (F.col("spy_pct_1yr") + F.lit(0.0)).alias("spy_12m_return"),
        (F.col("intl_pct_1yr") + F.lit(0.0)).alias("acwi_12m_return"),
        (F.col("bond_pct_1yr") + F.lit(0.0)).alias("govt_12m_return"),
        F.when(
            (F.col("spy_pct_1yr") >= F.col("intl_pct_1yr"))
            & (F.col("spy_pct_1yr") > 0),
            "equities",
        )
        .when(
            (F.col("intl_pct_1yr") > F.col("spy_pct_1yr"))
            & (F.col("intl_pct_1yr") > 0),
            "international",
        )
        .when(
            (
                F.greatest("spy_pct_1yr", "intl_pct_1yr") <= 0
            )
            & (F.col("bond_pct_1yr") > 0),
            "bonds",
        )
        .otherwise("cash")
        .alias("dual_momentum_position"),
        F.col("invested_count").alias("faber_invested_count"),
        (F.round(disp100, 3) + F.lit(0.0)).alias("sector_dispersion"),
        "top_sector",
        "bottom_sector",
        signs.cast("long").alias("trend_score"),
        F.when(F.signum(tsmom) == -1, "high")
        .when((F.signum(tsmom) == 1) & (tsmom > 0.20), "low")
        .otherwise("normal")
        .alias("tsmom_status"),
        F.when(
            (F.greatest("spy_pct_1yr", "intl_pct_1yr") <= 0)
            & (F.col("bond_pct_1yr") <= 0),
            "high",
        )
        .when(
            (F.greatest("spy_pct_1yr", "intl_pct_1yr") <= 0)
            & (F.col("bond_pct_1yr") > 0),
            "medium",
        )
        .otherwise("normal")
        .alias("dual_momentum_status"),
        F.when(F.col("invested_count") <= 1, "high")
        .when(F.col("invested_count") == 2, "medium")
        .otherwise("normal")
        .alias("faber_taa_status"),
        F.when(disp100 > 30, "high")
        .when(disp100 > 20, "medium")
        .otherwise("normal")
        .alias("sector_rotation_status"),
        F.when(signs <= -3, "high")
        .when(signs == -2, "medium")
        .when(signs == 4, "low")
        .otherwise("normal")
        .alias("trend_score_status"),
    ).orderBy("date")
