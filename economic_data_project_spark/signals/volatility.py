"""Market volatility signals: realized / Parkinson / Garman-Klass / VRP.

Mirror of ``dbt_project/models/signals/market_volatility_signals.sql``:
implied-vol context windows (20d avg/min/max + daily change, :18-26),
close-to-close realized volatility annualized by sqrt(252) (:59-68),
the Parkinson range estimator ``SUM(ln(h/l)^2) / (4 n ln 2)`` (:85-94),
the Garman-Klass estimator ``0.5 ln(h/l)^2 - (2 ln 2 - 1) ln(c/o)^2``
(:95), and the variance risk premium (implied minus realized, :160-163)
for two entities LEFT-joined on the implied-vol spine (:125-168).

Series mapping: implied vol = flag-A mean discount x 100; SPY/QQQ =
flag-N / flag-R daily bars (close = revenue/1e6, high/low = price
extrema); open proxied by the prior close (the data has no open).

Determinism: LN is libm territory — ``ln(h/l)`` can differ by 1 ulp
between the JVM and DuckDB, so both log terms are rounded to 9dp at
the source (O(1) magnitude: the scaled-multiply round is exact
there). Squared terms (return^2, log^2, gk_component) are EXACT
decimal squares of the rounded inputs (``ta.dec_sq``): casting the
double square to DECIMAL(28,6) re-rounds a 12/18-dp value at 6dp,
where the engines' double->decimal casts can disagree near the half
boundary. One drift class remains even with exact decimal sums: a
scale-18 decimal (the dec_sq product) whose significand exceeds 2^53
is cast to double by DuckDB as int128->double THEN /1e18 — two
roundings — while the JVM's BigDecimal.doubleValue is correctly
rounded, so the cast itself can differ by 1 ulp (seen on the
Parkinson sums on DuckDB 1.0). Hence the SIX estimator columns go
through ``ta.emit`` / ``ta.sql_emit`` (ROUND(x, 6) + 0.0 on BOTH
engines) at the vol_estimates stage — sqrt outputs are irrational so
the residual half-boundary risk of ROUND itself is negligible — and
VRP subtracts the already-rounded realized vol. The vix_* columns
are emitted UNROUNDED on purpose: they are quotients of exact 6dp
decimal sums by small counts, which terminate at the 7th decimal
digit (often in ...5), exactly where Spark's exact-binary HALF_UP
and DuckDB's scaled-multiply ROUND disagree — rounding those is what
breaks parity, not what fixes it. CURRENT_DATE trailing filter
dropped.

Scale: one hash-agg to daily bars; windows partition per symbol; the
estimator fan-out is a single window pass; the final 3-way join is
per-date.
"""

from __future__ import annotations

import decimal
import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..registry import query

DEC = "decimal(28,6)"
_REV = "l_extendedprice * (1 - l_discount)"
LN2 = math.log(2.0)
# 2 ln 2 - 1 as a 12dp decimal literal: the GK cross-term constant must
# be an exact decimal so gk_component stays in exact decimal arithmetic
# end-to-end (see dec_sq in functions/ta.py).
_GK_C12 = f"{2 * LN2 - 1:.12f}"


def _vol_oracle() -> str:
    def frame(n: int) -> str:
        return (
            f"(PARTITION BY symbol ORDER BY date"
            f" ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
        )

    cols = []
    for n in (20, 30):
        rv = (
            f"{ta.sql_wstd_exact('daily_return', frame(n), 6)}"
            f" * SQRT(252.0) * 100"
        )
        cols.append(f"{ta.sql_emit(rv)} AS realized_vol_{n}d")
    for n in (20, 60):
        sq_hl = ta.sql_wsum_raw(
            ta.sql_dec_sq("log_hl", 9, 10), frame(n)
        )
        pk = (
            f"SQRT(({sq_hl}"
            f" / (4.0 * {n} * CAST({LN2!r} AS DOUBLE))) * 252) * 100"
        )
        cols.append(f"{ta.sql_emit(pk)} AS parkinson_vol_{n}d")
        gk_sum = ta.sql_wsum_raw("gk_component", frame(n))
        gk = f"SQRT(GREATEST(({gk_sum} / {n}.0) * 252, 0.0)) * 100"
        cols.append(f"{ta.sql_emit(gk)} AS gk_vol_{n}d")
    est_cols = ",\n    ".join(cols)
    vrp = ",\n  ".join(
        f"(v.vix_close - {s}.realized_vol_{n}d)"
        f" AS {s}_vrp_{n}d"
        for s in ("spy", "qqq")
        for n in (20, 30)
    )
    sym_cols = ",\n  ".join(
        f"{s}.{c} AS {s}_{c}"
        for s in ("spy", "qqq")
        for c in (
            "realized_vol_20d",
            "realized_vol_30d",
            "parkinson_vol_20d",
            "parkinson_vol_60d",
            "gk_vol_20d",
            "gk_vol_60d",
        )
    )
    return f"""
WITH bars AS (
  SELECT l_returnflag AS symbol, CAST(l_shipdate AS DATE) AS date,
    CAST(SUM(CAST({_REV} AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS close,
    MAX(l_extendedprice) / 1e4 AS high,
    MIN(l_extendedprice) / 1e4 AS low
  FROM lineitem WHERE l_returnflag IN ('N', 'R') GROUP BY 1, 2
),
vol_inputs AS (
  SELECT symbol, date,
    ROUND(close / NULLIF(LAG(close) OVER ws, 0) - 1, 6) AS daily_return,
    ROUND(LN(high / low), 9) AS log_hl,
    ROUND(LN(close / NULLIF(LAG(close) OVER ws, 0)), 9) AS log_co
  FROM bars
  WINDOW ws AS (PARTITION BY symbol ORDER BY date)
),
gk_in AS (
  SELECT *,
    (CAST(0.5 AS DECIMAL(2,1)) * {ta.sql_dec_sq("log_hl", 9, 10)}
     - CAST({_GK_C12} AS DECIMAL(13,12))
       * {ta.sql_dec_sq("log_co", 9, 10)})
      AS gk_component
  FROM vol_inputs
  WHERE daily_return IS NOT NULL
),
vol_estimates AS (
  SELECT symbol, date,
    {est_cols}
  FROM gk_in
),
vix AS (
  SELECT CAST(l_shipdate AS DATE) AS date,
    (CAST(SUM(CASE WHEN l_returnflag = 'A'
                   THEN CAST(l_discount AS DECIMAL(28,6)) END) AS DOUBLE)
     / COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END)) * 100
      AS vix_close
  FROM lineitem GROUP BY 1
),
vix_stats AS (
  SELECT date, vix_close,
    {ta.sql_wavg("vix_close",
                 "(ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)")}
      AS vix_avg_20d,
    MIN(vix_close) OVER (ORDER BY date
      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vix_min_20d,
    MAX(vix_close) OVER (ORDER BY date
      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vix_max_20d,
    LAG(vix_close) OVER (ORDER BY date) AS vix_prev_close
  FROM vix
)
SELECT v.date, v.vix_close, v.vix_avg_20d, v.vix_min_20d, v.vix_max_20d,
  v.vix_prev_close,
  (v.vix_close - v.vix_prev_close) AS vix_daily_change,
  (CASE WHEN v.vix_prev_close > 0
        THEN (v.vix_close - v.vix_prev_close) / v.vix_prev_close * 100
        ELSE 0 END) AS vix_daily_change_pct,
  {sym_cols},
  {vrp}
FROM vix_stats v
LEFT JOIN (SELECT * FROM vol_estimates WHERE symbol = 'N') spy
  ON v.date = spy.date
LEFT JOIN (SELECT * FROM vol_estimates WHERE symbol = 'R') qqq
  ON v.date = qqq.date
ORDER BY v.date
"""


@query("market_volatility_signals", oracle=_vol_oracle())
def market_volatility_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)

    # Single-pass fused daily aggregate (r9): the symbol bars (flags
    # N/R) and the VIX proxy (flag A) are conditional aggregations of
    # the SAME fact table at the SAME date grain — one scan + one
    # date-keyed hash agg computes all of them; cold, this query ran
    # THREE lineitem scans (bars rendered twice via the spy/qqq sides
    # + the vix scan). The fused frame is date-grain (dimension-sized)
    # so it is cached; repartition(1): see
    # data_points.py.
    def flagged(sym: str, col: Column):
        return F.when(F.col("l_returnflag") == sym, col)

    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("date"))
        .agg(
            *[
                agg
                for s in ("N", "R")
                for agg in (
                    (
                        F.sum(flagged(s, rev)).cast("double")
                        / F.lit(1e6)
                    ).alias(f"close_{s}"),
                    (
                        F.max(flagged(s, F.col("l_extendedprice")))
                        / F.lit(1e4)
                    ).alias(f"high_{s}"),
                    (
                        F.min(flagged(s, F.col("l_extendedprice")))
                        / F.lit(1e4)
                    ).alias(f"low_{s}"),
                    F.count(flagged(s, F.lit(1))).alias(f"n_{s}"),
                )
            ],
            (
                F.sum(
                    flagged("A", F.col("l_discount").cast(DEC))
                ).cast("double")
                / F.count(flagged("A", F.lit(1)))
                * 100
            ).alias("vix_close"),
        )
        .repartition(1)
        .cache()
    )

    # bars' spine is (symbol, date) pairs with >= 1 row of that flag —
    # recovered from the per-flag presence counts, NOT close IS NOT
    # NULL (all-NULL revenue days must stay on the spine).
    bars = reduce(
        DataFrame.unionByName,
        [
            daily.where(F.col(f"n_{s}") > 0).select(
                F.lit(s).alias("symbol"),
                "date",
                F.col(f"close_{s}").alias("close"),
                F.col(f"high_{s}").alias("high"),
                F.col(f"low_{s}").alias("low"),
            )
            for s in ("N", "R")
        ],
    )
    ws = Window.partitionBy("symbol").orderBy("date")
    prev = F.lag("close").over(ws)
    vol_inputs = bars.select(
        "symbol",
        "date",
        F.round(F.col("close") / F.nullif(prev, F.lit(0)) - 1, 6).alias(
            "daily_return"
        ),
        F.round(F.log(F.col("high") / F.col("low")), 9).alias("log_hl"),
        F.round(
            F.log(F.col("close") / F.nullif(prev, F.lit(0))), 9
        ).alias("log_co"),
    )
    gk_in = vol_inputs.where(
        F.col("daily_return").isNotNull()
    ).withColumn(
        "gk_component",
        F.lit(decimal.Decimal("0.5")) * ta.dec_sq("log_hl", 9, 10)
        - F.lit(decimal.Decimal(_GK_C12)) * ta.dec_sq("log_co", 9, 10),
    )

    def roll(n: int):
        return ws.rowsBetween(-(n - 1), 0)

    est_cols: list[Column] = []
    for n in (20, 30):
        est_cols.append(
            ta.emit(
                ta.wstd_exact("daily_return", roll(n), 6)
                * F.sqrt(F.lit(252.0))
                * 100
            ).alias(f"realized_vol_{n}d")
        )
    for n in (20, 60):
        est_cols.append(
            ta.emit(
                F.sqrt(
                    ta.wsum_raw(ta.dec_sq("log_hl", 9, 10), roll(n))
                    / (4.0 * n * LN2)
                    * 252
                )
                * 100
            ).alias(f"parkinson_vol_{n}d")
        )
        est_cols.append(
            ta.emit(
                F.sqrt(
                    F.greatest(
                        ta.wsum_raw(F.col("gk_component"), roll(n))
                        / float(n)
                        * 252,
                        F.lit(0.0),
                    )
                )
                * 100
            ).alias(f"gk_vol_{n}d")
        )
    vol_estimates = gk_in.select("symbol", "date", *est_cols)

    # vix's spine is EVERY lineitem date (flag-A days or not, with
    # NULL vix_close where no A rows exist) — exactly the cached
    # frame's date grain.
    vix = daily.select("date", "vix_close")
    wd = ta.series_window("date")
    w20 = wd.rowsBetween(-19, 0)
    vix_stats = vix.select(
        "date",
        "vix_close",
        ta.wavg("vix_close", w20).alias("vix_avg_20d"),
        F.min("vix_close").over(w20).alias("vix_min_20d"),
        F.max("vix_close").over(w20).alias("vix_max_20d"),
        F.lag("vix_close").over(wd).alias("vix_prev_close"),
    )

    est_names = [
        "realized_vol_20d",
        "realized_vol_30d",
        "parkinson_vol_20d",
        "parkinson_vol_60d",
        "gk_vol_20d",
        "gk_vol_60d",
    ]

    def side(sym: str, alias: str) -> DataFrame:
        return vol_estimates.where(F.col("symbol") == sym).select(
            F.col("date").alias(f"{alias}_date"),
            *[F.col(c).alias(f"{alias}_{c}") for c in est_names],
        )

    out = (
        vix_stats.join(
            side("N", "spy"),
            vix_stats.date == F.col("spy_date"),
            "left",
        )
        .join(side("R", "qqq"), vix_stats.date == F.col("qqq_date"), "left")
        .drop("spy_date", "qqq_date")
    )
    vrp_cols = [
        (
            F.col("vix_close") - F.col(f"{s}_realized_vol_{n}d")
        ).alias(f"{s}_vrp_{n}d")
        for s in ("spy", "qqq")
        for n in (20, 30)
    ]
    return out.select(
        "date",
        "vix_close",
        "vix_avg_20d",
        "vix_min_20d",
        "vix_max_20d",
        "vix_prev_close",
        (F.col("vix_close") - F.col("vix_prev_close")).alias(
            "vix_daily_change"
        ),
        F.when(
            F.col("vix_prev_close") > 0,
            (F.col("vix_close") - F.col("vix_prev_close"))
            / F.col("vix_prev_close")
            * 100,
        )
        .otherwise(0.0)
        .alias("vix_daily_change_pct"),
        *[f"{s}_{c}" for s in ("spy", "qqq") for c in est_names],
        *vrp_cols,
    ).orderBy("date")
