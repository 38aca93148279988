"""Econ staging panels: each star-schema -> econ panel defined once.

The reference defines every intermediate model once and ``ref``s it
downstream (SURVEY.md §5: ``fred_monthly_diff ->
economic_regime_classification -> correlation_analysis_enhanced``).
These are this engine's shared intermediates; every analysis builder
that needs one calls the function here instead of re-deriving it:

- ``daily_revenue``: revenue per (returnflag, ship day) — the price
  series at an entity grain (technical_price_universe.sql:7-9);
- ``daily_ohlcv``: the same grain with OHLCV stand-ins (close =
  revenue, high/low = max/min extended price, volume = quantity);
- ``sector_returns``: monthly revenue per region (the sector stand-in)
  and its lagged percent returns;
- ``monthly_flag_revenue``: the month x returnflag revenue pivot
  (economic_regime_classification.sql:11-35);
- ``monthly_regimes``: that pivot plus the expansion / contraction /
  neutral month rule;
- ``indicator_counts``: monthly order counts per order priority (the
  economic-indicator stand-in, integer-valued so MoM changes are exact).

Each function takes the frames it reads, so ``load_table`` callers and
the ModelGraph chains' ``__src_*`` views share one definition. Callers
keep their own ``.cache()`` / ``repartition(1)``: a panel's reuse
pattern belongs to its consumer. Sums are decimal-exact
(functions/parity.py); the DuckDB oracles spell the same trees out in
SQL, one per query, as the independent check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEC = "decimal(28,6)"


def _rev() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _month(date_col: str) -> Column:
    return F.trunc(F.to_date(date_col), "month").alias("month")


def _flag_day() -> list[Column]:
    return [
        F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("d"),
    ]


def daily_revenue(li: DataFrame) -> DataFrame:
    """(flag, d, rev): revenue per returnflag and ship day, in millions."""
    return li.groupBy(*_flag_day()).agg(
        (F.sum(_rev().cast(DEC)).cast("double") / F.lit(1e6)).alias("rev")
    )


def daily_ohlcv(li: DataFrame) -> DataFrame:
    """(flag, d, close, high, low, volume) per returnflag and ship day."""
    # NOTE (r16): spread_scan (the pricing_summary fix for the
    # decimal-cast floor) does not pay here. technical_indicator_daily
    # measured 0.86x in a 7-rep alternating A/B with (l_orderkey,
    # l_linenumber) keys and a wash (2.595 vs 2.604 s median, 9 reps)
    # with non-widening (l_extendedprice, l_shipdate) keys; the four
    # signal-chain consumers measured 0.89-0.98x. This agg has only two
    # decimal casts per row and its consumers re-exchange by flag
    # anyway. pricing_summary (5 casts, terminal agg) and
    # nation_revenue (cast + 4 broadcast probes) keep theirs.
    return li.groupBy(*_flag_day()).agg(
        (F.sum(_rev().cast(DEC)).cast("double") / F.lit(1e6)).alias("close"),
        (F.max("l_extendedprice") / F.lit(1e4)).alias("high"),
        (F.min("l_extendedprice") / F.lit(1e4)).alias("low"),
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.lit(1e3))
        .alias("volume"),
    )


def sector_returns(
    li: DataFrame,
    su: DataFrame,
    na: DataFrame,
    re: DataFrame,
    lags: dict[str, int],
) -> DataFrame:
    """(symbol, month, *lags): region-month revenue and, per ``{alias:
    lag}``, its percent return over ``lag`` months rounded to 4dp."""
    monthly = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(F.col("r_name").alias("symbol"), _month("l_shipdate"))
        .agg(
            (F.sum(_rev().cast(DEC)).cast("double") / F.lit(1e6)).alias("rev")
        )
    )
    wsym = Window.partitionBy("symbol").orderBy("month")
    return monthly.select(
        "symbol",
        "month",
        *[
            F.round(
                (
                    F.col("rev")
                    / F.nullif(F.lag("rev", m).over(wsym), F.lit(0))
                    - 1
                )
                * 100,
                4,
            ).alias(alias)
            for alias, m in lags.items()
        ],
    )


def monthly_flag_revenue(li: DataFrame) -> DataFrame:
    """(month, A, N, R): revenue per ship month and returnflag, pivoted
    wide. Values pinned explicitly -> one shuffle, no distinct pre-scan."""
    return (
        li.groupBy(_month("l_shipdate"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(_rev().cast(DEC)).cast("double"))
    )


def monthly_regimes(li: DataFrame) -> DataFrame:
    """(month, A, N, R, regime): the flag pivot classified per month —
    expansion when N outweighs A + R, contraction when R outweighs N,
    neutral otherwise."""
    a, n, r = (F.coalesce(F.col(c), F.lit(0)) for c in "ANR")
    regime = (
        F.when(F.col("N") > a + r, "expansion")
        .when(r > n, "contraction")
        .otherwise("neutral")
    )
    return monthly_flag_revenue(li).select("*", regime.alias("regime"))


def indicator_counts(orders: DataFrame) -> DataFrame:
    """(series_code, month, value): orders per priority and order month."""
    return orders.groupBy(
        F.col("o_orderpriority").alias("series_code"), _month("o_orderdate")
    ).agg(F.count("*").alias("value"))
