"""The analysis-return battery — the reference's most-instantiated macro.

``macros/calculate_market_analysis_return.sql`` is stamped out ~20
times across markets/commodities/currencies (us_sector_, sp500_,
major_indices_, fixed_income_, global_markets_, energy_/input_/
agriculture_commodities_analysis_return, ...). Its shape: per entity,

- exact calendar-offset self-joins for 30/90/180/270/365-days-ago
  prices (:41-77 — LEFT JOIN on ``date - INTERVAL N DAY``, null when
  the market was closed that day),
- per-horizon RANGE windows over UNIX_DATE(date): rolling high/low and
  the stddev of daily price differences (:80-170),
- pct_change per horizon from the offset price with the >0 guard.

Here the macro is a reusable Python builder (``analysis_return_battery``)
parameterized the same way the Jinja macro is, plus one instantiated
oracle-checked query over the per-flag daily series — one registered
query standing for the whole stamped-out family, per the repo's
operator-per-shape strategy.

Also: ``treasury_yield_curve_spreads``
(agents_preprocess/agent_treasury_yield_curve_spreads.sql:10-66): the
wide tenor pivot with pairwise spreads and the curve-shape /
inversion-status ladders; tenors map to the five order priorities'
monthly mean prices.

Scale: the offset joins are per-(entity, date) equi-joins (shuffle on
the same key as the windows — one exchange reused); RANGE windows are
partitioned per entity. Stddev goes through decimal-exact sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..registry import query

DEC = "decimal(28,6)"
HORIZONS = {"1mo": 30, "3mo": 90, "6mo": 180, "9mo": 270, "1yr": 365}


def analysis_return_battery(
    daily: DataFrame,
    entity_cols: list[str],
    horizons: dict[str, int] = HORIZONS,
) -> DataFrame:
    """The macro body: daily frame with (entity..., date, close, high,
    low) -> per-horizon offset prices, range-window high/low/stddev,
    pct changes."""
    w = Window.partitionBy(*entity_cols).orderBy("date")
    dc = daily.withColumn(
        "daily_diff", F.col("close") - F.lag("close").over(w)
    )
    out = dc
    for h, days in horizons.items():
        past = dc.select(
            *[F.col(c).alias(f"p_{c}") for c in entity_cols],
            F.col("date").alias("p_date"),
            F.col("close").alias(f"price_{h}_ago"),
        )
        cond = F.lit(True)
        for c in entity_cols:
            cond = cond & (F.col(c) == F.col(f"p_{c}"))
        cond = cond & (
            F.col("p_date") == F.date_sub(F.col("date"), days)
        )
        out = out.join(past, cond, "left").drop(
            *[f"p_{c}" for c in entity_cols], "p_date"
        )
    out = out.withColumn(
        "day_num", F.datediff("date", F.lit("1970-01-01"))
    )
    wr = Window.partitionBy(*entity_cols).orderBy("day_num")
    cols = [*entity_cols, "date", F.col("close").alias("current_price")]
    for h, days in horizons.items():
        rw = wr.rangeBetween(-days, 0)
        past = F.col(f"price_{h}_ago")
        cols += [
            F.max("high").over(rw).alias(f"high_{h}"),
            F.min("low").over(rw).alias(f"low_{h}"),
            ta.wstd("daily_diff", rw).alias(f"std_diff_{h}"),
            past.alias(f"price_start_{h}"),
            F.when(
                past.isNotNull() & (past > 0),
                (F.col("close") - past) / past * 100,
            ).alias(f"pct_change_{h}"),
        ]
    return out.select(*cols)


def _battery_oracle() -> str:
    joins = "\n".join(
        f"""LEFT JOIN daily p{i} ON d.flag = p{i}.flag
  AND p{i}.date = d.date - INTERVAL {days} DAY"""
        for i, days in enumerate(HORIZONS.values(), 1)
    )
    sel = []
    for i, (h, days) in enumerate(HORIZONS.items(), 1):
        rw = (
            f"(PARTITION BY d.flag ORDER BY"
            f" datediff('day', DATE '1970-01-01', d.date)"
            f" RANGE BETWEEN {days} PRECEDING AND CURRENT ROW)"
        )
        sel.append(
            f"""MAX(d.high) OVER {rw} AS high_{h},
  MIN(d.low) OVER {rw} AS low_{h},
  {ta.sql_wstd("d.daily_diff", rw)} AS std_diff_{h},
  p{i}.close AS price_start_{h},
  (CASE WHEN p{i}.close IS NOT NULL AND p{i}.close > 0
        THEN (d.close - p{i}.close) / p{i}.close * 100 END)
    AS pct_change_{h}"""
        )
    sel_sql = ",\n  ".join(sel)
    return f"""
WITH raw AS (
  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS date,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS close,
    MAX(l_extendedprice) / 1e4 AS high,
    MIN(l_extendedprice) / 1e4 AS low
  FROM lineitem GROUP BY 1, 2
),
daily AS (
  SELECT *,
    close - LAG(close) OVER (PARTITION BY flag ORDER BY date)
      AS daily_diff
  FROM raw
)
SELECT d.flag, d.date, d.close AS current_price,
  {sel_sql}
FROM daily d
{joins}
ORDER BY d.flag, d.date
"""


@query("market_analysis_return", oracle=_battery_oracle())
def market_analysis_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    # cached (r9): the (flag x date) daily frame is referenced once
    # per calendar-offset horizon by the battery's self-joins —
    # uncached each reference re-ran the lineitem aggregate (6 fact
    # scans cold). repartition(1): see data_points.py.
    daily = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.to_date("l_shipdate").alias("date"),
        )
        .agg(
            (F.sum(rev).cast("double") / F.lit(1e6)).alias("close"),
            (F.max("l_extendedprice") / F.lit(1e4)).alias("high"),
            (F.min("l_extendedprice") / F.lit(1e4)).alias("low"),
        )
        .repartition(1)
        .cache()
    )
    return analysis_return_battery(daily, ["flag"]).orderBy(
        "flag", "date"
    )


# ------------------------------------------------------------- yield curve

TENORS = {
    "yield_3m": "1-URGENT",
    "yield_2y": "2-HIGH",
    "yield_5y": "3-MEDIUM",
    "yield_10y": "4-NOT SPECIFIED",
    "yield_30y": "5-LOW",
}

_TENOR_SEL = ",\n    ".join(
    f"""(CAST(SUM(CASE WHEN o_orderpriority = '{p}'
         THEN CAST(o_totalprice AS DECIMAL(28,6)) END) AS DOUBLE)
     / COUNT(CASE WHEN o_orderpriority = '{p}' THEN 1 END)) / 1e4
    AS {t}"""
    for t, p in TENORS.items()
)

_CURVE_ORACLE = f"""
WITH pivoted AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS date,
    {_TENOR_SEL}
  FROM orders GROUP BY 1
)
SELECT date,
  {", ".join(TENORS)},
  yield_10y - yield_2y AS spread_10y_2y,
  yield_10y - yield_3m AS spread_10y_3m,
  yield_2y - yield_3m AS spread_2y_3m,
  yield_30y - yield_2y AS spread_30y_2y,
  (CASE WHEN yield_10y - yield_2y > 0.5 THEN 'Steep'
        WHEN yield_10y - yield_2y > 0 THEN 'Normal'
        WHEN yield_10y - yield_2y > -0.5 THEN 'Flat'
        ELSE 'Inverted' END) AS curve_shape,
  (CASE WHEN yield_10y - yield_2y < 0 THEN 'Inverted'
        WHEN yield_10y - yield_3m < 0 THEN 'Inverted (10Y-3M)'
        ELSE 'Normal' END) AS inversion_status
FROM pivoted
ORDER BY date
"""


@query("treasury_yield_curve_spreads", oracle=_CURVE_ORACLE)
def treasury_yield_curve_spreads(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def tenor(p: str):
        return (
            F.sum(
                F.when(
                    F.col("o_orderpriority") == p,
                    F.col("o_totalprice").cast(DEC),
                )
            ).cast("double")
            / F.count(
                F.when(F.col("o_orderpriority") == p, F.lit(1))
            )
            / F.lit(1e4)
        )

    pivoted = orders.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("date")
    ).agg(*[tenor(p).alias(t) for t, p in TENORS.items()])
    s_10_2 = F.col("yield_10y") - F.col("yield_2y")
    s_10_3m = F.col("yield_10y") - F.col("yield_3m")
    return pivoted.select(
        "date",
        *TENORS,
        s_10_2.alias("spread_10y_2y"),
        s_10_3m.alias("spread_10y_3m"),
        (F.col("yield_2y") - F.col("yield_3m")).alias("spread_2y_3m"),
        (F.col("yield_30y") - F.col("yield_2y")).alias("spread_30y_2y"),
        F.when(s_10_2 > 0.5, "Steep")
        .when(s_10_2 > 0, "Normal")
        .when(s_10_2 > -0.5, "Flat")
        .otherwise("Inverted")
        .alias("curve_shape"),
        F.when(s_10_2 < 0, "Inverted")
        .when(s_10_3m < 0, "Inverted (10Y-3M)")
        .otherwise("Normal")
        .alias("inversion_status"),
    ).orderBy("date")
