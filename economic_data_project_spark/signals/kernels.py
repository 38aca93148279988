"""Computed-signal kernels (SURVEY.md §2.9) — the Python matrix operators
of the reference's Dagster signal assets, re-expressed Spark-first.

Two tiers:

1. SQL-expressible signals run as pure DataFrame plans with DuckDB
   oracles: permutation entropy (entropy_complexity.py:31-58 — the order-3
   pattern census is just lag comparisons + rolling conditional counts),
   the fear/greed composite (fear_greed_composite.py:30-40,168-277 —
   rolling percentile ranks + when-ladders), and the FCI weighted rolling
   score (financial_condition_index.py:59,266-366 — last-N window dot
   weight vector).

2. Matrix kernels that genuinely need linear algebra run as
   ``applyInPandas`` over the (small) pivoted panel: Mahalanobis
   turbulence (turbulence_index.py:85-177), PCA absorption ratio
   (absorption_ratio.py:61-157), MST network stats
   (network_correlation.py:60-156). These are rows-only checked (no ANSI
   SQL equivalent).

Scale design: the fact->panel reduction (daily revenue per entity) is a
distributed hash aggregate over the full fact table; only the tiny panel
(days x entities, ~25 cols here, ~500 in the reference) is handed to one
pandas group — exactly the reference's Polars boundary
(bigquery_warehouse.py:284-299). The kernels are O(days x entities^2),
independent of fact-table size, so they hold at 100 TB of facts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import ta
from ..operators.panels import daily_revenue
from ..registry import query

DEC = "decimal(28,6)"

# --------------------------------------------------------------------------
# Shared panels.
# --------------------------------------------------------------------------


_DAILY_FLAG_CTE = """
daily AS (
  SELECT l_returnflag AS flag,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS rev
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
"""


def _monthly_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per supplier nation (25 series) — the panel for the
    matrix kernels (stands in for the reference's ~500-stock S&P panel).
    Monthly grain keeps the panel dense at every scale factor; the
    window sizes below are in months accordingly."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.trunc(F.to_date("l_shipdate"), "month").alias("d"),
        )
        .agg(
            (F.sum(rev.cast(DEC)).cast("double") / F.lit(1e6)).alias("rev")
        )
    )


# --------------------------------------------------------------------------
# Permutation entropy (order 3, rolling 60-day window), SQL-native.
# Pattern census over (x_t, x_{t+1}, x_{t+2}) orderings ->
# Shannon entropy / log2(3!) (entropy_complexity.py:31-58,95-116).
# --------------------------------------------------------------------------


def _pattern_case(p1: str, p2: str, p3: str) -> str:
    """Ordinal pattern id 0..5; identical text runs on both engines so tie
    handling (impossible for continuous revenue anyway) matches."""
    return f"""CASE
      WHEN {p1} < {p2} AND {p2} < {p3} THEN 0
      WHEN {p1} < {p3} AND {p3} <= {p2} THEN 1
      WHEN {p2} <= {p1} AND {p1} < {p3} THEN 2
      WHEN {p2} < {p3} AND {p3} <= {p1} THEN 3
      WHEN {p3} <= {p1} AND {p1} < {p2} THEN 4
      ELSE 5 END"""


def _entropy_expr(prefix: str) -> str:
    """-(sum p*ln p)/ln(6) over the 6 rolling pattern shares, rounded to
    6 dp (ln is libm-dependent in the last ulp; rounding removes it)."""
    terms = " + ".join(
        f"(CASE WHEN {prefix}c{k} > 0 THEN"
        f" (CAST({prefix}c{k} AS DOUBLE) / {prefix}n)"
        f" * ln(CAST({prefix}c{k} AS DOUBLE) / {prefix}n)"
        f" ELSE 0.0 END)"
        for k in range(6)
    )
    return f"ROUND(-({terms}) / ln(6.0), 6)"


_PERM_ENTROPY_ORACLE = f"""
WITH {_DAILY_FLAG_CTE},
pat AS (
  SELECT flag, d,
    {_pattern_case("rev",
                   "LEAD(rev, 1) OVER (PARTITION BY flag ORDER BY d)",
                   "LEAD(rev, 2) OVER (PARTITION BY flag ORDER BY d)")}
      AS pattern,
    LEAD(rev, 2) OVER (PARTITION BY flag ORDER BY d) AS p3
  FROM daily
),
counted AS (
  SELECT flag, d, pattern,
    {", ".join(
        f"SUM(CASE WHEN pattern = {k} THEN 1 ELSE 0 END) OVER w AS c{k}"
        for k in range(6))},
    COUNT(*) OVER w AS n
  FROM pat WHERE p3 IS NOT NULL
  WINDOW w AS (PARTITION BY flag ORDER BY d
               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
SELECT flag, d, pattern, n,
       {_entropy_expr("")} AS perm_entropy
FROM counted
WHERE n >= 30
ORDER BY flag, d
"""


@query("signal_permutation_entropy", oracle=_PERM_ENTROPY_ORACLE)
def signal_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w = Window.partitionBy("flag").orderBy("d")
    pat = daily.select(
        "flag",
        "d",
        F.expr(
            _pattern_case(
                "rev",
                "LEAD(rev, 1) OVER (PARTITION BY flag ORDER BY d)",
                "LEAD(rev, 2) OVER (PARTITION BY flag ORDER BY d)",
            )
        ).alias("pattern"),
        F.lead("rev", 2).over(w).alias("p3"),
    ).where(F.col("p3").isNotNull())
    w60 = (
        Window.partitionBy("flag").orderBy("d").rowsBetween(-59, 0)
    )
    counted = pat.select(
        "flag",
        "d",
        "pattern",
        *[
            F.sum(F.when(F.col("pattern") == k, 1).otherwise(0))
            .over(w60)
            .alias(f"c{k}")
            for k in range(6)
        ],
        F.count("*").over(w60).alias("n"),
    )
    return (
        counted.where(F.col("n") >= 30)
        .select("flag", "d", "pattern", "n", F.expr(_entropy_expr("")).alias("perm_entropy"))
        .orderBy("flag", "d")
    )


# --------------------------------------------------------------------------
# Fear/greed composite: 3 components, each a rolling-252d percentile rank
# in [0,1] (count_if(v < cur)/count — fear_greed_composite.py:30-40), then
# equal-weight mean and threshold buckets (168-277).
# Components: momentum (rev vs self history), dispersion (daily range of
# per-flag revenue), activity (item count). All integer/rational math —
# no libm, bit-exact across engines.
# --------------------------------------------------------------------------

_FG_SCORE = (
    "(COALESCE(mom_pct, 0) + COALESCE(act_pct, 0)"
    " + (1.0 - COALESCE(disp_pct, 1))) / 3.0"
)

_FG_ORACLE = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS rev,
         COUNT(*) AS n_items,
         (MAX(l_extendedprice) - MIN(l_extendedprice)) AS price_range
  FROM lineitem
  GROUP BY CAST(l_shipdate AS DATE)
),
hist AS (
  SELECT d, rev, n_items, price_range,
    ARRAY_AGG(rev) OVER w AS h_rev,
    ARRAY_AGG(n_items) OVER w AS h_ni,
    ARRAY_AGG(price_range) OVER w AS h_pr
  FROM daily
  WINDOW w AS (ORDER BY (d - DATE '1970-01-01')
               RANGE BETWEEN 252 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT d,
    CAST(len(list_filter(h_rev, v -> v < rev)) AS DOUBLE)
      / NULLIF(CAST(len(h_rev) AS DOUBLE), 0.0) AS mom_pct,
    CAST(len(list_filter(h_ni, v -> v < n_items)) AS DOUBLE)
      / NULLIF(CAST(len(h_ni) AS DOUBLE), 0.0) AS act_pct,
    CAST(len(list_filter(h_pr, v -> v < price_range)) AS DOUBLE)
      / NULLIF(CAST(len(h_pr) AS DOUBLE), 0.0) AS disp_pct,
    len(h_rev) AS n_hist
  FROM hist
)
SELECT d, mom_pct, act_pct, disp_pct,
       ({_FG_SCORE}) AS fear_greed,
       (CASE
          WHEN {_FG_SCORE} >= 0.75 THEN 'extreme_greed'
          WHEN {_FG_SCORE} >= 0.5 THEN 'greed'
          WHEN {_FG_SCORE} >= 0.25 THEN 'fear'
          ELSE 'extreme_fear'
        END) AS regime
FROM scored
WHERE n_hist >= 60
ORDER BY d
"""


@query("signal_fear_greed", oracle=_FG_ORACLE)
def signal_fear_greed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        (F.sum(rev.cast(DEC)).cast("double") / F.lit(1e6)).alias("rev"),
        F.count("*").alias("n_items"),
        (F.max("l_extendedprice") - F.min("l_extendedprice")).alias(
            "price_range"
        ),
    )
    # Rolling-252d percentile rank needs the current row compared against
    # every frame row — the array formulation (collect the frame, filter,
    # count) keeps it a single window pass. The 3 collected arrays are
    # bounded at 252 doubles/row; the window runs on per-day aggregates
    # (thousands of rows at any SF), not on facts.
    hist_w = ta.series_window(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    ).rangeBetween(-252, -1)
    arr = {
        "rev": F.collect_list("rev").over(hist_w),
        "n_items": F.collect_list("n_items").over(hist_w),
        "price_range": F.collect_list("price_range").over(hist_w),
    }
    with_hist = daily.select(
        "d",
        "rev",
        "n_items",
        "price_range",
        arr["rev"].alias("h_rev"),
        arr["n_items"].alias("h_ni"),
        arr["price_range"].alias("h_pr"),
    )
    def share_smaller(h: str, cur: str):
        return (
            F.expr(f"size(filter({h}, v -> v < {cur}))").cast("double")
            / F.nullif(F.expr(f"size({h})").cast("double"), F.lit(0.0))
        )

    scored = with_hist.select(
        "d",
        share_smaller("h_rev", "rev").alias("mom_pct"),
        share_smaller("h_ni", "n_items").alias("act_pct"),
        share_smaller("h_pr", "price_range").alias("disp_pct"),
        F.expr("size(h_rev)").alias("n_hist"),
    )
    fg = (
        F.coalesce(F.col("mom_pct"), F.lit(0))
        + F.coalesce(F.col("act_pct"), F.lit(0))
        + (F.lit(1.0) - F.coalesce(F.col("disp_pct"), F.lit(1)))
    ) / F.lit(3.0)
    return (
        scored.where(F.col("n_hist") >= 60)
        .select(
            "d",
            "mom_pct",
            "act_pct",
            "disp_pct",
            fg.alias("fear_greed"),
            F.when(fg >= 0.75, "extreme_greed")
            .when(fg >= 0.5, "greed")
            .when(fg >= 0.25, "fear")
            .otherwise("extreme_fear")
            .alias("regime"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# FCI-style weighted rolling score: last-12 daily values dotted with a
# linear-decay weight vector (w_i = i/78, newest heaviest) per flag
# (financial_condition_index.py:266-366). Sequential fold -> bit-exact.
# --------------------------------------------------------------------------

_FCI_ORACLE = f"""
WITH {_DAILY_FLAG_CTE},
arr AS (
  SELECT flag, d,
         list_reverse(ARRAY_AGG(rev) OVER (
           PARTITION BY flag ORDER BY d
           ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)) AS vals,
         COUNT(*) OVER (
           PARTITION BY flag ORDER BY d
           ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS n
  FROM daily
)
SELECT flag, d,
  (list_reduce(list_prepend(0.0::DOUBLE,
     list_transform(list_zip(vals, range(1, 13)),
       p -> CAST(p[1] AS DOUBLE) * ((13 - p[2]) / 78.0))),
     (acc, x) -> acc + x)) AS fci_score
FROM arr
WHERE n = 12
ORDER BY flag, d
"""


@query("signal_fci_weighted", oracle=_FCI_ORACLE)
def signal_fci_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(load_table(spark, sf_dir, "lineitem"))
    w12 = Window.partitionBy("flag").orderBy("d").rowsBetween(-11, 0)
    arr = daily.select(
        "flag",
        "d",
        F.reverse(F.collect_list("rev").over(w12)).alias("vals"),
        F.count("*").over(w12).alias("n"),
    )
    return (
        arr.where(F.col("n") == 12)
        .select(
            "flag",
            "d",
            F.expr(
                "aggregate(zip_with(vals, sequence(1, 12),"
                " (v, i) -> cast(v as double)"
                " * ((13 - i) / cast(78 as double))),"
                " cast(0 as double), (acc, x) -> acc + x)"
            ).alias("fci_score"),
        )
        .orderBy("flag", "d")
    )


# --------------------------------------------------------------------------
# Matrix kernels over the nation panel (rows-only checks — no SQL oracle).
# --------------------------------------------------------------------------


def _panel_pdf_schema_runner(
    spark: SparkSession, sf_dir: str, fn, schema: str
) -> DataFrame:
    """Pivot the nation panel wide and hand ONE sorted pandas group to
    ``fn`` (the reference's Polars boundary). The groupBy(lit) is
    deliberate: the panel is months x 25 — driver-scale data by
    construction, not fact-scale."""
    panel = _monthly_by_nation(spark, sf_dir)
    wide = (
        panel.groupBy("d")
        .pivot("nation")
        .agg(F.first("rev"))
        .withColumn("__g", F.lit(1))
    )
    return wide.groupBy("__g").applyInPandas(fn, schema).drop("__g")


@query("signal_turbulence")  # rows-only: Mahalanobis has no SQL oracle
def signal_turbulence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mahalanobis turbulence (turbulence_index.py:85-177): rolling 24-month
    mean/cov/pinv distance of the month's cross-asset return vector, then
    expanding percentile -> regime buckets (the reference runs daily/252d;
    the window is in panel periods, not a semantic change)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        dates = pdf["d"]
        P = pdf.drop(columns=["d", "__g"]).ffill()
        X = P.to_numpy(dtype=float)
        X = np.diff(X, axis=0) / np.where(X[:-1] == 0, np.nan, X[:-1])
        dates = dates.iloc[1:].reset_index(drop=True)
        win = 24
        out = []
        turb_hist: list[float] = []
        for t in range(win, X.shape[0]):
            W = X[t - win : t]
            ok = ~np.any(np.isnan(W), axis=0)
            if ok.sum() < 2 or np.any(np.isnan(X[t, ok])):
                continue
            Wok = W[:, ok]
            mu = Wok.mean(axis=0)
            cov = np.cov(Wok, rowvar=False)
            pinv = np.linalg.pinv(cov)
            dvec = X[t, ok] - mu
            turb = float(np.sqrt(max(dvec @ pinv @ dvec, 0.0)))
            pct = (
                float(np.mean([h < turb for h in turb_hist]))
                if turb_hist
                else 0.5
            )
            turb_hist.append(turb)
            regime = (
                "extreme"
                if pct >= 0.95
                else "elevated"
                if pct >= 0.75
                else "normal"
            )
            out.append((dates.iloc[t], turb, pct, regime))
        return pd.DataFrame(
            out, columns=["d", "turbulence", "turb_pct", "regime"]
        ).assign(__g=1)

    return _panel_pdf_schema_runner(
        spark,
        sf_dir,
        kernel,
        "d date, turbulence double, turb_pct double, regime string, __g int",
    ).orderBy("d")


@query("signal_absorption_ratio")  # rows-only
def signal_absorption_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA absorption ratio (absorption_ratio.py:61-157): rolling 24-month
    correlation eigenvalues; AR = share of variance absorbed by the top
    20% of eigenvectors; plus rolling z-score of AR."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        dates = pdf["d"]
        P = pdf.drop(columns=["d", "__g"]).ffill()
        X = P.to_numpy(dtype=float)
        X = np.diff(X, axis=0) / np.where(X[:-1] == 0, np.nan, X[:-1])
        dates = dates.iloc[1:].reset_index(drop=True)
        win = 24
        rows = []
        ars: list[float] = []
        for t in range(win, X.shape[0] + 1):
            W = X[t - win : t]
            keep = np.mean(np.isnan(W), axis=0) <= 0.2
            if keep.sum() < 5:
                continue
            Wk = pd.DataFrame(W[:, keep]).ffill().bfill().to_numpy()
            C = np.corrcoef(Wk, rowvar=False)
            if np.any(np.isnan(C)):
                continue
            evals = np.linalg.eigvalsh(C)[::-1]
            k = max(int(np.ceil(0.2 * len(evals))), 1)
            ar = float(evals[:k].sum() / evals.sum())
            ars.append(ar)
            hist = np.array(ars[-24:])
            z = (
                float((ar - hist.mean()) / hist.std(ddof=1))
                if len(hist) > 10 and hist.std(ddof=1) > 0
                else 0.0
            )
            d_ar = ar - ars[-2] if len(ars) > 1 else 0.0
            rows.append((dates.iloc[t - 1], ar, z, d_ar))
        return pd.DataFrame(
            rows, columns=["d", "absorption_ratio", "ar_zscore", "ar_delta"]
        ).assign(__g=1)

    return _panel_pdf_schema_runner(
        spark,
        sf_dir,
        kernel,
        "d date, absorption_ratio double, ar_zscore double,"
        " ar_delta double, __g int",
    ).orderBy("d")


@query("signal_mst_network")  # rows-only
def signal_mst_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MST network correlation (network_correlation.py:60-156): rolling
    12-month correlation -> distance sqrt(2(1-rho)) -> minimum spanning
    tree (Prim, NumPy — no graph library needed for N<=25) -> total
    length, max degree, leaf share; stepped by 1 period (the reference
    steps 5 days 'for efficiency', network_correlation.py:11,68)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        dates = pdf["d"]
        P = pdf.drop(columns=["d", "__g"]).ffill()
        X = P.to_numpy(dtype=float)
        X = np.diff(X, axis=0) / np.where(X[:-1] == 0, np.nan, X[:-1])
        dates = dates.iloc[1:].reset_index(drop=True)
        win, step = 12, 1
        rows = []
        for t in range(win, X.shape[0] + 1, step):
            W = X[t - win : t]
            ok = ~np.any(np.isnan(W), axis=0)
            if ok.sum() < 3:
                continue
            C = np.corrcoef(W[:, ok], rowvar=False)
            D = np.sqrt(np.maximum(2.0 * (1.0 - C), 0.0))
            n = D.shape[0]
            in_tree = np.zeros(n, dtype=bool)
            in_tree[0] = True
            best = D[0].copy()
            parent = np.zeros(n, dtype=int)
            deg = np.zeros(n, dtype=int)
            total = 0.0
            for _ in range(n - 1):
                best_m = np.where(in_tree, np.inf, best)
                j = int(np.argmin(best_m))
                total += float(best_m[j])
                deg[j] += 1
                deg[parent[j]] += 1
                in_tree[j] = True
                closer = D[j] < best
                best[closer] = D[j][closer]
                parent[closer] = j
            leaf_share = float((deg == 1).sum()) / n
            rows.append(
                (dates.iloc[t - 1], total, int(deg.max()), leaf_share)
            )
        return pd.DataFrame(
            rows,
            columns=["d", "mst_total_length", "mst_max_degree", "leaf_share"],
        ).assign(__g=1)

    return _panel_pdf_schema_runner(
        spark,
        sf_dir,
        kernel,
        "d date, mst_total_length double, mst_max_degree int,"
        " leaf_share double, __g int",
    ).orderBy("d")


# --------------------------------------------------------------------------
# Diffusion index (diffusion_index_signals.sql:90-110: share of components
# rising month-over-month, 3-period smoothed, threshold signal). The
# component set is the 25 supplier nations; breadth = % with positive
# MoM revenue change.
# --------------------------------------------------------------------------

_DIFFUSION_ORACLE = """
WITH monthly AS (
  SELECT n_name AS nation,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6))) AS DOUBLE) / 1e6 AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('month', CAST(l_shipdate AS DATE))
),
chg AS (
  SELECT nation, month, rev,
         rev - LAG(rev) OVER (PARTITION BY nation ORDER BY month) AS mom
  FROM monthly
),
diffusion AS (
  SELECT month,
         COUNT(mom) AS n_components,
         CAST(SUM(CASE WHEN mom > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rising,
         (CAST(SUM(CASE WHEN mom > 0 THEN 1 ELSE 0 END) AS DOUBLE)
            / NULLIF(COUNT(mom), 0)) AS diffusion_index
  FROM chg
  GROUP BY month
)
SELECT month, n_components, n_rising, diffusion_index,
  (CAST(SUM(CAST(diffusion_index AS DECIMAL(28,6))) OVER w3 AS DOUBLE)
     / COUNT(diffusion_index) OVER w3) AS diffusion_3m,
  (CASE WHEN diffusion_index >= 0.5 THEN 'expansion'
        ELSE 'contraction' END) AS breadth_signal
FROM diffusion
WHERE n_components > 0
WINDOW w3 AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY month
"""


@query("signal_diffusion_index", oracle=_DIFFUSION_ORACLE)
def signal_diffusion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = _monthly_by_nation(spark, sf_dir)
    wlag = Window.partitionBy("nation").orderBy("d")
    chg = monthly.withColumn(
        "mom", F.col("rev") - F.lag("rev").over(wlag)
    )
    diffusion = (
        chg.groupBy(F.col("d").alias("month"))
        .agg(
            F.count("mom").alias("n_components"),
            F.sum(F.when(F.col("mom") > 0, 1).otherwise(0)).alias(
                "n_rising"
            ),
        )
        .withColumn(
            "diffusion_index",
            F.col("n_rising").cast("double")
            / F.nullif(F.col("n_components").cast("double"), F.lit(0.0)),
        )
        .where(F.col("n_components") > 0)
    )
    w3 = ta.series_window("month").rowsBetween(-2, 0)
    return diffusion.select(
        "month",
        "n_components",
        "n_rising",
        "diffusion_index",
        (
            F.sum(F.col("diffusion_index").cast(DEC)).over(w3).cast("double")
            / F.count("diffusion_index").over(w3)
        ).alias("diffusion_3m"),
        F.when(F.col("diffusion_index") >= 0.5, "expansion")
        .otherwise("contraction")
        .alias("breadth_signal"),
    ).orderBy("month")
