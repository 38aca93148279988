"""DSIR: data selection via importance resampling on hashed n-grams.

Implements the DSIR estimator (Xie et al. 2023, NeurIPS —
"Data Selection for Language Models via Importance Resampling"): fit
bag-of-hashed-n-gram unigram distributions over a *target* (in-domain)
corpus and the *raw* pool, then weight every raw document by its
log importance ratio sum_g count(g) * ln(p_target(g) / p_raw(g)).
High-weight documents look like the target domain; selection keeps
them. The hashing (n-grams -> B buckets) is the method's core trick:
the feature space is FIXED-SIZE regardless of vocabulary, so the model
is broadcastable by construction at any corpus scale.

Two selection surfaces, both deterministic (documented like the other
stochastic-paper adaptations in this repo):
- ``dsir_importance_weights`` flags every document whose per-feature
  average log ratio exceeds the corpus mean of that statistic — a
  noise-free top-fraction proxy (the raw pool CONTAINS the target, so
  absolute weights skew negative and a sign test degenerates: measured
  0/500 selected at sf0.01); the mean rides the repo's decimal-exact
  aggregation so the DuckDB oracle is exact.
- ``dsir_gumbel_topk`` is the paper's ACTUAL sampling step with the
  noise pinned: a seeded Gumbel draw per document plus top-k by
  perturbed weight (the Gumbel-top-k trick = weighted sampling without
  replacement), selected through the bucket-decomposed global cumsum
  so no corpus-wide sort or global window exists in the plan. Target domain on
the driver corpus: ``lang = 'en'`` (the paper's target is "looks like
Wikipedia+books"; any declared subset works — the estimator only needs
the two empirical distributions).

Feature space: word unigrams + bigrams over ``[a-z]+`` tokens, hashed
into B = 4096 buckets via the first 32 md5 bits (the same cross-engine
hash family as the simhash tiers, text/dedup.py). Add-one smoothing on
both distributions. Each per-(doc, bucket) term is one ln of an
exactly-identical double ratio, quantized through DECIMAL(28,6) so the
sum is order-free in both engines (the lm_quality.py determinism
contract), and the final average is emitted through ROUND(x,6)+0.0.

Scale design (100 TB):
- One corpus text scan builds the cached (doc, bucket) instance frame;
  the model build and the scoring join BOTH read that cache (same
  shape as char_trigram_quality, plan precedent).
- The model is B-bounded (4096 rows) — broadcast safe BY CONSTRUCTION,
  not by data luck; totals ride a broadcast 1-row agg.
- Scoring is a broadcast join + one hash agg on doc_id: the corpus
  shuffles once, on a uniform key.

Reference counterpart: none (beyond-reference LLM-training-pipeline
operator, first-class per the build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.parity import DEC
from ..functions.ta import emit, sql_emit
from ..registry import query

_B = 4096  # hashed feature buckets (the paper's B=10k regime)

_TOKENS = "regexp_extract_all(lower(text), '[a-z]+', 0)"
_TOKENS_DUCK = "regexp_extract_all(lower(text), '[a-z]+')"

# unigrams ++ bigrams over a bound ``toks`` array. Bigrams via shifted
# slices + zip_with (the lm_quality trigram precedent): O(n), no
# per-position substring scans.
_GRAMS = (
    "concat(toks, zip_with("
    " slice(toks, 1, greatest(size(toks) - 1, 0)),"
    " slice(toks, 2, greatest(size(toks) - 1, 0)),"
    " (x, y) -> concat(x, ' ', y)))"
)
_GRAMS_DUCK = (
    "toks || list_transform("
    " list_filter(range(1, greatest(len(toks), 1)),"
    "  i -> i <= len(toks) - 1),"
    " i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])"
)

# first 32 md5 bits -> bucket id; both engines read the identical
# 8-hex-char prefix so bucket assignment is bit-identical.
_BUCKET = f"pmod(cast(conv(substr(md5(g), 1, 8), 16, 10) as bigint), {_B})"
_BUCKET_DUCK = f"('0x' || substr(md5(g), 1, 8))::UBIGINT::BIGINT % {_B}"

# per-(doc, bucket) importance term: count * ln(p_t / p_r) with
# add-one smoothing, algebraically folded into ONE ln of one exact
# double ratio (single cross-engine ln call per bucket hit). Every
# operand is EXPLICITLY double: a bare `1.0` literal parses as
# DECIMAL(2,1) in both engines but their decimal promotion/scale
# rules differ, which made the whole term evaluate in mismatched
# decimal arithmetic (measured: systematic ~1e-6 drift, not ln ulp).
_TERM = (
    f"ln(((CAST(c_t AS DOUBLE) + 1) * (n_r + {_B}))"
    f" / ((CAST(c_r AS DOUBLE) + 1) * (n_t + {_B})))"
)

# CTE prefix through ``scored`` (doc_id, n_feats, lw) — shared by the
# weight query's oracle and the Gumbel top-k resampling oracle below.
_DSIR_SCORED_CTE = f"""toked AS (
  SELECT doc_id, (lang = 'en') AS tgt, {_TOKENS_DUCK} AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, tgt, {_BUCKET_DUCK} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id, tgt, unnest({_GRAMS_DUCK}) AS g FROM toked
  )
  GROUP BY doc_id, tgt, bucket
),
model AS (
  SELECT bucket,
         CAST(SUM(cnt) AS BIGINT) AS c_r,
         CAST(SUM(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS c_t
  FROM inst GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
         CAST(SUM(c_t) AS BIGINT) AS n_t
  FROM model
),
scored AS (
  SELECT i.doc_id,
         CAST(SUM(i.cnt) AS BIGINT) AS n_feats,
         (CAST(SUM(CAST(i.cnt * {_TERM} AS DECIMAL(28,6))) AS DOUBLE)
          / SUM(i.cnt)) AS lw
  FROM inst i JOIN model m USING (bucket) CROSS JOIN tot
  GROUP BY i.doc_id
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_SCORED_CTE},
stats AS (
  SELECT CAST(SUM(CAST(lw AS DECIMAL(28,6))) AS DOUBLE) / COUNT(lw)
         AS mean_lw
  FROM scored
)
SELECT d.doc_id,
       COALESCE(s.n_feats, 0) AS n_feats,
       {sql_emit("s.lw")} AS dsir_logweight,
       ({sql_emit("s.lw")} > {sql_emit("stats.mean_lw")}) AS selected
FROM documents d
LEFT JOIN scored s ON s.doc_id = d.doc_id
CROSS JOIN stats
ORDER BY d.doc_id
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, lw): per-document DSIR average log importance
    ratio — the Spark twin of ``_DSIR_SCORED_CTE``, shared by the
    weight query and the Gumbel resampling query (the inst cache makes
    the corpus text scan happen once per session either way)."""
    # tokenize + gram explode + per-gram md5 bucketing all run before
    # the first exchange — spread the single-split scan (guide §2.5;
    # no-op at scale, see catalog.spread_scan).
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    inst = (
        d.select(
            "doc_id",
            (F.col("lang") == "en").alias("tgt"),
            F.expr(_TOKENS).alias("toks"),
        )
        .select("doc_id", "tgt", F.explode(F.expr(_GRAMS)).alias("g"))
        .select("doc_id", "tgt", F.expr(_BUCKET).alias("bucket"))
        .groupBy("doc_id", "tgt", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        # cached: the hashed-feature frame is the only corpus text scan
        # and feeds BOTH the model build and the scoring join (the
        # char_trigram_quality cache precedent; corpus-sized — at
        # 100 TB a materialized intermediate table written once).
        .cache()
    )
    model = inst.groupBy("bucket").agg(
        F.sum("cnt").alias("c_r"),
        F.sum(
            F.when(F.col("tgt"), F.col("cnt")).otherwise(F.lit(0))
        ).alias("c_t"),
    )
    tot = F.broadcast(
        model.agg(
            F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
        )
    )
    return (
        inst.join(F.broadcast(model), "bucket")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            (
                F.sum(
                    (F.col("cnt") * F.expr(_TERM)).cast(DEC)
                ).cast("double")
                / F.sum("cnt")
            ).alias("lw"),
        )
    )


@query("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document DSIR importance log-weight against the ``lang='en'``
    target distribution, with the noise-free selection flag."""
    d = load_table(spark, sf_dir, "documents")
    # r16: cached AT THIS CALL SITE — the weight query reads the scored
    # frame twice per invocation (the mean_lw stats broadcast and the
    # output join), and without the barrier the whole join+ln+agg
    # pipeline re-executed for the stats pass (measured 2.44s -> 2.06s
    # median with the cache). One narrow row per scored document — at
    # 100 TB this IS the materialized DSIR weight table the selection
    # step reads (the keep-list cache precedent). NOT cached inside
    # _scored itself: dsir_gumbel_topk's two reads are both
    # narrow/pruned and the barrier measured a 3.17s -> 4.17s
    # REGRESSION there (9-rep A/B) — the fill cost exceeds its reuse.
    scored = _scored(spark, sf_dir).cache()
    stats = F.broadcast(
        scored.agg(
            (
                F.sum(F.col("lw").cast(DEC)).cast("double")
                / F.count("lw")
            ).alias("mean_lw")
        )
    )
    lw_emit = emit(F.col("lw"))
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0).cast("long")).alias(
                "n_feats"
            ),
            lw_emit.alias("dsir_logweight"),
            (lw_emit > emit(F.col("mean_lw"))).alias("selected"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Gumbel top-k resampling — the paper's actual sampling step.
# DSIR samples WITHOUT replacement with probability ~ exp(weight); the
# Gumbel-top-k trick makes that a deterministic ORDER BY once the noise
# is pinned: adding an independent Gumbel(0,1) draw to each log-weight
# and keeping the top k IS a weighted sample (Vieira 2014; Kim et al.).
# The draw here is seeded — u = 52 md5 bits of (doc_id, salt) mapped to
# (0,1), g = -ln(-ln(u)) — so both engines sample the identical subset
# and the oracle is exact. Selection runs through the bucket-decomposed
# global cumsum (text/selection._budget_select with unit weights and a
# count budget): no corpus-wide single-task sort, no global window.
# The selection score is quantized to 4 decimals (not 6) so the bucket
# table stays <=~10^5 rows per score unit — gumbel scores span ~[-4,37],
# keeping the broadcast offsets table bounded by the GRID, not by n;
# ties on the coarser grid break by doc_id in both engines.
# --------------------------------------------------------------------------

_GUMBEL_SALT = "gumbel0"
_SAMPLE_DEN = 5  # keep n_scored // 5 documents, the paper's-shape budget

# 52 md5 bits -> exact double in (0, 1); 0.5e0/4503599627370496e0 are
# DOUBLE literals in both engines (a bare 0.5 parses as DECIMAL with
# engine-specific promotion — the _TERM lesson above).
_U_SPARK = (
    "(cast(conv(substr(md5(concat(cast(doc_id as string),"
    f" ':{_GUMBEL_SALT}')), 1, 13), 16, 10) as bigint) + 0.5e0)"
    " / 4503599627370496e0"
)
_U_DUCK = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||"
    f" ':{_GUMBEL_SALT}'), 1, 13))::UBIGINT AS BIGINT) + 0.5e0)"
    " / 4503599627370496e0"
)

_GUMBEL_ORACLE = f"""
WITH {_DSIR_SCORED_CTE},
gum AS (
  SELECT doc_id, {sql_emit("lw")} AS lw6, {_U_DUCK} AS u
  FROM scored
),
sc AS (
  SELECT doc_id,
         {sql_emit("lw6 + (-ln(-ln(u)))", 4)} AS gumbel_score
  FROM gum
),
budget AS (SELECT COUNT(*) // {_SAMPLE_DEN} AS sample_budget FROM sc),
c AS (
  SELECT doc_id, gumbel_score,
         CAST(ROW_NUMBER() OVER (
           ORDER BY gumbel_score DESC, doc_id
         ) AS BIGINT) AS pick_rank
  FROM sc
)
SELECT c.doc_id, c.gumbel_score, c.pick_rank,
       CAST(budget.sample_budget AS BIGINT) AS sample_budget
FROM c CROSS JOIN budget
WHERE c.pick_rank <= budget.sample_budget
ORDER BY c.pick_rank
"""


@query("dsir_gumbel_topk", oracle=_GUMBEL_ORACLE)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded Gumbel-top-k resample over the DSIR weights: the
    n_scored // 5 documents with the largest (log-weight + Gumbel
    noise), i.e. one deterministic epoch of the paper's importance
    resampling. Docs with no features carry no weight and are not in
    the pool (they are absent from the scored frame by construction)."""
    from .selection import _budget_select

    scored = _scored(spark, sf_dir)
    g = -F.expr("ln(-ln(u))")
    sc = (
        scored.select("doc_id", F.expr(_U_SPARK).alias("u"), "lw")
        .select(
            "doc_id",
            emit(emit(F.col("lw")) + g, 4).alias("score"),
            F.lit(1).cast("long").alias("n_tokens"),
        )
    )
    picked = _budget_select(sc, num=1, den=_SAMPLE_DEN)
    return picked.select(
        "doc_id",
        F.col("score").alias("gumbel_score"),
        F.col("cum_tokens").alias("pick_rank"),
        F.col("token_budget").alias("sample_budget"),
    ).orderBy("pick_rank")
