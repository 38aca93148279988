"""Quality classification: multinomial Naive Bayes over word n-grams.

The fastText-style linear quality filter of the GPT-3 / CCNet
lineage (Brown et al. 2020 §A.2 train a classifier between a curated
positive corpus and raw Common Crawl and keep documents the classifier
scores as curated): train a generative bag-of-n-grams model per class
and score every document by its log-odds. Multinomial NB is the
closed-form instantiation — no training iterations, one aggregation
builds the model — which is what makes the contract exactly
SQL-expressible in both engines (an SGD-trained linear model would be
rows-only; this is the same trade the char-trigram LM makes vs a real
KenLM, text/lm_quality.py).

Declared positive class on the driver corpus: documents from the
curated source allowlist (src0-src3) — the stand-in for "looks like
Wikipedia/books". Features are word unigrams + bigrams over ``[a-z]+``
tokens (shared expressions with text/dsir.py — the two operators are
the classifier and importance-resampling stages of the same selection
pipeline, trained on RAW n-grams here vs HASHED buckets there).
Add-one smoothing over the joint vocabulary; the class prior rides the
score so empty documents get exactly the prior log-odds rather than a
silent NULL. A corpus with an empty class (no curated docs, or all
curated) has no defined prior — the prior expression guards BOTH
degenerate cases explicitly (``CASE WHEN dp = 0 OR dn = 0 THEN NULL``)
so every row gets NULL log-odds, the honest "classifier undefined"
answer, in BOTH engines: without the guard the all-raw corpus (dp=0)
reaches ``ln(0.0)``, which Spark maps to NULL but DuckDB raises on —
a cross-engine divergence, not just a crash.

Determinism (the lm_quality.py contract): counts are integers; each
per-(doc, gram) term is ONE ln of an exactly-identical double ratio —
all operands explicitly double (a bare `1.0` literal is DECIMAL in
both engines with DIFFERENT promotion rules; measured drift in
text/dsir.py) — quantized through DECIMAL(28,6) so the sum is
order-free; the prior joins the sum in exact decimal; the final
log-odds is emitted through ROUND(x,6)+0.0 and the label thresholds
the emitted value.

Scale design (100 TB):
- One corpus text scan builds the cached (doc, gram) instance frame;
  model build and scoring join both read the cache.
- The model is VOCABULARY-sized, not alphabet-bounded: it is NOT
  broadcast by construction (contrast char_trigram_quality). The
  scoring join keys on the gram — both sides hash-partition on a
  uniform key. A deployment that needs a broadcastable model caps the
  vocabulary by document frequency (the standard fastText knob) or
  hashes it (which is exactly text/dsir.py).
- Scoring is one hash agg on doc_id; the corpus shuffles once.

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
from .dsir import _GRAMS, _GRAMS_DUCK, _TOKENS, _TOKENS_DUCK

#: curated-source allowlist = the positive (high-quality) training class.
_CURATED = ("src0", "src1", "src2", "src3")
_CURATED_SQL = "('src0', 'src1', 'src2', 'src3')"

# per-(doc, gram) log-likelihood-ratio term under add-one smoothing,
# folded into one ln of one exact double ratio (see module docstring).
_TERM = (
    "ln(((CAST(c_p AS DOUBLE) + 1) * (n_n + v))"
    " / ((CAST(c_n AS DOUBLE) + 1) * (n_p + v)))"
)
# class-prior log-odds, exact-double then quantized once. Guarded
# SYMMETRICALLY on both degenerate corpora: dn=0 (all curated) is a
# double div-by-zero -> NULL in both engines, but dp=0 (all raw)
# reaches ln(0.0), which DuckDB raises on ("Out of Range Error")
# while Spark returns NULL — the CASE keeps the two engines on the
# same NULL answer for BOTH empty-class cases.
_PRIOR = (
    "CAST(CASE WHEN dp = 0 OR dn = 0 THEN NULL"
    " ELSE ln(CAST(dp AS DOUBLE) / dn) END AS DECIMAL(28,6))"
)

_NB_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, (source IN {_CURATED_SQL}) AS pos, {_TOKENS_DUCK} AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, pos, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, pos, unnest({_GRAMS_DUCK}) AS g FROM toked)
  GROUP BY doc_id, pos, g
),
model AS (
  SELECT g,
         CAST(SUM(CASE WHEN pos THEN cnt ELSE 0 END) AS BIGINT) AS c_p,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE cnt END) AS BIGINT) AS c_n
  FROM inst GROUP BY g
),
stats AS (
  SELECT CAST(SUM(c_p) AS BIGINT) AS n_p,
         CAST(SUM(c_n) AS BIGINT) AS n_n,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM model
),
priors AS (
  SELECT CAST(SUM(CASE WHEN source IN {_CURATED_SQL} THEN 1 ELSE 0 END)
              AS BIGINT) AS dp,
         CAST(SUM(CASE WHEN source IN {_CURATED_SQL} THEN 0 ELSE 1 END)
              AS BIGINT) AS dn
  FROM documents
),
scored AS (
  SELECT i.doc_id,
         CAST(SUM(i.cnt) AS BIGINT) AS n_grams,
         SUM(CAST(i.cnt * {_TERM} AS DECIMAL(28,6))) AS s
  FROM inst i JOIN model m USING (g) CROSS JOIN stats
  GROUP BY i.doc_id
)
SELECT d.doc_id,
       (d.source IN {_CURATED_SQL}) AS is_curated,
       COALESCE(s.n_grams, 0) AS n_grams,
       {sql_emit("CAST(" + _PRIOR + " + COALESCE(s.s, 0) AS DOUBLE)")}
         AS nb_logodds,
       (CASE WHEN
          {sql_emit("CAST(" + _PRIOR + " + COALESCE(s.s, 0) AS DOUBLE)")}
          > 0.0 THEN 'keep' ELSE 'drop' END) AS nb_label
FROM documents d
LEFT JOIN scored s ON s.doc_id = d.doc_id
CROSS JOIN priors
ORDER BY d.doc_id
"""


@query("nb_quality_classifier", oracle=_NB_ORACLE)
def nb_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document NB quality log-odds against the curated-source
    positive class, with the keep/drop label."""
    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin(*_CURATED)
    # tokenize + gram explode run before the first exchange — spread
    # the single-split scan (guide §2.5; no-op at scale, see
    # catalog.spread_scan). The `d` used for priors/output columns
    # stays unspread: those are cheap column reads.
    inst = (
        spread_scan(d, "doc_id").select(
            "doc_id", pos.alias("pos"), F.expr(_TOKENS).alias("toks")
        )
        .select("doc_id", "pos", F.explode(F.expr(_GRAMS)).alias("g"))
        .groupBy("doc_id", "pos", "g")
        .agg(F.count("*").cast("long").alias("cnt"))
        # cached: the only corpus text scan; feeds the model build AND
        # the scoring join (char_trigram_quality precedent).
        .cache()
    )
    # r16 (the r9 fan-out-cache precedent): the model feeds BOTH the
    # vocabulary-total stats aggregate and the scoring join — uncached,
    # the whole inst->model aggregation pipeline executed twice per
    # invocation (two hashpartitioning(g) exchanges in the before-plan).
    # Bench-neutral at sf0.1 (A/B/A wash — 962 grams make the duplicate
    # pass cheap) and adopted for the scale shape: at a real vocabulary
    # the second pass is a full read of the gram-instance table. Kept on
    # its natural shuffle partitioning (NOT repartition(1)): the model
    # is vocabulary-sized by construction, not dimension-sized.
    model = (
        inst.groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("pos"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("c_p"),
            F.sum(
                F.when(F.col("pos"), F.lit(0)).otherwise(F.col("cnt"))
            ).alias("c_n"),
        )
        .cache()
    )
    stats = F.broadcast(
        model.agg(
            F.sum("c_p").alias("n_p"),
            F.sum("c_n").alias("n_n"),
            F.count("*").cast("long").alias("v"),
        )
    )
    priors = F.broadcast(
        d.agg(
            F.sum(pos.cast("long")).alias("dp"),
            F.sum((~pos).cast("long")).alias("dn"),
        )
    )
    # vocabulary-sized model: a plain shuffle join, NOT broadcast by
    # construction (module docstring) — Catalyst may still broadcast
    # it at driver scale, which is fine.
    scored = (
        inst.join(model, "g")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum((F.col("cnt") * F.expr(_TERM)).cast(DEC)).alias("s"),
        )
    )
    logodds = emit(
        F.expr(
            f"CAST({_PRIOR} + COALESCE(s, 0) AS DOUBLE)"
        )
    )
    return (
        d.select("doc_id", pos.alias("is_curated"))
        .join(scored, "doc_id", "left")
        .crossJoin(priors)
        .select(
            "doc_id",
            "is_curated",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias(
                "n_grams"
            ),
            logodds.alias("nb_logodds"),
            F.when(logodds > F.lit(0.0), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("nb_label"),
        )
        .orderBy("doc_id")
    )
