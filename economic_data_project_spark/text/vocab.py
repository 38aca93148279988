"""Corpus vocabulary statistics: top-term census and bigram PMI
collocations — the precursor passes of tokenizer training and phrase
detection.

Before training a BPE/unigram tokenizer over a corpus you run exactly
these two jobs: a term census (collection frequency + document
frequency for the candidate vocabulary) and an association pass
(PMI-ranked bigrams — the word2vec-style phrase detector that decides
"new york" is one unit). Both are textbook two-level aggregations that
Spark executes as map-side-combined hash aggs.

Scale design:
- ``vocab_top_terms``: explode tokens → one hash agg keyed by term
  (uniform key, map-side partials collapse the per-partition repeats)
  → distributed top-k via TakeOrderedAndProject. cf (collection
  frequency) and df (document frequency) come from the same pre-agg:
  per-(doc, term) counts first, so df is a COUNT and cf a SUM over a
  frame that is already deduped per document — one extra exchange,
  no count-distinct expand over the corpus.
- ``bigram_pmi_collocations``: positional bigrams explode → bigram
  hash agg. The unigram marginals are vocabulary-sized, not
  corpus-sized — but a vocabulary can still be tens of millions of
  terms, so both marginal joins stay plain shuffled equi-joins on the
  (uniform) term key rather than assuming broadcastability. PMI uses
  ln(cf_xy * N / (cf_x * cf_y)) over INTEGER counts; ln is not
  guaranteed identically rounded across libm implementations, so the
  emitted score goes through the repo's ROUND(x, 6) + 0.0 discipline.

Determinism: counts are integers; the only float is the final ln,
absorbed by emission rounding; ordering ties break on the bigram text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ta import emit, sql_emit
from ..registry import query

_TOKENS = "regexp_extract_all(lower(text), '[a-z]+', 0)"
_TOKENS_DUCK = "regexp_extract_all(lower(text), '[a-z]+')"

_TOP_TERMS = 50
_MIN_BIGRAM_COUNT = 5
_TOP_BIGRAMS = 50


# --------------------------------------------------------------------------
# Vocabulary census: top terms by collection frequency, with document
# frequency from the same pre-aggregated frame.
# --------------------------------------------------------------------------

_VOCAB_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents
),
per_doc_term AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per_doc GROUP BY doc_id, term
),
census AS (
  SELECT term,
         CAST(SUM(cnt) AS BIGINT) AS cf,
         CAST(COUNT(*) AS BIGINT) AS df
  FROM per_doc_term GROUP BY term
)
SELECT term, cf, df
FROM census
ORDER BY cf DESC, term
LIMIT {_TOP_TERMS}
"""


@query("vocab_top_terms", oracle=_VOCAB_ORACLE)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (r15): a spread_scan here measured a REGRESSION in the
    # 9-rep alternating in-process A/B (plain 0.71-0.84x of spread
    # across the three vocab queries — the explode multiplies rows
    # into the agg exchange regardless, so pre-spreading raw text
    # only adds an exchange). Reverted.
    d = load_table(spark, sf_dir, "documents")
    per_doc_term = (
        d.select("doc_id", F.explode(F.expr(_TOKENS)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    census = per_doc_term.groupBy("term").agg(
        F.sum("cnt").alias("cf"),
        F.count("*").cast("long").alias("df"),
    )
    # orderBy(...).limit(k) plans TakeOrderedAndProject: per-partition
    # k-heaps, only k rows per partition reach the driver-side merge
    return census.orderBy(F.desc("cf"), "term").limit(_TOP_TERMS)


# --------------------------------------------------------------------------
# Bigram PMI collocations (phrase-detection pass).
# PMI(x, y) = ln( c(xy) * N_bigrams / (c(x)_left * c(y)_right) ) over
# positional bigram counts; unigram marginals are counted in the SAME
# positional universe (left word of any bigram / right word of any
# bigram) so the probabilities normalize over one sample space.
# --------------------------------------------------------------------------

_BIGRAM_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])))
           AS b
  FROM toks
  WHERE len(toks) >= 2
),
bigrams AS (
  SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM bg WHERE b.w2 IS NOT NULL GROUP BY b.w1, b.w2
),
tot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM bigrams),
left_m AS (
  SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM bigrams GROUP BY w1
),
right_m AS (
  SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM bigrams GROUP BY w2
)
"""

_PMI_ORACLE = f"""{_BIGRAM_CTE}
SELECT b.w1, b.w2, b.c_xy,
       {sql_emit(
           "ln(b.c_xy * 1.0 * tot.n / (l.c_x * 1.0 * r.c_y))"
       )} AS pmi
FROM bigrams b
JOIN left_m l USING (w1)
JOIN right_m r USING (w2)
CROSS JOIN tot
WHERE b.c_xy >= {_MIN_BIGRAM_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT {_TOP_BIGRAMS}
"""


@query("bigram_pmi_collocations", oracle=_PMI_ORACLE)
def bigram_pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # NOTE (r15): a spread_scan here measured a REGRESSION in the
    # 9-rep alternating in-process A/B (plain 0.71-0.84x of spread
    # across the three vocab queries — the explode multiplies rows
    # into the agg exchange regardless, so pre-spreading raw text
    # only adds an exchange). Reverted.
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= 2
    )
    # positional bigrams from the BOUND token array (lambda references
    # an attribute — same anti-quadratic discipline as the shinglers)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) as w1,"
                " element_at(toks, i + 1) as w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # cached (r9): the bigram census feeds FOUR consumers (left/right
    # marginals, the total, and the scored filter) — uncached each one
    # re-ran tokenize→explode→hash-agg over the corpus (4 documents
    # scans cold). The frame is the distinct-bigram census: vocabulary-
    # bounded (Heaps-sublinear in corpus size), not corpus-bounded, but
    # still potentially large — so NO repartition(1); at 100 TB this is
    # the materialized census table a phrase-detection pass writes once
    # and reads four times.
    bigrams = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .cache()
    )
    left_m = bigrams.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    right_m = bigrams.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    tot = F.broadcast(bigrams.agg(F.sum("c_xy").alias("n")))
    scored = (
        bigrams.where(F.col("c_xy") >= _MIN_BIGRAM_COUNT)
        .join(left_m, "w1")
        .join(right_m, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "c_xy",
            emit(
                F.log(
                    F.col("c_xy")
                    * 1.0
                    * F.col("n")
                    / (F.col("c_x") * 1.0 * F.col("c_y"))
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(
        _TOP_BIGRAMS
    )


# --------------------------------------------------------------------------
# Source divergence matrix: pairwise Jensen-Shannon divergence between
# per-source unigram distributions — the "how different are my domains"
# input to mixture design (corpus_mixture_weights tells you how much of
# each source; this tells you which sources are near-duplicates of each
# other at the DISTRIBUTION level and which add diversity).
#
# JS needs the union of each pair's vocabularies, but an equi-join
# yields only the intersection — the union terms are recovered in
# closed form: for q = 0, the JS term reduces to 0.5*p*ln(2), so
#   JS = Σ_shared 0.5*(p*ln(2p/(p+q)) + q*ln(2q/(p+q)))
#        + 0.5*ln(2)*(1 - Σ_shared p) + 0.5*ln(2)*(1 - Σ_shared q).
# Everything computes from the intersection join plus per-pair shared
# masses — no outer join, no per-pair vocabulary materialization.
#
# Scale: term counts are one hash agg; the pair join is keyed on the
# term (uniform); pairs = sources^2/2 rows out. Determinism: each
# float term is quantized through DECIMAL(38,12) accumulation (sums
# are then exact and order-free; scale 12 keeps the unit count inside
# int128 exactness in both engines), final JS emitted at 6 dp.
# --------------------------------------------------------------------------

_DEC_JS = "decimal(38,12)"

_JS_ORACLE = f"""
WITH inst AS (
  SELECT source, unnest({_TOKENS_DUCK}) AS term FROM documents
),
cnts AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM inst GROUP BY source, term
),
tots AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM cnts GROUP BY source
),
probs AS (
  SELECT c.source, c.term, c.cnt * 1.0 / t.n AS p
  FROM cnts c JOIN tots t USING (source)
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.p AS pa, b.p AS pb
  FROM probs a JOIN probs b
    ON a.term = b.term AND a.source < b.source
),
agg AS (
  SELECT source_a, source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(CAST(0.5 * (pa * ln(2 * pa / (pa + pb))
                              + pb * ln(2 * pb / (pa + pb)))
                       AS DECIMAL(38,12))) AS DOUBLE) AS shared_js,
         CAST(SUM(CAST(pa AS DECIMAL(38,12))) AS DOUBLE) AS mass_a,
         CAST(SUM(CAST(pb AS DECIMAL(38,12))) AS DOUBLE) AS mass_b
  FROM pairs GROUP BY source_a, source_b
)
SELECT source_a, source_b, n_shared_terms,
       {sql_emit(
           "shared_js + 0.5 * ln(2) * (1 - mass_a)"
           " + 0.5 * ln(2) * (1 - mass_b)"
       )} AS js_divergence
FROM agg
ORDER BY source_a, source_b
"""


@query("source_js_divergence", oracle=_JS_ORACLE)
def source_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # NOTE (r15): a spread_scan here measured a REGRESSION in the
    # 9-rep alternating in-process A/B (plain 0.71-0.84x of spread
    # across the three vocab queries — the explode multiplies rows
    # into the agg exchange regardless, so pre-spreading raw text
    # only adds an exchange). Reverted.
    d = load_table(spark, sf_dir, "documents")
    # cached (r9): the (source, term) count table is vocab-bounded
    # (sources x distinct terms, corpus-size-independent) but feeds
    # FOUR subtrees — the per-source totals and both sides of the
    # pair join — and uncached each re-ran the corpus explode+agg
    # (4 documents scans cold). One corpus scan materializes it.
    cnts = (
        d.select("source", F.explode(F.expr(_TOKENS)).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
        .cache()
    )
    tots = cnts.groupBy("source").agg(F.sum("cnt").alias("n"))
    probs = cnts.join(tots, "source").select(
        "source", "term", (F.col("cnt") * 1.0 / F.col("n")).alias("p")
    )
    a = probs.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("p").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("source_b"),
        F.col("term").alias("term_b"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(
        b,
        (F.col("term") == F.col("term_b"))
        & (F.col("source_a") < F.col("source_b")),
    )
    term_js = 0.5 * (
        F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + F.col("pb")
        * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_shared_terms"),
        F.sum(term_js.cast(_DEC_JS)).cast("double").alias("shared_js"),
        F.sum(F.col("pa").cast(_DEC_JS)).cast("double").alias("mass_a"),
        F.sum(F.col("pb").cast(_DEC_JS)).cast("double").alias("mass_b"),
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_shared_terms",
        emit(
            F.col("shared_js")
            + 0.5 * F.log(F.lit(2.0)) * (1 - F.col("mass_a"))
            + 0.5 * F.log(F.lit(2.0)) * (1 - F.col("mass_b"))
        ).alias("js_divergence"),
    ).orderBy("source_a", "source_b")
