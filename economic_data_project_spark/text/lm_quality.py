"""Statistical quality scoring: per-document cross-entropy under the
corpus' own character-trigram language model.

The CCNet-style quality filter: fit a cheap LM on the corpus, score
every document by how surprising it is under that model, and gate on
the score — gibberish, encoding damage, and non-language payloads sit
far above the corpus-typical cross-entropy while ordinary prose sits
near it. A char-trigram model is the classic cheap instantiation: no
training iterations, one aggregation builds it.

Two passes, both scale-honest:
1. Model build: explode normalized-text char trigrams → one hash agg.
   The model is bounded by alphabet^3 (~50k rows for [a-z0-9 ]),
   NEVER corpus-sized — so pass 2 joins it via broadcast.
2. Scoring: per-(doc, trigram) counts join the broadcast model;
   per-doc cross-entropy = Σ c_dt * -ln(c_t / N) / Σ c_dt.

Determinism: counts are integers; p = c_t/N is one exact-identical
division; ln may differ by 1 ulp across libm implementations, so each
term is quantized through the repo's DECIMAL(28,6) accumulation
(functions/parity.py) — the sum is then exact and order-free in both
engines — and the final average is emitted through ROUND(x,6)+0.0.
Documents with fewer than 3 normalized chars have no trigrams: they
surface with n_trigrams = 0 and NULL cross-entropy (no silent drop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.parity import DEC
from ..functions.ta import emit, sql_emit
from ..registry import query

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))"
_NORM_DUCK = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

# Spark-side trigrams are INTEGER ids (c1*128^2 + c2*128 + c3 over
# ascii codes), built by two zip_with passes over shifted slices of a
# bound codes array. Two reasons, both measured on the longdoc lane:
# (1) substring(ns, i, 3) per position is O(len^2) per document
# (UTF8String seeks char positions by scanning from the start) — 64s
# on 2k-token docs; (2) even O(1) element_at + string concat per
# position pays string allocation on 12M interpreted lambda evals —
# 43s. Shifted-slice zip_with over ints is pure arithmetic and the
# downstream shuffles/joins key on an INT (max id ~2.01M = 127*128^2 —
# widening the base or the gram length needs an explicit bigint cast
# first). The ORACLE keeps string
# trigrams: tg identity never reaches the output (only doc_id,
# n_trigrams, cross_entropy), and the model probabilities depend only
# on trigram equivalence classes, which the two keyings define
# identically.
_TG_IDS = (
    "zip_with(zip_with(slice(codes, 1, greatest(size(codes) - 2, 0)),"
    " slice(codes, 2, greatest(size(codes) - 2, 0)),"
    " (x, y) -> x * 128 + y),"
    " slice(codes, 3, greatest(size(codes) - 2, 0)),"
    " (xy, z) -> xy * 128 + z)"
)
_TRIGRAMS_DUCK = (
    "list_transform(list_filter(range(1, greatest(len(ns) - 1, 2)),"
    " i -> i <= len(ns) - 2), i -> substr(ns, CAST(i AS INTEGER), 3))"
)

_LM_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, {_NORM_DUCK} AS ns FROM documents
),
inst AS (
  SELECT doc_id, unnest({_TRIGRAMS_DUCK}) AS tg FROM norm
),
per_doc_tg AS (
  SELECT doc_id, tg, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM inst GROUP BY doc_id, tg
),
model AS (
  SELECT tg, CAST(SUM(cnt) AS BIGINT) AS c_t FROM per_doc_tg GROUP BY tg
),
tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM model),
scored AS (
  SELECT p.doc_id,
         CAST(SUM(p.cnt) AS BIGINT) AS n_trigrams,
         (CAST(SUM(CAST(p.cnt * -ln(m.c_t * 1.0 / tot.n)
                        AS DECIMAL(28,6))) AS DOUBLE)
          / SUM(p.cnt)) AS ce
  FROM per_doc_tg p JOIN model m USING (tg) CROSS JOIN tot
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_trigrams, 0) AS n_trigrams,
       {sql_emit("s.ce")} AS cross_entropy
FROM documents d
LEFT JOIN scored s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@query("char_trigram_quality", oracle=_LM_ORACLE)
def char_trigram_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # per-char trigram fold before the first exchange — spread the
    # single-split scan (guide §2.5; no-op at scale)
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    inst = (
        d.select(
            "doc_id",
            F.expr(_NORM).alias("ns"),
        )
        .select(
            "doc_id",
            F.expr(
                "transform(split(ns, ''), c -> ascii(c))"
            ).alias("codes"),
        )
        .select("doc_id", F.explode(F.expr(_TG_IDS)).alias("tg"))
        .groupBy("doc_id", "tg")
        .agg(F.count("*").cast("long").alias("cnt"))
        # cached: this (doc, trigram) hash-agg is the dominant corpus
        # scan and feeds BOTH the model build and the scoring join —
        # without the cache Spark re-runs the normalize→explode→agg
        # pipeline twice (plan-gated:
        # tests/test_plans.py::test_char_trigram_cache_feeds_model_and_scoring).
        # Footprint is CORPUS-SIZED (one row per distinct doc-trigram
        # pair), the largest cache entry in the repo — materially
        # bigger than the 8-rows/doc band caches whose lifetime
        # discipline it shares (one entry per sf_dir, MEMORY_AND_DISK
        # LRU, freed by a session owner's caches.free_session_caches,
        # which clears every cached frame). At 100 TB this
        # frame is a materialized intermediate TABLE written once and
        # joined twice, not an executor cache.
        .cache()
    )
    model = inst.groupBy("tg").agg(F.sum("cnt").alias("c_t"))
    tot = F.broadcast(model.agg(F.sum("c_t").alias("n")))
    # model is alphabet^3-bounded (~50k rows), corpus-size-independent:
    # broadcast is safe BY CONSTRUCTION, not by data luck
    scored = (
        inst.join(F.broadcast(model), "tg")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_trigrams"),
            (
                F.sum(
                    (
                        F.col("cnt")
                        * -F.log(F.col("c_t") * 1.0 / F.col("n"))
                    ).cast(DEC)
                ).cast("double")
                / F.sum("cnt")
            ).alias("ce"),
        )
    )
    universe = d.select("doc_id")
    return (
        universe.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0).cast("long")).alias(
                "n_trigrams"
            ),
            emit(F.col("ce")).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )
