"""Training-data selection operators: source-mixture reweighting and
quality-ordered token-budget selection.

A pre-training pipeline does not feed the raw corpus to the trainer; it
picks a *mixture* (how many tokens from each source, usually
temperature-flattened so giant crawl sources don't drown curated ones)
and a *budget cut* (keep the highest-quality documents until the token
budget is spent). The reference's analogue is its per-source ingestion
weighting and curated release tables
(macro_agents/.../defs/releases.py release selection; dbt marts choosing
which staging rows survive to the mart layer); these two operators are
the corpus-scale generalization.

Scale design:
- ``corpus_mixture_weights`` aggregates the corpus once by ``source``
  (one shuffle on a low-cardinality uniform key); the normalization
  window runs over the per-source table, whose row count is the number
  of *sources* (thousands at most), so the single-partition window
  exchange moves a dimension-sized table, never corpus rows.
- ``corpus_budget_selection`` needs a GLOBAL running token total in
  quality order — the naive plan (one window over the whole corpus
  ordered by score) serializes 100 TB through one task. Instead the
  score is quantized to 6 decimals, which bounds the distinct-score
  table at ~10^6 rows REGARDLESS of corpus size, and the cumulative sum
  decomposes into (a) a cumulative over the tiny bucket table and (b) a
  per-bucket window partitioned by score — fully parallel. The DuckDB
  oracle states the naive global-window semantics; the bucket
  decomposition reproduces it exactly because ordering by
  (quantized score DESC, doc_id) is the same total order.

Determinism: token counts are integers; the temperature weight uses
sqrt (alpha = 0.5), which IEEE-754 defines as correctly rounded in both
engines (unlike pow, whose libm implementations may drift); the only
order-dependent float reduction is the sum of per-source sqrt values
over the sources table, absorbed by the 6-decimal emission rounding.
The budget is integer arithmetic end-to-end (``total * 3 div 5``), so
no float ever decides a row's membership at the budget boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.ta import emit, series_window, sql_emit
from ..registry import query
from .sampling import _hex_threshold

_TOKENS = "regexp_extract_all(lower(text), '[a-z]+', 0)"
_TOKENS_DUCK = "regexp_extract_all(lower(text), '[a-z]+')"

# Temperature alpha = 0.5 (weight ~ tokens^0.5): implemented as sqrt so
# both engines produce the correctly-rounded IEEE result (pow(x, 0.5)
# is NOT guaranteed correctly rounded by either libm).
_BUDGET_NUM = 3  # budget = 3/5 of total corpus tokens, in integers
_BUDGET_DEN = 5


# --------------------------------------------------------------------------
# Source-mixture reweighting (temperature sampling weights).
# --------------------------------------------------------------------------

_MIXTURE_ORACLE = f"""
WITH per_doc AS (
  SELECT source, len({_TOKENS_DUCK}) AS n_tokens FROM documents
),
per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, src_tokens,
  {sql_emit("src_tokens * 1.0 / SUM(src_tokens) OVER ()")} AS token_share,
  {sql_emit("sqrt(src_tokens) / SUM(sqrt(src_tokens)) OVER ()")}
    AS mixture_weight,
  {sql_emit(
      "(sqrt(src_tokens) / SUM(sqrt(src_tokens)) OVER ())"
      " / (src_tokens * 1.0 / SUM(src_tokens) OVER ())"
  )} AS sampling_factor,
  {sql_emit(
      "(sqrt(src_tokens) / SUM(sqrt(src_tokens)) OVER ())"
      " * SUM(src_tokens) OVER ()", 3
  )} AS expected_tokens
FROM per_src
ORDER BY source
"""


@query("corpus_mixture_weights", oracle=_MIXTURE_ORACLE)
def corpus_mixture_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source temperature-sampling weights: weight_s ~ sqrt(tokens_s),
    normalized; ``sampling_factor`` is the up/down-sampling multiplier vs
    natural frequency; ``expected_tokens`` the per-source token draw for
    one epoch of the reweighted mixture. One corpus shuffle (groupBy
    source); the normalization window moves only the per-source table."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.select(
        "source", F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens")
    ).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("src_tokens"),
    )
    # Explicit single-partition spec (series_window): the per-source
    # table is dimension-sized, so the exchange is cheap at any corpus
    # scale (cardinality(source) rows, not corpus rows).
    w = series_window("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("src_tokens").over(w)
    tot_sqrt = F.sum(F.sqrt("src_tokens")).over(w)
    share = F.col("src_tokens") / tot
    weight = F.sqrt("src_tokens") / tot_sqrt
    return per_src.select(
        "source",
        "n_docs",
        "src_tokens",
        emit(share).alias("token_share"),
        emit(weight).alias("mixture_weight"),
        emit(weight / share).alias("sampling_factor"),
        emit(weight * tot, 3).alias("expected_tokens"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Quality-ordered token-budget selection.
# --------------------------------------------------------------------------

_SCORE_DUCK = (
    f"(CASE WHEN len({_TOKENS_DUCK}) > 0 THEN "
    + sql_emit(
        f"len(list_distinct({_TOKENS_DUCK})) * 1.0 / len({_TOKENS_DUCK})"
    )
    + " ELSE 0.0 END)"
)

_BUDGET_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         {_SCORE_DUCK} AS score
  FROM documents
),
tot AS (
  SELECT (SUM(n_tokens) * {_BUDGET_NUM}) // {_BUDGET_DEN} AS token_budget
  FROM s
),
c AS (
  SELECT doc_id, score, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum_tokens
  FROM s
)
SELECT c.doc_id, c.score, c.n_tokens, c.cum_tokens,
       CAST(tot.token_budget AS BIGINT) AS token_budget
FROM c, tot
WHERE c.cum_tokens <= tot.token_budget
ORDER BY c.score DESC, c.doc_id
"""


@query("corpus_budget_selection", oracle=_BUDGET_ORACLE)
def corpus_budget_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep the highest-quality documents until 3/5 of the corpus token
    total is spent (quality = distinct-token ratio, the standard cheap
    lexical-diversity score). The global running total decomposes into
    a cumulative over the quantized-score bucket table (bounded at ~1e6
    rows by the 6-decimal quantization, never corpus-sized) plus a
    per-bucket parallel window — no corpus-wide single-task sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr(_TOKENS).alias("toks")
    )
    scored = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.when(
            F.size("toks") > 0,
            emit(
                F.size(F.array_distinct("toks"))
                * F.lit(1.0)
                / F.size("toks")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return _budget_select(scored)


def _budget_select(
    scored: DataFrame,
    num: int = _BUDGET_NUM,
    den: int = _BUDGET_DEN,
) -> DataFrame:
    """The bucket-decomposed global-cumsum core, factored out of
    ``corpus_budget_selection`` so the Hypothesis property test
    (tests/test_selection.py) can drive the EXACT production plan with
    adversarial score/token distributions — quantized-score ties,
    zero-token docs, budget landing exactly on a row boundary — and
    assert equality with the naive global-window semantics the DuckDB
    oracle states. ``scored`` = (doc_id, n_tokens long, score
    CALLER-QUANTIZED onto a fixed decimal grid with a bounded span —
    corpus_budget_selection feeds 6dp scores in [0, 1],
    dsir_gumbel_topk feeds 4dp Gumbel keys spanning a few tens of
    units — so the distinct-score bucket table stays bounded at
    ~(span · 10^dp) rows regardless of corpus size); the kept budget
    is ``floor(total_tokens · num / den)`` and rows come back in
    (score DESC, doc_id) order.

    ``scored`` is consumed TWICE in one plan — the bucket aggregate
    and the probe side of the broadcast join — so it is cached here
    (r9): uncached, the tokenize+score projection re-scans the corpus
    once per consumer (the same double-scan shape the trigram cache
    fixed in r8; plan-gated in tests/test_plans.py). The cached frame
    is narrow (three numeric columns), tiny next to the text column it
    derives from; at 100 TB it is a materialized scoring table written
    once and read twice."""
    scored = scored.cache()
    # Bucket table: one row per distinct quantized score. Every caller
    # quantizes onto a fixed decimal grid over a bounded span (see
    # docstring), so the table is bounded by the grid — ~1e6 rows for
    # the 6dp [0,1] budget scores, ~4e5 for the 4dp Gumbel keys —
    # never by corpus size. The constant partition spec makes the
    # single-partition exchange explicit; it moves the bucket table,
    # never the corpus.
    buckets = scored.groupBy("score").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = series_window(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = series_window("score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = buckets.select(
        "score",
        (
            F.sum("bucket_tokens").over(wb) - F.col("bucket_tokens")
        ).alias("tokens_before_bucket"),
        (F.sum("bucket_tokens").over(wall) * num).alias("_tot_num"),
    ).select(
        "score",
        "tokens_before_bucket",
        # integer division end-to-end: no float ever decides membership
        # at the budget boundary (total*num stays in bigint range —
        # 100 TB of text is ~2.5e13 tokens, and every caller's num is a
        # single digit, far below 2^63)
        F.expr(f"_tot_num div {den}").alias("token_budget"),
    )
    ww = Window.partitionBy("score").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = scored.join(F.broadcast(offsets), "score")
    return (
        joined.select(
            "doc_id",
            "score",
            "n_tokens",
            (
                F.col("tokens_before_bucket")
                + F.sum("n_tokens").over(ww)
            ).alias("cum_tokens"),
            "token_budget",
        )
        .where(F.col("cum_tokens") <= F.col("token_budget"))
        .orderBy(F.desc("score"), "doc_id")
    )


# --------------------------------------------------------------------------
# Deterministic corpus shuffle order (training-order assignment).
# A trainer must read the corpus in a shuffled order that is REPRODUCIBLE
# across reruns and independent of file/partition layout — rand() is
# neither. The standard idiom: order by a keyed hash. The global sort is
# decomposed the scale-correct way: shard = first hash byte (256 uniform
# shards), position within shard via a PARTITIONED window — the training
# order is (shard, pos_in_shard) lexicographic, and a reader streams
# shards in name order. One corpus shuffle (by shard), no global
# single-task sort. Changing the epoch salt reshuffles deterministically.
# --------------------------------------------------------------------------

_SHUFFLE_SALT = "epoch0"


_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id, source,
         md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}')
           AS shuffle_key
  FROM documents
)
SELECT doc_id, source, shuffle_key,
       substr(shuffle_key, 1, 2) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY substr(shuffle_key, 1, 2)
         ORDER BY shuffle_key, doc_id
       ) AS BIGINT) AS pos_in_shard
FROM h
ORDER BY shard, pos_in_shard
"""


@query("corpus_shuffle_order", oracle=_SHUFFLE_ORACLE)
def corpus_shuffle_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(f":{_SHUFFLE_SALT}"),
            )
        ).alias("shuffle_key"),
    ).withColumn("shard", F.substring("shuffle_key", 1, 2))
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        hashed.withColumn(
            "pos_in_shard", F.row_number().over(w).cast("long")
        )
        .orderBy("shard", "pos_in_shard")
    )


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split.
# A random per-document split leaks: near-duplicate documents land in
# different splits and the eval set scores memorization, not
# generalization. The safe unit of assignment is the NEAR-DUP CLUSTER —
# every document hashes on its cluster canonical id (singletons on
# their own id), so a whole cluster always lands in one split. The
# gate is the same layout-independent md5-prefix threshold idiom as
# stratified sampling (membership is a pure function of the canonical,
# reproducible on any cluster layout).
#
# 100 TB shape: components come from the banded minhash pairs
# (text/dedup.py — candidate cost scales with the dup rate), the
# canonical joins back over the cluster-membership table (tiny relative
# to the corpus: only docs that HAVE a near-dup), and the gate itself
# is map-only. Split fractions: train 0.8 / val 0.1 / test 0.1.
# --------------------------------------------------------------------------

# upper cumulative bounds of each named split on the md5-prefix gate;
# thresholds derive from the SAME helper as stratified sampling so the
# gate resolution changes in one place
_SPLITS = [("train", 0.8), ("val", 0.9)]
_TRAIN_HI = _hex_threshold(_SPLITS[0][1])  # 'cccc'
_VAL_HI = _hex_threshold(_SPLITS[1][1])  # 'e666'


def _split_case(hash_expr: str) -> str:
    return (
        f"(CASE WHEN {hash_expr} < '{_TRAIN_HI}' THEN 'train'"
        f" WHEN {hash_expr} < '{_VAL_HI}' THEN 'val'"
        f" ELSE 'test' END)"
    )


def _leakage_oracle() -> str:
    from .dedup import _COMPONENTS_CTE

    h = (
        "substr(md5(CAST(COALESCE(c.component_id, d.doc_id)"
        " AS VARCHAR)), 1, 4)"
    )
    return f"""{_COMPONENTS_CTE}
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS canonical_id,
       (c.doc_id IS NOT NULL) AS in_cluster,
       {_split_case(h)} AS split
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@query("leakage_safe_split", oracle=_leakage_oracle())
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import connected_components, minhash_pairs

    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    joined = d.join(
        comp.select(
            F.col("doc_id").alias("c_doc_id"), "component_id"
        ),
        d.doc_id == F.col("c_doc_id"),
        "left",
    )
    canonical = F.coalesce("component_id", "doc_id")
    h = F.substring(F.md5(canonical.cast("string")), 1, 4)
    split = (
        F.when(h < _TRAIN_HI, "train")
        .when(h < _VAL_HI, "val")
        .otherwise("test")
    )
    return joined.select(
        "doc_id",
        canonical.alias("canonical_id"),
        F.col("c_doc_id").isNotNull().alias("in_cluster"),
        split.alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Training manifest: the END PRODUCT of the whole preprocessing
# pipeline, as one relation — for every SURVIVING document (passes all
# screens, canonical in its exact-dup cluster, not a near-dup drop):
# its leakage-safe split, its deterministic shuffle position, and its
# context-window bin. This is the table a trainer's data loader
# actually reads; every upstream operator (fused verdict, exact/LSH
# dedup, cluster-keyed split, sharded shuffle, bin packing) feeds it.
#
# Bin packing here runs WITHIN (split, shuffle-shard) in shuffle
# order — the training-time layout — so bins never mix splits and a
# loader streams (split, shard) partitions independently. One
# partitioned window over the kept set; the heavy lifting happened in
# the upstream operators this composes.
# --------------------------------------------------------------------------


def _manifest_oracle() -> str:
    from .dedup import _COMPONENTS_CTE
    from .screening import BIN_CAPACITY, _keep_list_oracle

    # CTE subqueries carry their own WITH blocks (incl. RECURSIVE);
    # inner names are scoped to each subquery, so no collisions.
    split_h = (
        "substr(md5(CAST(COALESCE(c.component_id, d.doc_id)"
        " AS VARCHAR)), 1, 4)"
    )
    return f"""
WITH keep AS ({_keep_list_oracle()}),
spl AS (
  {_COMPONENTS_CTE}
  SELECT d.doc_id,
         {_split_case(split_h)} AS split
  FROM documents d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
),
ord_k AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}'),
                1, 2) AS shard,
         md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}')
           AS shuffle_key
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
),
kept AS (
  SELECT k.doc_id, spl.split, ord_k.shard, ord_k.shuffle_key,
         tok.n_tokens
  FROM keep k
  JOIN spl ON spl.doc_id = k.doc_id
  JOIN ord_k ON ord_k.doc_id = k.doc_id
  JOIN tok ON tok.doc_id = k.doc_id
  WHERE k.keep
)
SELECT doc_id, split, shard, n_tokens,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS pos_in_shard,
       CAST((SUM(n_tokens) OVER (w ROWS UNBOUNDED PRECEDING)
             - n_tokens) AS BIGINT) AS start_offset,
       CAST((SUM(n_tokens) OVER (w ROWS UNBOUNDED PRECEDING)
             - n_tokens) // {BIN_CAPACITY} AS BIGINT) AS bin_id
FROM kept
WINDOW w AS (PARTITION BY split, shard
             ORDER BY shuffle_key, doc_id)
ORDER BY split, shard, pos_in_shard
"""


@query("corpus_training_manifest", oracle=_manifest_oracle())
def corpus_training_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training manifest of the kept documents: (doc_id, split, shard,
    n_tokens, pos_in_shard, start_offset, bin_id).

    Output order: (split, shard, shuffle_key, doc_id) — equivalently
    (split, shard, pos_in_shard), since pos_in_shard is the rank under
    those keys. The plan produces it as one local sort over
    RangePartitioning(split, shard), with no global sort
    (plan-gated in tests/test_plans.py)."""
    from .screening import bin_id_expr, keep_list_frame

    # The keep decision is CACHED (narrow: doc_id + flags) before the
    # filter. Filtering the raw frame on `keep` looks free but is a
    # Catalyst trap: predicate pushdown substitutes the column's
    # DEFINING EXPRESSION through the projection chain, inlining the
    # whole fused 4-screen expression tree (token regexp, shingle
    # transform, run-length fold) into the pushed filter — each screen
    # reference re-derives `toks` from raw text, and the projection
    # computes it all again. Measured on the longdoc lane: 50 s vs
    # 1.4 s for the same rows (the lane caught it, r9). The cache is a
    # materialization barrier: the filter evaluates stored booleans.
    # At 100 TB the keep list is a materialized decision table anyway.
    # Plan-gated: tests/test_plans.py asserts no screen expression
    # ever appears inside a Filter in the manifest plan.
    # the cached decision table carries n_tokens alongside the verdict,
    # FUSED into the screen scan (keep_list_frame(with_n_tokens=True) —
    # the screens compute the token array anyway): one pass over the
    # text column fills the whole cache. (At 100 TB the keep list IS
    # this table — doc_id, verdict, length — written once by the
    # screening job.)
    keep = (
        keep_list_frame(spark, sf_dir, with_n_tokens=True)
        .select("doc_id", "keep", "n_tokens")
        .cache()
        .where(F.col("keep"))
        .select("doc_id", "n_tokens")
    )
    spl = leakage_safe_split(spark, sf_dir).select("doc_id", "split")
    # shard / shuffle_key are pure functions of doc_id (the
    # corpus_shuffle_order definition) — computed inline on the kept
    # rows rather than joining a third full scan of `documents`
    shuffle_key = F.md5(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(f":{_SHUFFLE_SALT}")
        )
    )
    kept = keep.join(spl, "doc_id").select(
        "doc_id",
        "n_tokens",
        "split",
        shuffle_key.alias("shuffle_key"),
    ).withColumn("shard", F.substring("shuffle_key", 1, 2))
    # r16 (guide §2.4, VERDICT r15 #5): the pack window and the output
    # ORDER BY used to each pay their own exchange+sort — Exchange
    # hashpartitioning(split, shard) + window sort, then Exchange
    # rangepartitioning(split, shard, pos_in_shard) + global sort. One
    # RANGE exchange serves both: RangePartitioning(split, shard)
    # satisfies the window's ClusteredDistribution (equal keys land in
    # one partition), the window's local sort (split, shard,
    # shuffle_key, doc_id) IS the output order — pos_in_shard is by
    # construction the rank under exactly those keys — so the sorted
    # range partitions need no further exchange. Row order is
    # bit-identical to the previous orderBy.
    arranged = kept.repartitionByRange("split", "shard")
    w = Window.partitionBy("split", "shard").orderBy(
        "shuffle_key", "doc_id"
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    start = F.sum("n_tokens").over(wsum) - F.col("n_tokens")
    return (
        arranged.select(
            "doc_id",
            "split",
            "shard",
            "n_tokens",
            F.row_number().over(w).cast("long").alias("pos_in_shard"),
            start.cast("long").alias("start_offset"),
        )
        # shared integer-`div` bin helper (see screening.bin_id_expr
        # for the 2^53 float hazard it guards against)
        .withColumn("bin_id", bin_id_expr("start_offset"))
    )
