"""Physical-plan quality gates — the 100 TB discipline, asserted.

Each test pins a property that must survive refactors because at scale it
is the difference between reading a column chunk and reading the table:
- filters/projections reach the parquet scan (PushedFilters / ReadSchema)
- small dims broadcast (no shuffle of the fact side)
- per-doc text operators stay shuffle-free up to their first aggregate
- whole-stage codegen covers the hot path
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from economic_data_project_spark.catalog import load_table
from economic_data_project_spark.registry import all_queries
from economic_data_project_spark.sources.warehouse import add_safety_limit

from .conftest import SF_DIR


def _plan(df, mode: str = "extended") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_staging_projection_pushes_down(spark):
    df = all_queries()["staging_projection"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_totalprice)" in plan or "GreaterThan(o_totalprice" in plan
    # column pruning: l_comment-style wide reads must not appear
    assert "o_comment" not in plan


def test_pricing_summary_prunes_columns(spark):
    df = all_queries()["pricing_summary"](spark, SF_DIR)
    plan = _plan(df, "formatted")
    read = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    # only the needed columns of 16 reach the scan
    assert "l_comment" not in read and "l_orderkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read


def test_nation_revenue_broadcasts_dims(spark):
    df = all_queries()["nation_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least


def test_snapshot_range_join_broadcasts_snapshot_dim(spark):
    df = all_queries()["snapshot_trailing_90d"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    # the fact side must NOT be exchanged before the join
    before_join = plan.split("BroadcastNestedLoopJoin")[-1]
    assert "orders.parquet" in before_join or "orders" in before_join


def test_decode_stage_is_map_only(spark):
    from economic_data_project_spark.multimodal.media import (
        attach_fake_media,
        decode_media,
    )

    docs = load_table(spark, SF_DIR, "documents")
    decoded = decode_media(attach_fake_media(docs))
    assert "Exchange" not in _plan(decoded)


def test_signal_series_windows_are_partitioned(spark):
    # Global-series windows go through ta.series_window (explicit
    # single-partition key), so WindowExec never logs 'No Partition
    # Defined' on hot paths — that warning must stay meaningful for
    # fact-scale frames that actually lost their key. Detection is on
    # windowspecdefinition's FIRST argument (a sort order there means no
    # partition keys precede it); plan lines can be truncated, so
    # bracket-group counting is not reliable.
    import re

    for name in (
        "market_volatility_signals",
        "net_liquidity_signals",
        "signal_acceleration",
        "cross_asset_divergences",
        "commodity_real_residual",
        "economic_alert_events",
        "signal_fear_greed",
        "signal_diffusion_index",
        "economic_regime_classification",
        "interesting_data_points",
    ):
        df = all_queries()[name](spark, SF_DIR)
        phys = _plan(df).split("== Physical Plan ==", 1)[1]
        for line in phys.splitlines():
            if " Window [" not in f" {line}":
                continue
            m = re.search(r"windowspecdefinition\(([^,]+),", line)
            if m:
                first = m.group(1)
                assert "ASC" not in first and "DESC" not in first, (
                    name,
                    line.strip()[:160],
                )


def test_ngram_nn_df_cap_below_candidate_join(spark):
    # The document-frequency cap (broadcast LeftAnti against the hot
    # shingle set) must sit BELOW the postings self-join: it exists to
    # bound that join's m^2 fan-out, so a refactor that applies it after
    # candidate generation (or drops it) re-opens the skew explosion.
    df = all_queries()["ngram_jaccard_nn"](spark, SF_DIR)
    plan = _plan(df)
    phys = plan.split("== Physical Plan ==", 1)[1]
    lines = phys.splitlines()
    anti = [i for i, l in enumerate(lines) if "LeftAnti" in l]
    assert anti, "df-cap anti-join missing from the plan"
    inner = [
        i
        for i, l in enumerate(lines)
        if ("Join" in l or "Join " in l)
        and "Inner" in l
        and "shingle" in l
    ]
    assert inner, "candidate self-join missing from the plan"
    # formatted tree prints children below parents: every LeftAnti must
    # be deeper than the first candidate join that consumes it
    assert min(anti) > min(inner)


def test_minhash_signature_hashes_each_shingle_once(spark):
    # The signature must be built from ONE md5 per shingle plus integer
    # permutation mixes — the per-(permutation, shingle) md5 scheme did
    # 24x the string hashing and dominated minhash cost on long docs.
    # In the plan: the hash->int conv appears, and no md5 call consumes
    # the permutation index (the old scheme's md5(concat(cast(i ...)))
    # shape). Shape-based, not count-based: when the shingle frame is
    # already cached by an earlier test, InMemoryRelation rendering
    # repeats child expressions and inflates raw substring counts.
    df = all_queries()["dedup_minhash_lsh"](spark, SF_DIR)
    plan = _plan(df).replace(" ", "")
    assert "conv(" in plan
    assert "md5(concat(cast(i" not in plan
    assert "md5(concat(cast(lambdai" not in plan  # analyzed-name form


def test_ngram_nn_constructs_without_jobs(spark):
    # The df cap is parameterized by a 1-row broadcast aggregate FOLDED
    # INTO the query plan; building the DataFrame must therefore launch
    # zero Spark jobs (an eager sh.count() here used to scan documents
    # once per invocation before the real job even started).
    sc = spark.sparkContext
    group = "ngram-nn-construct-gate"
    sc.setJobGroup(group, "plan-construction only")
    try:
        df = all_queries()["ngram_jaccard_nn"](spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        # spark.read.parquet's footer/schema listing is a 1-stage,
        # shuffle-free job and is fine; the old eager sh.count()
        # materialized the repartition exchange — a MULTI-stage job.
        info = tracker.getJobInfo(jid)
        assert info is not None and len(info.stageIds) == 1, (
            f"construction launched a shuffling job: {jid}"
        )
    # and the cap comparison reads the aggregate, not a baked-in python
    # literal: greatest(min_cap, frac * n_docs) survives into the plan
    assert "greatest" in _plan(df)


def test_spread_scan_guarded(spark):
    """spread_scan (r15) fires only on narrow-split scans: a frame
    already at >= defaultParallelism partitions is returned UNCHANGED
    (the 100 TB case — no extra exchange), while a single-row-group
    parquet scan gains exactly one REPARTITION_BY_NUM exchange that
    AQE may not coalesce, keyed on doc_id."""
    from economic_data_project_spark.catalog import spread_scan

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).repartition(n + 1)
    assert spread_scan(wide, "id") is wide  # no-op, not even a copy

    narrow = load_table(spark, SF_DIR, "documents")
    assert narrow.rdd.getNumPartitions() < n  # fixture precondition
    spread = spread_scan(narrow, "doc_id")
    assert spread.rdd.getNumPartitions() == n
    phys = _plan(spread).split("== Physical Plan ==", 1)[1]
    assert "REPARTITION_BY_NUM" in phys
    # results unchanged (it is only a repartition)
    assert spread.count() == narrow.count()


def _non_spread_exchanges(plan: str) -> int:
    """Exchange count excluding spread_scan repartitions (r15): the
    REPARTITION_BY_NUM exchange that parallelizes per-document compute
    out of a narrow-split scan task is allowed everywhere (it is a
    no-op at scale); the budgets below keep constraining REAL
    shuffles (aggregations/joins/sorts)."""
    return plan.count("Exchange") - plan.count("REPARTITION_BY_NUM")


def test_screening_ops_shuffle_budget(spark):
    # pii scan and contamination are per-document HOF work: one global
    # sort for the display ORDER BY is the only allowed exchange
    # (plus the spread_scan repartition).
    for name in ("text_pii_scan", "benchmark_contamination"):
        df = all_queries()[name](spark, SF_DIR)
        assert _non_spread_exchanges(_plan(df)) <= 1, name
    # packing shuffles once on the shard key + the display sort
    df = all_queries()["doc_token_packing"](spark, SF_DIR)
    assert _non_spread_exchanges(_plan(df)) <= 2


def test_corpus_verdict_single_scan(spark):
    # the fused verdict computes all four screens per row from one
    # shared projection: exactly one parquet scan of documents, and no
    # hash-partition exchange beyond the spread_scan repartition (the
    # only other exchange is the display ORDER BY's range partitioning)
    df = all_queries()["corpus_filter_verdict"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("hashpartitioning") == plan.count(
        "REPARTITION_BY_NUM"
    )
    assert _non_spread_exchanges(plan) <= 1


def test_text_quality_shuffle_free(spark):
    df = all_queries()["text_quality_scores"](spark, SF_DIR)
    plan = _plan(df)
    # one global sort for the display ORDER BY is allowed; nothing else
    # beyond the spread_scan repartition
    assert _non_spread_exchanges(plan) <= 1


def test_whole_stage_codegen_on_hot_path(spark):
    df = all_queries()["pricing_summary"](spark, SF_DIR)
    assert "WholeStageCodegen subtrees" in _plan(df, "codegen")


def test_search_topk_is_distributed(spark):
    # Global top-k must plan TakeOrderedAndProject (per-partition k-heaps),
    # never an unpartitioned WindowExec sorting the whole corpus in one
    # partition (VERDICT r1 item 6).
    for name in ("keyword_search_topk", "hybrid_rrf_search"):
        df = all_queries()[name](spark, SF_DIR)
        plan = _plan(df)
        phys = plan.split("== Physical Plan ==", 1)[1]
        assert "TakeOrderedAndProject" in phys, name
        # Every rank Window must consume an already-limited k-row result:
        # its direct child in the tree is the TakeOrderedAndProject, so the
        # corpus itself never feeds a Window (VERDICT r1 item 6).
        lines = phys.splitlines()
        for i, line in enumerate(lines):
            if "Window [" not in line:
                continue
            # walk the child chain; only k-row shaping ops may intervene
            for nxt in lines[i + 1 :]:
                if any(
                    op in nxt
                    for op in ("Sort [", "Project [", "Exchange", "AQEShuffleRead")
                ):
                    continue
                assert "TakeOrderedAndProject" in nxt, (
                    f"{name}: Window not fed by top-k limit:\n{line}\n{nxt}"
                )
                break


def test_signal_chain_scans_fact_once(spark):
    # The 4-layer chain fans out into indicator, spine, and benchmark
    # branches; the cached_view daily aggregate must pin the lineitem
    # scan to exactly one occurrence in the fused plan.
    df = all_queries()["signal_chain_instances"](spark, SF_DIR)
    plan = _plan(df, "formatted")
    assert plan.count("lineitem.parquet") == 1


def test_safety_limit_wraps(spark):
    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders")
    out = spark.sql(add_safety_limit("SELECT o_orderkey FROM orders", 10))
    assert out.count() == 10
    inner = spark.sql(
        add_safety_limit("SELECT o_orderkey FROM orders LIMIT 3", 10)
    )
    assert inner.count() == 3


def test_filter_pushdown_crosses_dag_model_boundaries(spark):
    # The 3-layer DAG chain must collapse into one plan with the staging
    # filter at the scan — the fusion advantage over materialized dbt.
    df = all_queries()["dag_model_chain"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_stratified_sample_map_only(spark):
    """Hash-gate sampling is a pure map over the scan: the gate (md5 +
    substring + compare) must not introduce any shuffle. One Exchange
    is allowed for the display ORDER BY only."""
    df = all_queries()["stratified_sample"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange") <= 1


def test_ivf_centroids_broadcast(spark):
    """IVF assignment/probing broadcasts the centroid table — the
    corpus must never shuffle against 16 centroid rows."""
    df = all_queries()["ann_ivf_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_join_input_exchange(spark):
    """The point of bucketing: the fact-fact join consumes the
    bucketed scans DIRECTLY — no Exchange may sit between either
    FileScan and the SortMergeJoin (the write paid that shuffle once).
    Only the post-join aggregation and the display sort may exchange.
    The scans themselves must be bucket-selected, or the catalog
    metadata silently stopped applying."""
    df = all_queries()["bucketed_colocated_join"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in phys
    assert phys.count("Exchange") == 2, phys
    assert "SelectedBucketsCount" in phys
    # children of the join print BELOW it in the tree string: no
    # Exchange line may appear after the SortMergeJoin line
    below_join = phys.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, below_join


def test_frame_sample_fanout_stays_map_side(spark):
    """The video frame fan-out is an explode over a computed count —
    payload bytes must never cross a shuffle; the display sort's range
    exchange (over the small per-frame keys) is the only one allowed,
    and the filter on media_type must reach the scan region (above the
    explode), not run post-fan-out."""
    df = all_queries()["multimodal_frame_sample"](spark, SF_DIR)
    plan = _plan(df)
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("Exchange") <= 1
    lines = phys.splitlines()
    gen = [i for i, l in enumerate(lines) if "Generate explode" in l]
    # target the MEDIA-TYPE predicate specifically (it compiles to a
    # doc_id CASE/equality at the scan) — any unrelated residual Filter
    # below the explode must not satisfy this gate
    filt = [
        i
        for i, l in enumerate(lines)
        if "Filter" in l and ("media_type" in l or "doc_id" in l)
    ]
    assert gen and filt
    # formatted tree: children print below parents — the filter must be
    # DEEPER than the explode (i.e. applied before the fan-out)
    assert min(filt) > min(gen)


def test_components_size_join_not_broadcast(spark):
    """The per-component size table must NOT carry a broadcast hint:
    component count is unbounded at corpus scale (one row per near-dup
    cluster), and the plain join on component_id is co-partitioned with
    the aggregate for free. A hint-free plan still lets AQE broadcast
    at small scale — the assert targets the HINT, which would force the
    OOM at 100 TB."""
    df = all_queries()["dedup_components"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_tfidf_term_stats_not_broadcast(spark):
    """The per-term df stats frame is vocabulary-sized and
    corpus-unbounded — the only broadcast hint allowed in the TF-IDF
    plan is the 1-row n_docs aggregate; a hint on the stats frame
    itself would OOM the driver at corpus scale. (AQE may still
    broadcast at small scale — the gate targets the forced hint.)"""
    df = all_queries()["doc_tfidf_topterms"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the n_docs hint: one ResolvedHint, directly over the
    # 1-row count aggregate, never over the term-keyed stats
    hints = [
        l for l in analyzed.splitlines() if "ResolvedHint" in l
    ]
    assert len(hints) == 1, analyzed[:2000]
    nxt = analyzed.splitlines()
    i = next(j for j, l in enumerate(nxt) if "ResolvedHint" in l)
    assert "count(1) AS n_docs" in nxt[i + 1] or "n_docs" in nxt[i + 1]


def test_connected_components_cache_hygiene(spark):
    """The label-propagation loop must free superseded generations: a
    multi-round chain graph may leave at most ONE new persistent RDD
    (the final labels) behind — edges and every intermediate generation
    are unpersisted (VERDICT r5 'What's wrong' #2: unbounded memory
    creep on deep chains)."""
    from economic_data_project_spark.text.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    # driver_max_edges=0 forces the DISTRIBUTED loop (the default would
    # route this tiny graph to driver union-find and skip the code
    # under test)
    out = connected_components(
        pairs, "doc_a", "doc_b", driver_max_edges=0
    )
    rows = {(r.doc_id, r.component_id) for r in out.collect()}
    assert rows == {
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
    }
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert len(after - before) <= 1, (
        "label-propagation left intermediate generations cached"
    )


def test_connected_components_paths_agree(spark):
    """The driver union-find fast path and the distributed
    label-propagation loop must be bit-identical — including on a
    deep chain (the propagation-round-count stressor) and on min-id
    representatives arriving from either edge side."""
    from economic_data_project_spark.text.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(20, 28)]  # 9-node chain
    pairs = spark.createDataFrame(
        chain + [(2, 1), (40, 39), (39, 41)],
        "doc_a long, doc_b long",
    )
    fast = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    loop = {
        (r.doc_id, r.component_id)
        for r in connected_components(
            pairs, "doc_a", "doc_b", driver_max_edges=0
        ).collect()
    }
    assert fast == loop
    # min-id representative, regardless of edge direction
    assert (2, 1) in fast and (41, 39) in fast and (27, 20) in fast


def test_hierarchy_rounds_release_superseded_caches(spark):
    """Pointer doubling persists each round (the round SELF-joins its
    frame); superseded rounds must be freed as soon as the successor is
    materialized — at most ONE new persistent RDD (the final pointer
    table) may remain, same discipline as connected_components."""
    from economic_data_project_spark.operators.hierarchy import (
        resolve_hierarchy,
    )

    linked = spark.createDataFrame(
        [(1, None, "u"), (2, 1, "u"), (3, 2, "u"), (4, 3, "u"),
         (5, 4, "u"), (10, None, "v")],
        "event_id long, parent_id long, user_id string",
    )
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    rows = {
        r.event_id: (r.root_id, r.depth)
        for r in resolve_hierarchy(linked).collect()
    }
    assert rows == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 5: (1, 4),
        10: (10, 0),
    }
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert len(after - before) <= 1, (
        "pointer-doubling left superseded rounds cached"
    )


def test_schema_tests_single_scan_rowlevel(spark):
    """All row-level column tests for one table compile into ONE
    aggregate pass: the orders scan appears once for the row-level
    battery (plus one scan each for the uniqueness group-by and the
    relationship anti-join child — 3 total), never once per test."""
    df = all_queries()["dq_schema_tests"](spark, SF_DIR)
    plan = _plan(df)
    phys = plan.split("== Physical Plan ==", 1)[1]
    n_orders_scans = phys.count("orders.parquet")
    n_orders_tests = 6  # not_null x3 + accepted_values x2 + positive
    assert n_orders_scans <= 4, (
        f"{n_orders_scans} orders scans for {n_orders_tests} row-level "
        "tests — the one-scan battery regressed to scan-per-test"
    )


# ---------------------------------------------------- round 7 additions


def test_quant_map_only_single_scan(spark):
    """int8 quantization is strictly per-row HOF work: one parquet scan,
    no hash exchange anywhere — the only Exchange is the display sort's
    range partitioning."""
    df = all_queries()["embedding_int8_quant"](spark, SF_DIR)
    plan = _plan(df)
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert "hashpartitioning" not in phys
    assert phys.count("Exchange") <= 1


def test_mixture_weights_one_corpus_shuffle(spark):
    """Mixture weighting shuffles the corpus exactly once (groupBy
    source); the normalization window exchanges only the per-source
    table. One scan; <= 3 exchanges total (agg + tiny window + sort)."""
    df = all_queries()["corpus_mixture_weights"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Exchange") <= 3


def test_budget_selection_never_windows_the_corpus_globally(spark):
    """The global running token total must decompose into the bucket
    table cumulative + a per-bucket window: every windowspecdefinition
    in the plan carries a partition key (the naive plan — one window
    over the whole corpus ordered by score — serializes the corpus
    through a single task), and the bucket-offset table joins back via
    broadcast (bounded at ~1e6 rows by the 6-decimal quantization)."""
    import re

    df = all_queries()["corpus_budget_selection"](spark, SF_DIR)
    plan = _plan(df)
    phys = plan.split("== Physical Plan ==", 1)[1]
    for line in phys.splitlines():
        if "windowspecdefinition" not in line:
            continue
        m = re.search(r"windowspecdefinition\(([^,]+),", line)
        if m:
            first = m.group(1)
            # a partition key, not a bare ordering column
            assert "ASC" not in first and "DESC" not in first, (
                line.strip()[:160]
            )
    assert "BroadcastHashJoin" in phys
    # two corpus passes by design (histogram pass + selection pass);
    # a third means a subtree got duplicated
    assert phys.count("Scan parquet") <= 2


def test_substring_spans_single_scan_no_self_join(spark):
    """The span census explodes the corpus ONCE (document frequency is
    a window over span, never a self-join that recomputes the explode)
    and generates no pair blowup: one scan, equi-exchanges only."""
    df = all_queries()["dedup_substring_spans"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    # +1 over the r14 budget: the spread_scan repartition (r15) that
    # parallelizes span hashing out of the single scan task
    assert phys.count("Exchange") <= 5
    # spans travel hashed, never as raw strings
    assert "md5" in phys


def test_normalized_exact_single_scan(spark):
    df = all_queries()["dedup_normalized_exact"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Exchange") <= 2  # hash window + display sort


def test_int8_ann_broadcasts_probes(spark):
    """The quantized-store ANN keeps the brute-force shape: tiny probe
    set broadcast against the corpus scan — the corpus is never
    exchanged for the scoring join."""
    df = all_queries()["ann_cosine_topk_int8"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert "BroadcastNestedLoopJoin" in phys
    assert "CartesianProduct" not in phys
    assert phys.count("Scan parquet") <= 2  # probe side + corpus side


def test_shuffle_order_is_shard_partitioned(spark):
    """Training-order assignment must never global-sort through one
    task: the position window is partitioned by shard (first hash
    byte), so the plan has a partitioned window and <= 2 exchanges
    (shard hash + display sort)."""
    import re

    df = all_queries()["corpus_shuffle_order"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Exchange") <= 2
    for line in phys.splitlines():
        if "windowspecdefinition" not in line:
            continue
        m = re.search(r"windowspecdefinition\(([^,]+),", line)
        if m:
            first = m.group(1)
            assert "ASC" not in first and "DESC" not in first, (
                line.strip()[:160]
            )


def test_incremental_dedup_probes_not_pairs(spark):
    """The incremental path must generate candidates ONLY from the
    cross-side band equi-join: no cartesian/nested-loop pair space, and
    the split scalar folds in as a broadcast 1-row aggregate (no eager
    job at construction)."""
    sc = spark.sparkContext
    group = "incr-dedup-construct-gate"
    sc.setJobGroup(group, "plan-construction only")
    try:
        df = all_queries()["dedup_incremental_minhash"](spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        assert info is not None and len(info.stageIds) == 1, (
            f"construction launched a shuffling job: {jid}"
        )
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert "CartesianProduct" not in phys
    # band-key equi-join present
    assert "band_val" in phys and "band_id" in phys


def test_column_profile_single_scan_single_expand(spark):
    """The whole per-column null/distinct/min/max battery compiles into
    ONE scan with ONE Expand feeding one aggregate — never a re-scan
    per column."""
    df = all_queries()["corpus_column_profile"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Expand") == 1
    assert phys.count("Exchange") <= 2


def test_cdc_chunking_map_only(spark):
    """CDC chunk geometry is per-document HOF work: one scan, the
    display sort, and at most one spread_scan repartition (r15: the
    O(len*K) md5 hashing must parallelize instead of serializing in a
    single narrow-split scan task; the spread is REPARTITION_BY_NUM so
    AQE cannot coalesce it away, and a no-op at scale). No OTHER hash
    exchange may appear — the operator stays per-document."""
    df = all_queries()["cdc_chunking"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Exchange") <= 2
    # every hash exchange must be the explicit spread, never an
    # aggregation/join shuffle sneaking into the map-only operator
    assert phys.count("hashpartitioning") == phys.count(
        "REPARTITION_BY_NUM"
    )


def test_vocab_topk_is_distributed(spark):
    """The census top-k must plan TakeOrderedAndProject (per-partition
    k-heaps), never sort the vocabulary through one task."""
    df = all_queries()["vocab_top_terms"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert "TakeOrderedAndProject" in phys


def test_training_manifest_composition_shape(spark):
    """The manifest composes five operators; the gate pins what must
    never appear (pair-space blowups) and what must (cache reuse of
    the shared minhash frames — without InMemory hits every consumer
    would re-run candidate generation + verification)."""
    df = all_queries()["corpus_training_manifest"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "InMemoryTableScan" in phys
    # and the keep filter must evaluate CACHED booleans, never an
    # inlined screen expression: predicate pushdown substituting the
    # fused verdict's defining expressions into the filter re-derives
    # the token/shingle arrays per screen reference (measured 36x on
    # the longdoc lane, r9 — fixed by caching the narrow keep frame)
    for line in phys.splitlines():
        if "Filter " not in line:
            continue
        assert "regexp_extract_all" not in line, line.strip()[:160]
        assert "transform(sequence" not in line, line.strip()[:160]
    # output order (the query's docstring): below the final projections
    # and the pack window, the plan ends in ONE local sort by (split,
    # shard, shuffle_key, doc_id) over RangePartitioning(split, shard) —
    # the sorted range partitions, in partition order, ARE the output
    # order, so no exchange or sort may follow them
    import re

    ops = [re.sub(r"^[\s+\-:|]*", "", ln) for ln in phys.splitlines()]
    above = ("AdaptiveSparkPlan", "Project", "Window")
    sort, exchange = [
        op for op in ops if op and not op.startswith(above)
    ][:2]
    col = r"{}#\d+L? ASC NULLS FIRST"
    keys = ", ".join(
        col.format(c) for c in ("split", "shard", "shuffle_key", "doc_id")
    )
    assert re.match(rf"Sort \[{keys}\], false", sort), sort[:200]
    assert re.match(
        rf"Exchange rangepartitioning\({col.format('split')},"
        rf" {col.format('shard')}, \d+\)",
        exchange,
    ), exchange[:200]


def test_char_trigram_cache_feeds_model_and_scoring(spark):
    """The (doc, trigram) hash-agg is the dominant corpus scan in
    char_trigram_quality and is cached to feed BOTH the model build
    and the scoring join (text/lm_quality.py). A refactor that drops
    the cache silently reverts to running the normalize->explode->agg
    pipeline twice (the r7 `weak` finding); this gate pins the reuse:
    the cached relation is scanned by at least two consumers (model
    build + scoring join; the broadcast total makes a third), and the
    only direct parquet scan left in the main plan body is the doc_id
    universe. Session caches are freed first: a MATERIALIZED
    InMemoryRelation renders its cached child twice (logical +
    physical), so the scan-count arithmetic below is only stable on
    the cold rendering — and the free exercises the rebuild path of
    the r9 cache registry along the way."""
    from economic_data_project_spark.caches import free_session_caches

    free_session_caches()
    df = all_queries()["char_trigram_quality"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("InMemoryTableScan") >= 2
    # the explode pipeline must live ONLY inside the cached relation:
    # every Generate in the plan is part of an InMemoryRelation
    # rendering, never a re-executed branch. The InMemoryRelation
    # blocks each re-print the cached child's plan, so parquet-scan
    # mentions == 1 (universe) + InMemoryRelation count.
    assert phys.count("Scan parquet") == 1 + phys.count(
        "InMemoryRelation"
    )


def test_budget_selection_scored_frame_cached_once(spark):
    """corpus_budget_selection consumes the tokenize+score projection
    twice (bucket aggregate + probe side of the broadcast join); the
    gate pins the r9 cache so a refactor can't silently bring back the
    second corpus scan. Cold-rendering arithmetic as in the trigram
    gate: caches freed first, then parquet-scan mentions ==
    InMemoryRelation count (every scan lives inside the cached
    relation's rendering; no direct corpus scan remains)."""
    from economic_data_project_spark.caches import free_session_caches

    free_session_caches()
    df = all_queries()["corpus_budget_selection"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("InMemoryTableScan") >= 2
    assert phys.count("Scan parquet") == phys.count("InMemoryRelation")


# Optimized-plan tree walk (see plans/audit.py for why the string
# rendering cannot be used to count scans).
from economic_data_project_spark.plans.audit import (  # noqa: E402
    fact_scans_outside_imr as _scans_outside_imr,
)


def test_union_fanout_queries_scan_facts_through_caches(spark):
    """The findings/alerts/series union fan-outs derive every branch
    from a DIMENSION-sized aggregate (nations x months / one row per
    month / series x date). r9 caches those aggregates: uncached, the
    cold plans re-ran the fact-table scan+agg once per branch (23
    lineitem scans in interesting_data_points, 36 orders + 24 lineitem
    in economic_alert_events, 12+12 in series_latest_aggregates) —
    free at sf0.1, that many IO passes at 100 TB. Gate: the cache is
    present and NO fact-table scan appears outside an InMemoryRelation
    subtree (every fact access goes through the cached aggregate)."""
    for name, facts in (
        ("interesting_data_points", ("lineitem",)),
        ("economic_alert_events", ("orders", "lineitem")),
        ("economic_alert_inputs", ("orders", "lineitem")),
        ("series_latest_aggregates", ("lineitem", "orders")),
        ("signal_families_spine", ("lineitem", "orders", "events")),
        ("correlation_analysis_enhanced", ("lineitem", "orders")),
        ("sector_regime_performance", ("lineitem",)),
        ("market_analysis_return", ("lineitem",)),
        ("momentum_signals", ("lineitem",)),
        ("sector_dispersion_leaders", ("lineitem",)),
        ("series_grain_coverage", ("lineitem", "orders")),
        ("ann_ivf_topk", ("embeddings",)),
        ("source_js_divergence", ("documents",)),
        ("bigram_pmi_collocations", ("documents",)),
        ("market_volatility_signals", ("lineitem",)),
        ("leading_econ_return_indicator", ("lineitem", "orders")),
    ):
        df = all_queries()[name](spark, SF_DIR)
        phys = _plan(df).split("== Physical Plan ==", 1)[1]
        assert phys.count("InMemoryRelation") > 0, name
        for fact in facts:
            assert f"{fact}.parquet" in phys, (name, fact)
            outside = _scans_outside_imr(df, fact)
            assert not outside, (name, fact, outside)
    # current_data_coverage keeps EXACTLY ONE legitimate direct pass
    # per fact (the lookback-windowed counts need the cached latest
    # dates first); the census/latest consumers read the cached stats
    df = all_queries()["current_data_coverage"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("InMemoryRelation") > 0
    for fact in ("lineitem", "orders", "events"):
        outside = _scans_outside_imr(df, fact)
        assert len(outside) <= 1, (fact, outside)


def test_single_pass_conditional_agg_queries_scan_facts_once(spark):
    """Queries whose branches are disjoint FILTERS of one fact at one
    grain are rewritten as a single conditional-aggregation pass (r9):
    net_liquidity_signals' three weekly component series (flags N/R/A)
    were three scans + three shuffles + two joins cold; now exactly ONE
    lineitem scan, no cache needed. doc_tfidf_topterms keeps exactly
    one direct documents pass — the n_docs row count (column-less,
    row-group-stats-cheap) — while the tokenize pipeline runs once
    through the cached per-(doc, term) frame."""
    phys = _plan(
        all_queries()["net_liquidity_signals"](spark, SF_DIR)
    ).split("== Physical Plan ==", 1)[1]
    assert phys.count("lineitem.parquet") == 1, phys.count(
        "lineitem.parquet"
    )

    df = all_queries()["doc_tfidf_topterms"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("InMemoryRelation") > 0
    outside = _scans_outside_imr(df, "documents")
    assert len(outside) <= 1, outside


def test_dq_schema_tests_scans_are_column_pruned(spark):
    """dq_schema_tests deliberately keeps MULTIPLE narrow scans per
    table (row-level battery / unique grain / FK anti-joins are
    structurally different tests) instead of caching fact tables —
    the right 100 TB shape ONLY while every scan stays column-pruned
    to the handful of columns its test needs. Gate: columns NO test
    references (comments, clerk, ship instructions, dates outside the
    spec) must not appear in any ReadSchema — a pruning regression
    pulls the full table schema into the battery scan. Rendering is
    widened past the default 100-char metadata truncation so absence
    is meaningful."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        phys = _plan(
            all_queries()["dq_schema_tests"](spark, SF_DIR)
        ).split("== Physical Plan ==", 1)[1]
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "ReadSchema" in phys
    for col in (
        "o_comment",
        "o_clerk",
        "o_shippriority",
        "l_comment",
        "l_shipinstruct",
        "l_shipmode",
        "l_commitdate",
        "l_receiptdate",
        "c_comment",
        "c_acctbal",
        "p_comment",
        "p_brand",
    ):
        assert col not in phys, col


def test_thread_structure_plan_is_truncated(spark):
    """r16: thread_structure's session-threading edges make every tree
    a contiguous per-user run, so root/depth ride ONE window pass over
    the single events scan (guide §8/§2.4) — no pointer-doubling
    rounds, no localCheckpoint, no self-join. The gate pins the new
    (strictly stronger) shape: exactly one parquet scan, no
    checkpointed LogicalRDD leaf, and at most three exchanges (window
    partition, group-by, output sort). The generic pointer-doubling
    resolver keeps its own coverage (tests/test_hierarchy.py and
    test_hierarchy_rounds_release_superseded_caches above)."""
    df = all_queries()["thread_structure"](spark, SF_DIR)
    phys = _plan(df).split("== Physical Plan ==", 1)[1]
    assert phys.count("Scan parquet") == 1, phys.count("Scan parquet")
    assert "ExistingRDD" not in phys and "LogicalRDD" not in phys
    assert phys.count("Exchange") <= 3, phys.count("Exchange")


@pytest.fixture(scope="module")
def registry_plan_audit(spark):
    """ONE registry-wide plan sweep shared by the three gates below
    (VERDICT r10 #4: the fact-scan and wide-column gates each rebuilt
    all 158 plans with per-query cache frees — a large share of the
    suite's wall time). plans.audit.registry_audit builds each query's
    cold plan once under lazy_builds and emits every metric."""
    from economic_data_project_spark.plans.audit import registry_audit

    return registry_audit(spark, SF_DIR)


def test_registry_audit_swept_everything(registry_plan_audit):
    """The shared sweep must cover the whole registry with zero builder
    errors — an erroring builder would silently drop out of all three
    gates below (they iterate the audit dict, not the registry)."""
    assert len(registry_plan_audit) == len(all_queries())
    errs = {
        n: a["error"] for n, a in registry_plan_audit.items() if a["error"]
    }
    assert not errs, errs


def test_registry_fact_scans_outside_caches(registry_plan_audit):
    """Registry-wide scan audit (VERDICT r9 #3): NO registered query's
    cold plan may read a fact table 3+ times outside InMemoryRelation
    subtrees — a multiple-IO-pass shape that sf0.1 hides and 100 TB
    pays in full. Counted by the optimized-plan tree walk
    (plans.audit), not string rendering. Two passes stay legal:
    many queries pair one wide pass with one narrow side-aggregate
    (bounds, totals, universe), which is often cheaper than caching a
    corpus-sized frame just to dodge a single-column rescan.

    Documented exceptions (deliberately ABOVE the bound):
    - dq_schema_tests: the row-level battery / unique-grain / FK
      anti-join checks each keep their own NARROW column-pruned scan
      (see test_dq_schema_tests_scans_are_column_pruned) — fusing them
      would force one wide scan carrying every checked column, which
      is more IO at scale, not less.
    """
    exceptions = {"dq_schema_tests": 4}
    offenders = {}
    for name, a in registry_plan_audit.items():
        bound = exceptions.get(name, 2)
        # errored builders carry no metrics — diagnosed by name in
        # test_registry_audit_swept_everything, not a KeyError here
        for fact, n in a.get("fact_scans", {}).items():
            if n > bound:
                offenders[(name, fact)] = n
    assert not offenders, offenders


def test_registry_wide_column_rescans(registry_plan_audit):
    """The 100 TB IO tripwire for the HEAVY columns: no registered
    query's cold plan may contain more than two distinct scan nodes
    reading `text` or `embedding` from a fact table — including cache
    FILLS (unlike the outside-IMR gate above, a fill pass is counted:
    it still reads the corpus once). Two is the floor for the dedup
    compositions (the fused screen/verdict pass + the shared shingle
    or signature cache fill); everything simpler is at one. Counting
    method: plans.audit.wide_scan_nodes (formatted-explain node ids,
    which dedup shared DAG references)."""
    offenders = {}
    for name, a in registry_plan_audit.items():
        for table, n in a.get("wide_scans", {}).items():
            if n > 2:
                offenders[(name, table)] = n
    assert not offenders, offenders


# Builders that legitimately run Spark jobs at CONSTRUCTION, each with
# the reason the job is load-bearing rather than an eager-probe leak.
# Everything else must build with ZERO jobs under lazy_builds — the gate
# exists to catch the next `.count()`/`.head()` probe sneaking into a
# builder (VERDICT r10 #6), which at 100 TB is an unbudgeted full pass.
_BUILD_JOB_EXEMPT = {
    # iterative localCheckpoint loops: per-round truncation IS the
    # algorithm (plan doubles without it), so rounds execute at build
    # (r16: thread_structure left this list — the session-threading
    # rewrite builds with zero jobs like any other single-pass query)
    "dedup_components": "label-propagation rounds to fixpoint",
    "leakage_safe_split": "composes dedup_components",
    "corpus_training_manifest": "composes leakage_safe_split",
    # driver-side ML fits: the model must exist to derive the output
    "doc_kmeans_clusters": "KMeans fit at build",
    "doc_topics_lda": "LDA fit at build",
    "doc_nmf_topics": "NMF/LDA fit at build",
    # censuses over the ML surfaces compose the fits above
    "doc_ml_vocab_census": "CountVectorizer/IDF fit at build",
    "doc_idf_census": "IDF fit at build (composes the memoized CV stage)",
    "doc_kmeans_census": "composes doc_kmeans_clusters",
    "doc_kmeans_assign_census": "composes the memoized KMeans fit; "
    "corpus-key agg + centroid scratch write for the DuckDB oracle",
    "doc_topics_census": "composes doc_topics_lda",
    "doc_nmf_census": "composes doc_nmf_topics",
    "signal_turbulence": "driver-side covariance fit (bounded panel)",
    "signal_absorption_ratio": "driver-side PCA fit (bounded panel)",
    "signal_mst_network": "driver-side MST build (bounded panel)",
    # bounded routing probe: 1-row agg head() picks brute vs LSH path
    "dedup_embedding_cosine": "size/dim routing probe (1-row agg)",
    "dedup_semantic_semdedup": "size-aware K probe (1-row count; "
    "fills the shared IVF corpus cache — ann_ivf_topk precedent)",
    "dedup_embedding_cosine_lsh": "dim guard probe (1-row agg)",
    "dedup_embedding_cosine_lsh_planes": "plane sizing probe (1-row agg)",
    # same pattern: K/nprobe sizing count; the probe's scan doubles as
    # the corpus cache fill (VERDICT r11 #3 — the lazy broadcast-agg
    # alternative re-ran the sizing pass at execution). Sparse-id
    # safety lives in the orderBy/limit centroid seeding, not here.
    "ann_ivf_topk": "IVF sizing count (cache fill)",
    "ann_ivf_topk_int8": "IVF sizing count (cache fill)",
    # side-effecting by design: shards/sinks written at build, the
    # returned frame reads them back (double-invoke tested)
    "bucketed_colocated_join": "writes bucketed tables at build",
    "csv_corpus_roundtrip": "writes CSV shards at build",
    "orc_corpus_roundtrip": "writes ORC shards at build",
    "jsonl_corpus_ingest": "writes JSONL shards at build",
    "jsonl_stream_ingest": "streaming drain at build",
    "stream_dedup_census": "streaming drain at build",
    "stream_neardup_census": "streaming drain at build",
}


def test_registry_builders_run_no_jobs_at_construction(
    registry_plan_audit,
):
    """Under lazy_builds(), constructing a registered query must run
    ZERO Spark jobs unless the builder is in the documented exempt set
    above — warm() fills are suppressed, catalog schema inference is
    cached (catalog._SCHEMA_CACHE) and primed by the sweep, so any job
    left is an eager probe (`.count()`, `.head()`, an un-suppressed
    fill) hiding in a builder. Membership, not counts: iteration and
    fit job counts vary with data scale."""
    offenders = {
        name: a["build_jobs"]
        for name, a in registry_plan_audit.items()
        if a["build_jobs"] > 0 and name not in _BUILD_JOB_EXEMPT
    }
    assert not offenders, offenders
    # exemptions must not rot: a builder that no longer runs jobs
    # should leave the list so the gate tightens over time. The
    # memoized ML family is excluded from the rot check only: whether
    # a given name runs its fit jobs depends on BUILD ORDER (the first
    # of the family to build pays the fit, the rest hit text/ml.py's
    # _ML_MEMO), so a zero count there is the memo working, not a
    # rotten exemption — they must still be IN the exempt set for the
    # order where they build first.
    memoized_ml = {
        "doc_kmeans_clusters",
        "doc_topics_lda",
        "doc_nmf_topics",
        "doc_ml_vocab_census",
        "doc_idf_census",
        "doc_kmeans_census",
        "doc_kmeans_assign_census",
        "doc_topics_census",
        "doc_nmf_census",
    }
    stale = {
        name
        for name in _BUILD_JOB_EXEMPT
        if name in registry_plan_audit
        and registry_plan_audit[name]["build_jobs"] == 0
        and name not in memoized_ml
    }
    assert not stale, f"exempt but job-free now: {stale}"


def test_cdc_boundary_lambda_has_no_inlined_transform(spark):
    """No whole-document array derivation may be INLINED into CDC's
    per-position filter lambda. The Catalyst trap: an alias like
    `cv = transform(cs, ascii)` referenced ONCE downstream gets
    substituted into the lambda by CollapseProject, re-running the
    full-document transform once per position — O(len^2) per document
    (21 cores pinned for 15+ minutes on the longdoc corpus when an
    r10 experiment hit it; `cs` itself survives only because the
    chunk-hash select is a second reference). A slice() whose input is
    a transform()/split() subtree is exactly that signature: the slice
    runs per position, so its input is being rebuilt per position."""
    import re

    df = all_queries()["cdc_chunking"](spark, SF_DIR)
    plan = _plan(df).replace(" ", "").replace("\n", "")
    assert "slice(cs" in plan  # positions consume the bound array
    assert not re.search(r"slice\((transform|split)\(", plan), (
        "full-document derivation inlined into the per-position lambda"
    )


# perfbench's analyst reads (perfbench/workloads.py ANALYST_READS)
_WARM_READS = [
    "ann_cosine_topk_filtered",
    "keyword_search_topk",
    "latest_order_per_customer",
    "treasury_yield_curve_spreads",
    "dedup_embedding_cosine",
]


def test_warm_repeat_compiles_nothing(spark):
    """A warm session that repeats requests it already served reuses
    every generated class. The analyst reads plus one NL->SQL question,
    collected capped at 1000 rows, run twice: the second round compiles
    nothing. With Spark's default 100-entry generated-code cache the
    first round's classes evict each other and the second round
    recompiles them (session.CODEGEN_CACHE_ENTRIES; about 55 of the
    first round's 96 compiles recur at a cap of 100).

    Each round starts with the data caches freed, as bench.py does: a
    round reading caches the previous one filled plans differently
    (materialized cache sizes change join choices), which is new code,
    not a cache miss."""
    from economic_data_project_spark.caches import free_session_caches
    from economic_data_project_spark.catalog import register_views
    from economic_data_project_spark.session import (
        CODEGEN_CACHE_ENTRIES,
        codegen_compiles,
    )
    from economic_data_project_spark.sources.nl_sql import (
        nl_to_sql,
        template_generator,
    )

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    register_views(spark, SF_DIR)
    queries = all_queries()

    def one_round():
        free_session_caches()
        spark.catalog.clearCache()
        for name in _WARM_READS:
            queries[name](spark, SF_DIR).limit(1000).collect()
        nl_to_sql(
            spark,
            "average l_extendedprice by l_returnflag in lineitem",
            ["lineitem"],
            template_generator,
            1000,
        ).collect()

    one_round()
    before = codegen_compiles(spark)
    one_round()
    assert codegen_compiles(spark) - before == 0
