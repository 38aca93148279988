"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is executed with a count()-style action that forces the full
plan without collecting results to the driver (what a 100 TB run would do:
write to a sink, never collect).

Since r14 every per-query value is the MEDIAN over $SPARK_GRAFT_BENCH_RUNS
(default 3) full-lane repetitions, each starting cache-cold; the artifact
stamps `n_runs` + per-rep `run_totals` so a single-run artifact
self-identifies as low-confidence and tools/bench_compare.py can refuse
to adjudicate from it (VERDICT r13: 1.4x same-gate host variance).

"Cache-cold" means the engine's data caches (session caches and the SQL
cache), not the JVM's generated-code cache. ``get_spark`` sizes that
cache to the whole registry (session.CODEGEN_CACHE_ENTRIES), so
repetitions 2 and later reuse the classes repetition 1 compiled. Since
that change, headline medians are lower for a reason unrelated to any
query: do not compare BENCH artifacts across it as a query speedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from economic_data_project_spark import registry
from economic_data_project_spark.caches import free_session_caches
from economic_data_project_spark.session import get_spark


def _isolate_lane(spark) -> None:
    """Lane boundary: drop every session-lifetime cache (registry +
    whole SQL cache) so the next lane starts cold. Without this the
    longdoc lane's timings ride on however much sf0.1 cache residency
    the headline lane left in the 8 GiB driver — which grows every
    round as more builders cache, and which made the longdoc rows
    drift monotonically r7->r9 (VERDICT r9 'What's wrong' #1). The
    lane's job is to measure the operator, not the residue."""
    free_session_caches()
    spark.catalog.clearCache()

# Headline set: one per operator family; kept stable across rounds so
# BENCH_r{N}.json is comparable round-over-round (only ever append).
HEADLINE = [
    "pricing_summary",          # scan -> hash agg battery
    "market_summary",           # multi-CTE agg + window + join
    "latest_order_per_customer",  # QUALIFY-style dedup window
    "staging_projection",       # pushdown filter/projection
    "nation_revenue",           # 5-way join w/ broadcast dims
    "rolling_stats",            # rolling window battery
    "snapshot_trailing_90d",    # range-join snapshot fan-out
    "pivot_monthly_revenue",    # pivot
    "dedup_minhash_lsh",        # shingle/LSH text dedup
    "ann_cosine_topk",          # vector similarity top-k
    "signal_fear_greed",        # percentile-rank composite signal
    "dag_model_chain",          # 3-layer model DAG, fused plan
    "technical_indicator_daily",  # 14-indicator wide battery
    "signal_chain_events",      # 4-layer chain, 12-signal state machine
    "signal_families_spine",    # 6-family full-outer composite spine
    # round 2 additions (new rows — no prior-round baseline to regress)
    "sector_indicator_sensitivity",  # 9-corr pair battery chain layer
    "thread_structure",         # pointer-doubling hierarchy resolution
    "ann_ivf_topk",             # IVF inverted-list ANN (Lloyd step)
    "dq_schema_tests",          # one-scan-per-table declarative tests
    # round 4 additions (doc_topics_lda deliberately NOT here: a 20s
    # ML model fit would swamp the query-latency total's comparability)
    "doc_token_packing",        # sharded sequence packing
    "benchmark_contamination",  # canary-shingle decontamination screen
    "text_repetition_scores",   # dup-ngram/top-token repetition filter
    # round 5 additions
    "corpus_filter_verdict",    # fused single-scan 4-screen verdict
    "corpus_keep_list",         # screens + exact + near-dup, one decision
    # round 6 additions
    "multimodal_decode_features",  # Arrow mapInPandas decode + features
    "jsonl_corpus_ingest",      # gzip-shard roundtrip + quarantine split
    # round 7 additions
    "dedup_substring_spans",    # positional k-gram span census (1 scan)
    "corpus_budget_selection",  # bucket-decomposed global token cumsum
    "embedding_int8_quant",     # map-only int8 quantization + audit
    "ann_cosine_topk_int8",     # integer-dot ANN over the int8 store
    "corpus_shuffle_order",     # deterministic sharded training order
    "dedup_incremental_minhash",  # shard-vs-index near-dup probe
    "cdc_chunking",             # content-defined chunk geometry
    "bigram_pmi_collocations",  # positional-bigram PMI census
    "corpus_training_manifest",  # end-to-end keep+split+shuffle+pack
    # round 12 additions
    "dedup_simhash64",          # 64-bit simhash scale tier (4x16 bands)
    "dedup_embedding_cosine_lsh_planes",  # forced hyperplane GEMM tier
    "ann_ivf_topk_int8",        # IVF + scalar-quantizer composed index
    "dedup_semantic_semdedup",  # within-cluster semantic dedup (SemDeDup)
    "dsir_importance_weights",  # hashed-ngram importance resampling (DSIR)
    "nb_quality_classifier",    # NB curated-vs-raw quality filter
    "dsir_gumbel_topk",         # seeded Gumbel-top-k weighted resample
]


# Long-document stress lane: the sf0.1 corpus averages ~50 tokens/doc,
# which hides quadratic-in-doc-length expression regressions (a
# re-inlined token regexp inside a shingle lambda shows up as a cliff
# here long before it would time out a real pre-training corpus).
# Timed per-op as longdoc_<name>, excluded from the headline total.
# The lane is cache-isolated (r10) but still rides box load like every
# other row: longdoc round-over-round comparisons are only valid
# between artifacts stamped trusted=true — an untrusted row is
# contention evidence, not an operator regression (VERDICT r10 #5).
LONGDOC = [
    "text_repetition_scores",
    "benchmark_contamination",
    "corpus_filter_verdict",
    "doc_fingerprint",
    "dedup_minhash_lsh",
    # round 5 additions: the remaining shingle/token-heavy dedup ops
    "ngram_jaccard_nn",
    "dedup_simhash",
    "corpus_keep_list",
    # round 7 additions: new per-token/per-char heavy text ops — the
    # lane exists to catch quadratic-in-document-length regressions
    "dedup_substring_spans",
    "cdc_chunking",
    "char_trigram_quality",
    # round 9 additions: the end-to-end compositions — the manifest is
    # the most expensive headline query and composes minhash/components
    # over documents, so the quadratic-regression tripwire must cover
    # the composition, not just its ingredients (r7/r8 brief #4)
    "leakage_safe_split",
    "corpus_training_manifest",
    # round 12 addition: the 64-bit fingerprint fold is per-token work
    # exactly like the 32-bit one the lane already watches
    "dedup_simhash64",
    # round 12 late additions: both explode unigrams+bigrams per doc —
    # linear in doc length by design, which is exactly what this lane
    # verifies (a re-inlined gram lambda would read quadratic here)
    "dsir_importance_weights",
    "nb_quality_classifier",
]
_LONGDOC_DOCS = 1000
_LONGDOC_TOKENS = 2000


def _fixture_rev(spark, longdoc_dir: str) -> str:
    """Content hash of the generated longdoc corpus (order-insensitive
    md5-of-sorted-per-doc-md5s, truncated): stamped into the JSON as
    `longdoc_fixture` so best-ever longdoc comparisons auto-restrict to
    same-fixture rows (VERDICT r11 #5 — a 0.84 s `longdoc_ngram_
    jaccard_nn` row from a degenerate pre-r6 fixture polluted ratio
    tables across three rounds of re-adjudication). A generator edit
    changes the hash; hand-bumped revision strings rot."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(longdoc_dir, "documents.parquet"))
    return (
        df.select(
            F.md5(
                F.concat_ws("|", F.col("doc_id").cast("string"), "text")
            ).alias("h")
        )
        .agg(
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("h")))
            ).alias("fh")
        )
        .head()["fh"][:12]
    )


def _gen_longdoc_dir(spark) -> str:
    """Write a deterministic synthetic corpus of ~2000-token documents:
    10% highly repetitive (period-7 token cycle -> repetition screen
    positives + one mutual near-dup cluster), consecutive pairs
    near-duplicated (docs 2k/2k+1 share a seed, ~2% of tokens differ
    -> shingle-Jaccard ~0.8, LSH verify positives), the rest sharing
    essentially no shingles across seeds."""
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="spark_graft_longdoc_")
    # Tokens are LETTERS-ONLY ('w' + digits mapped a-j): the dedup
    # tokenizer is [a-z]+, so digit-suffixed tokens like 'w123' would
    # all collapse to 'w' and every doc would degenerate to a single
    # shingle — the lane would stress tokenization but measure a
    # vacuous all-pairs collision workload instead of realistic
    # near-dup LSH (ADVICE r5; longdoc_* rows from r4/r5 are therefore
    # not comparable to r6+). The 37*i*i term makes the token sequence
    # QUADRATIC in position: a linear formula degenerates to the same
    # 499-cycle for every seed (seeds differ by a constant offset, so
    # all background docs share ~every shingle and the lane measures an
    # unrealistic all-pairs blowup); with the quadratic term the
    # consecutive-shingle differences are injective in position, so
    # distinct seeds share zero shingles.
    digit_tok = (
        "translate(cast({n} as string), '0123456789', 'abcdefghij')"
    )
    tok = (
        "CASE WHEN id % 10 = 0 THEN concat('w', "
        + digit_tok.format(n="i % 7")
        + ") ELSE concat('w', "
        + digit_tok.format(
            n="pmod(cast(id / 2 as bigint) * 7919 + i * 104729"
            " + 37 * i * i"
            " + CASE WHEN i % 50 = 0 THEN id % 2 ELSE 0 END, 499)"
        )
        + ") END"
    )
    df = (
        spark.range(_LONGDOC_DOCS)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(sequence(1, {_LONGDOC_TOKENS}), i -> {tok})"
                ),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("synthetic").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    df.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _skew_join(spark, sf_dir: str, salted: bool):
    """Skew-stress workload: 90% of lineitem rows map to one join key,
    joined to a 100-row dim with broadcast disabled (the salting
    use-case: a broadcast-ineligible shuffle join with a hot key).
    Timed with and without salted_join so BENCH records what the salt
    buys on this box round-over-round."""
    from pyspark.sql import functions as F

    from economic_data_project_spark.functions.dialect import salted_join

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, 0)
        .otherwise(F.col("l_orderkey") % 100)
        .cast("long")
        .alias("k"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        ),
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    joined = (
        salted_join(fact, dim, "k") if salted else fact.join(dim, "k")
    )
    return joined.groupBy("grp").agg(F.sum("rev").alias("rev"))


# Trusted-run gate. BOTH averages matter: the r10 driver artifact
# (load_start [1.13, 2.64, 4.12]) and an r11 probe run ([0.71, 5.24,
# 4.65] — 1-min quiet, 5-min hot) were each inflated 1.2-1.6x on
# UNTOUCHED queries; the genuinely-quiet r10 run ([0.07, ...]) was not.
# A high 5-min average with a low 1-min one means heavy work ended
# minutes ago — the residual-inflation window (cooling page cache /
# post-turbo CPU state), not steady state.
_QUIET_1MIN = 1.0
_QUIET_5MIN = 1.5

# End-of-run contention gate (VERDICT r12 'What's wrong' #3): the
# start gate cannot see contention that ARRIVES mid-run — the r12
# driver artifact started quiet (stamped trusted) yet its tail rows ran
# 30-40% inflated. Raw load_end cannot adjudicate this either: bench's
# OWN local[32] saturation pushes the 1-min end average to ~10-18 on
# provably quiet runs (every r11/r12 trusted snapshot), exactly the
# band the contended driver artifact landed in. The measurable
# discriminator is EXTERNAL cpu share — /proc/stat total busy jiffies
# over the run window minus the jiffies consumed by THIS process tree
# (python driver + JVM + pyspark.daemon workers; reaped children roll
# into cutime/cstime) — which is ~0 for a bench-only box regardless of
# how hard bench itself drives it. Above the threshold the artifact
# self-reports contended_end=true and drops its trusted stamp.
_EXT_SHARE_MAX = 0.10


def _system_busy_sec() -> tuple[float, float] | None:
    """(total non-idle CPU seconds excluding steal, steal seconds)
    across all cores since boot. Steal is split out: it is HYPERVISOR
    contention (host noisy neighbor), not another process on this box,
    and the artifact stamps it separately so a host-contended run
    self-reports with the right mechanism (r13: two same-gate trusted
    runs measured 89.5s vs 127s with external process share ~0 — steal
    bursts are the remaining measurable suspect)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        # fields: user nice system idle iowait irq softirq steal
        # guest guest_nice. Sum only the first 8: the kernel already
        # folds guest/guest_nice INTO user/nice, so including fields
        # 9-10 would double-count a co-located VM's load and overstate
        # the external share ~2x (review finding r13).
        vals = vals[:8]
        steal = vals[7] if len(vals) > 7 else 0
        busy = (
            sum(vals)
            - vals[3]
            - (vals[4] if len(vals) > 4 else 0)
            - steal
        )
        tck = os.sysconf("SC_CLK_TCK")
        return busy / tck, steal / tck
    except Exception:
        return None


def _is_orphaned_ours(pid: int, ppid: int, pgrp: int, sid: int) -> bool:
    """A descendant whose in-between ancestor exited is reparented to
    init (pid 1) and leaves the ppid-walked tree — its CPU would flip
    from 'ours' to 'external' mid-run and falsely trip contended_end on
    a genuinely clean box (ADVICE r13; conservative direction, but it
    discards trusted runs). Reparenting changes ONLY ppid: the orphan
    keeps its process group, so an init-child in OUR process group is
    our orphan. pyspark.daemon is additionally matched by cmdline —
    Spark's Python workers are the one descendant class known to
    daemonize — but only within OUR login session (sid): a daemon
    leaked by a PREVIOUS crashed session keeps its dead parent's sid,
    and claiming its CPU would hide genuine contention."""
    if ppid != 1 or pid == os.getpid():
        return False
    if pgrp == os.getpgrp():
        return True
    if sid != os.getsid(0):
        return False
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def _proc_tree_cpu_sec() -> float | None:
    """CPU seconds consumed by this process and every live descendant
    (utime+stime), plus their already-reaped children (cutime+cstime),
    plus orphans reparented to init that are attributably ours
    (:func:`_is_orphaned_ours`) and their subtrees."""
    try:
        children: dict[int, list[int]] = {}
        stats: dict[int, float] = {}
        roots = [os.getpid()]
        for pid_dir in os.listdir("/proc"):
            if not pid_dir.isdigit():
                continue
            try:
                with open(f"/proc/{pid_dir}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            # comm may contain spaces/parens: split after the LAST ')'
            rest = raw.rsplit(")", 1)[1].split()
            ppid, pgrp, sid = int(rest[1]), int(rest[2]), int(rest[3])
            utime, stime, cutime, cstime = (
                int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14])
            )
            pid = int(pid_dir)
            children.setdefault(ppid, []).append(pid)
            stats[pid] = utime + stime + cutime + cstime
            if _is_orphaned_ours(pid, ppid, pgrp, sid):
                roots.append(pid)
        total, stack, seen = 0.0, roots, set()
        while stack:
            pid = stack.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += stats.get(pid, 0)
            stack.extend(children.get(pid, ()))
        return total / os.sysconf("SC_CLK_TCK")
    except Exception:
        return None


def _external_cpu_share(
    sys0: tuple[float, float] | None,
    ours0: float | None,
    sys1: tuple[float, float] | None,
    ours1: float | None,
    elapsed_sec: float,
    cpus: int,
) -> tuple[float, float] | None:
    """(external process share, hypervisor steal share) of the box's
    total CPU capacity over the run window; None = unmeasurable
    (fail-open: the flags stamp null rather than guessing). The first
    component counts processes outside this bench's tree ON this box;
    the second counts cycles the host stole from the whole box."""
    if None in (sys0, ours0, sys1, ours1) or elapsed_sec <= 0:
        return None
    capacity = elapsed_sec * max(1, cpus)
    external = max(0.0, (sys1[0] - sys0[0]) - (ours1 - ours0))
    steal = max(0.0, sys1[1] - sys0[1])
    return external / capacity, steal / capacity


def _wait_for_quiet(max_wait_sec: int) -> tuple[float, ...]:
    """Block until the 1-min load average falls under 1.0 AND the 5-min
    average under 1.5 (polling every 30 s, up to ``max_wait_sec``), then
    return the load triple. The r10 driver artifact was recorded on a
    box that failed this gate and read as a phantom 24% regression on
    untouched queries — waiting minutes for the residue to drain is
    strictly cheaper than a round of re-litigating contention vs code
    (VERDICT r10 'What's wrong' #1). The 5-min average decays with a
    ~5-min time constant, so draining from 5.0 to 1.5 takes ~6 min —
    the default budget allows for that."""
    deadline = time.monotonic() + max_wait_sec
    load = os.getloadavg()
    while (
        load[0] > _QUIET_1MIN or load[1] > _QUIET_5MIN
    ) and time.monotonic() < deadline:
        print(
            f"bench: load {load[0]:.2f}/{load[1]:.2f} (1/5-min) above"
            f" quiet gate {_QUIET_1MIN}/{_QUIET_5MIN} — waiting for the"
            " box to drain...",
            file=sys.stderr,
        )
        time.sleep(30)
        load = os.getloadavg()
    return load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Stamp machine state into the artifact: a loaded box inflates every
    # query a uniform 1.1-1.6x (measured in r5 — the recorded file read
    # as a phantom regression until rerun quiet), so the JSON line must
    # carry the evidence that disambiguates contention from code. If the
    # box is loaded, wait (bounded) for it to drain first; if it never
    # does, the artifact is stamped trusted=false — machine-readable, so
    # no round-over-round comparison may be made from it.
    # Default wait budget 600s: enough to drain a post-suite 5-min load
    # of ~4 under the 1.5 gate (~5-min time constant), while keeping the
    # worst-case total run (~wait + JVM + 3-4 min of queries) inside any
    # plausible external timeout — a MISSING artifact is strictly worse
    # than one honestly stamped trusted=false.
    load_start = _wait_for_quiet(
        int(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600"))
    )
    trusted = (
        load_start[0] <= _QUIET_1MIN and load_start[1] <= _QUIET_5MIN
    )
    if not trusted:
        print(
            f"WARNING: load {load_start[0]:.2f}/{load_start[1]:.2f}"
            " (1/5-min) above the quiet gate at bench start — timings"
            " will be contention-inflated; artifact stamped"
            " trusted=false. Rerun quiet before comparing rounds.",
            file=sys.stderr,
        )
    spark = get_spark(app_name="econ-spark-bench")
    qs = registry.all_queries()

    # end-contention probe window opens after the session exists (JVM
    # startup CPU is ours either way) and closes after the last lane.
    probe_t0 = time.monotonic()
    busy0, ours0 = _system_busy_sec(), _proc_tree_cpu_sec()

    names = [n for n in HEADLINE if n in qs]
    # Warm the JVM/catalog once (excluded from timings).
    qs[names[0]](spark, sf_dir).limit(1).collect()

    # Median-of-N protocol (VERDICT r13 'What's wrong' #2): three
    # same-gate trusted single runs measured 89.5s / 127.0s / 82.3s on
    # engine-identical code — up to ~1.4x host variance per ROW — so a
    # single-run artifact can fake a drift and burn a round adjudicating
    # it. Each repetition is a full pass of all three lanes (headline,
    # skew, longdoc) starting cache-cold (_isolate_lane) — exactly a
    # pre-r14 artifact's protocol — and the artifact reports the
    # PER-QUERY MEDIAN across repetitions plus `n_runs` + per-rep
    # `run_totals` so a budget-truncated (or env-forced) single-run
    # artifact self-identifies as low-confidence —
    # tools/bench_compare.py refuses to adjudicate from those.
    n_target = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500")
    )
    rep_runs: list[dict[str, float]] = []
    longdoc_dir = _gen_longdoc_dir(spark)
    try:
        fixture_rev = _fixture_rev(spark, longdoc_dir)
        for rep in range(n_target):
            if rep and time.monotonic() - probe_t0 > budget:
                print(
                    f"bench: {budget:.0f}s budget reached — stopping"
                    f" after {rep} repetition(s); medians degrade"
                    " gracefully and n_runs records the truth.",
                    file=sys.stderr,
                )
                break
            timings: dict[str, float] = {}
            _isolate_lane(spark)  # every rep starts cache-cold
            for name in names:
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                timings[name] = round(time.perf_counter() - t0, 3)

            # Skew-stress pair (broadcast disabled so the shuffle join
            # is real; not part of the headline total — these measure a
            # technique, not an operator).
            _isolate_lane(spark)
            old_thresh = spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            )
            try:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", "-1"
                )
                for label, salted in (
                    ("skew_join_plain", False),
                    ("skew_join_salted", True),
                ):
                    t0 = time.perf_counter()
                    _skew_join(spark, sf_dir, salted).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    timings[label] = round(time.perf_counter() - t0, 3)
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", old_thresh
                )

            # Long-document stress lane (generation excluded from
            # timings; ops keyed longdoc_<name> and excluded from the
            # headline total). Starts cold: the lane is the quadratic-
            # regression tripwire, and its per-token costs must not
            # depend on headline-lane cache residency.
            _isolate_lane(spark)
            for name in LONGDOC:
                if name not in qs:
                    continue
                t0 = time.perf_counter()
                qs[name](spark, longdoc_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                timings[f"longdoc_{name}"] = round(
                    time.perf_counter() - t0, 3
                )
            rep_runs.append(timings)
    finally:
        import shutil

        shutil.rmtree(longdoc_dir, ignore_errors=True)

    import statistics

    timings = {
        n: round(statistics.median([r[n] for r in rep_runs]), 3)
        for n in rep_runs[0]
    }
    skew = {n: t for n, t in timings.items() if n.startswith("skew_")}
    longdoc = {
        n: t for n, t in timings.items() if n.startswith("longdoc_")
    }

    shares = _external_cpu_share(
        busy0,
        ours0,
        _system_busy_sec(),
        _proc_tree_cpu_sec(),
        time.monotonic() - probe_t0,
        os.cpu_count() or 1,
    )
    ext_share = None if shares is None else shares[0]
    steal_share = None if shares is None else shares[1]
    # contended_end: None = probe unmeasurable (fail-open, trusted
    # unaffected); True = external work above the envelope mid-run —
    # the artifact loses its trusted stamp even with a quiet start.
    # Process share and hypervisor steal each trip it independently.
    contended_end = (
        None
        if shares is None
        else (
            ext_share > _EXT_SHARE_MAX
            or steal_share > _EXT_SHARE_MAX
        )
    )
    if contended_end:
        print(
            f"WARNING: external CPU share {ext_share:.3f} / steal"
            f" share {steal_share:.3f} above the {_EXT_SHARE_MAX}"
            " envelope — the box was contended during the bench;"
            " artifact stamped trusted=false.",
            file=sys.stderr,
        )

    excluded = set(skew) | set(longdoc)
    total = round(
        sum(t for n, t in timings.items() if n not in excluded), 3
    )
    run_totals = [
        round(sum(t for n, t in r.items() if n not in excluded), 3)
        for r in rep_runs
    ]
    # The driver records only the LAST ~2000 chars of this process's
    # output and json-parses the JSON line found there: r11's 50-query
    # line fit and BENCH_r11.json carries machine-readable `parsed`
    # data; r12's 60-query line overflowed the window and the driver
    # recorded `parsed: None` with a head-truncated tail (VERDICT r12
    # 'What's wrong' #3's unreadable artifact). So the CONTRACT line —
    # printed LAST, compact separators — carries the headline+skew
    # rows and metadata (~1600 chars, size-gated by
    # tests/test_bench_gate.py), and the per-row longdoc detail rides
    # a prefixed line just above it (same stdout, snapshot tooling
    # captures both; longdoc rows remain excluded from the total and
    # comparable only within one longdoc_fixture).
    print(
        "runs_detail: "
        + json.dumps(
            {n: [r[n] for r in rep_runs] for n in sorted(rep_runs[0])},
            separators=(",", ":"),
        )
    )
    print(
        "longdoc_detail: "
        + json.dumps(longdoc, separators=(",", ":"), sort_keys=True)
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": {
                    n: t for n, t in timings.items() if n not in longdoc
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # trusted=false => contention-inflated: NO round-over-
                # round comparison (headline OR longdoc lane) may be
                # made from this artifact — compare trusted runs only.
                # Requires BOTH a quiet start and a clean end-probe.
                "trusted": trusted and not contended_end,
                "external_cpu_share": (
                    None if ext_share is None else round(ext_share, 4)
                ),
                "steal_share": (
                    None
                    if steal_share is None
                    else round(steal_share, 4)
                ),
                "contended_end": contended_end,
                # median-of-n protocol: every row above is the per-query
                # MEDIAN across n_runs full-lane repetitions; run_totals
                # carries each rep's headline total so the artifact
                # exposes its own spread. n_runs == 1 = low-confidence
                # (budget-truncated or env-forced single pass) — refuse
                # cross-artifact adjudication from it.
                "n_runs": len(rep_runs),
                "run_totals": run_totals,
                "longdoc_total": round(sum(longdoc.values()), 3),
                # content hash of the longdoc corpus: longdoc_* rows are
                # comparable ONLY between artifacts with the same value
                "longdoc_fixture": fixture_rev,
                "load_start": [round(x, 2) for x in load_start],
                "load_end": [round(x, 2) for x in os.getloadavg()],
                "cpus": os.cpu_count(),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
