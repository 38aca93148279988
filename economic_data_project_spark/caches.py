"""Session-lifetime cache registry (ADVICE r7-r9 unpersist discipline).

Several builders cache frames that MUST outlive the builder call — the
returned DataFrames read them lazily, so the builder cannot unpersist
them itself (dedup shingle/band/verified-pair caches, the trigram
instance frame, the dimension-sized fan-out aggregates). Every such
cache registers here, and a session owner (a driver between scale
factors, the oracle sweep after a corpus, a bench lane boundary, a
notebook user) frees them all with one call:

    from economic_data_project_spark.caches import free_session_caches
    free_session_caches()

The next query on any sf_dir simply rebuilds its caches.

Memory budget (what lives here, and how big). Registered frames fall
into two classes:

* **Dimension-sized aggregates** — the fan-out panels (series x month,
  source x term, sector x day): bounded by the dimension product, KBs
  to low MBs at ANY corpus scale. These exist so a 10-branch UNION
  costs one fact scan instead of N (tools/scan_audit.py audits this).
* **Corpus-proportional frames** — the dedup shingle/band signature
  tables, the (doc, trigram) instance frame (the single largest entry,
  text/lm_quality.py), the ANN normed-vector corpus, the selection
  scoring table. These grow linearly with the corpus.

DataFrame caches store compressed columnar batches at MEMORY_AND_DISK:
under pressure in this single-JVM engine (8 GiB driver, session.py)
partitions spill to local disk and LRU-evict, so an oversized entry
degrades to recompute, never to OOM-by-cache. CacheManager dedups by
analyzed plan, so entries are bounded at one per (builder, sf_dir). The
*lifetime* policy is this registry: free between corpora / bench lanes.
At 100 TB none of the corpus-proportional frames would be executor
caches at all — each is a materialized signature/scoring TABLE written
once with explicit retention; the registry is the single-JVM analogue.

Fill-once contract. A builder returns a lazy plan: a registered cache
fills during the first action that reads it, and no builder runs a job
to pre-fill one. That first action may read the unfilled entry from
many concurrent subtrees (a 10-branch fan-out union, a self-join);
Spark computes each cached partition once under the block manager's
write lock and every other reader waits for it, so the entry is still
computed exactly once (pinned by tests/test_caches.py::
test_unfilled_cache_fills_once_under_concurrent_readers). Only the
iterative builders (pointer-doubling hierarchy, connected components),
the bounded routing/sizing probes and the ML fits run jobs at build
(tests/test_plans.py::_BUILD_JOB_EXEMPT).

Thread-safety: the registry is lock-guarded and handles are deduped by
``DataFrame.semanticHash()`` (+ schema string, ADVICE r10), so the
thread-parallel oracle sweep can register/free concurrently without
growing the list. A ``free`` racing another thread's in-flight cache
fill simply leaves that consumer to recompute lazily — correct, just
cold (tests/test_caches.py exercises free-mid-sweep). That safety
holds for CACHE entries only: checkpoint entries release destructively
(see free_session_caches), so mid-sweep frees that may race a live
checkpoint consumer must pass ``checkpoints=False``.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
# plan-key -> handle; dedup keeps repeat builder calls (same sf_dir ->
# same analyzed plan -> same key) from accumulating duplicate handles.
_SESSION_CACHES: dict[object, DataFrame] = {}
# localCheckpoint frames that escape into returned plans (hierarchy /
# connected-components final generations): DataFrame.unpersist cannot
# free LogicalRDD storage, so these are freed via free_local_checkpoint.
_SESSION_CHECKPOINTS: list[DataFrame] = []


def _plan_key(df: DataFrame) -> object:
    """Dedup key for a registered handle. semanticHash is stable across
    re-built identical plans (the repeat-builder case) but only 32 bits
    — a collision between two DISTINCT live plans would silently replace
    one handle, leaving its frame cached but unreachable by
    free_session_caches until session end (ADVICE r10). The schema
    string rides along as a cheap collision-resistant component; a
    same-schema collision remains possible but now needs both a 1-in-4B
    hash collision AND an identical schema. A hash failure falls back to
    object identity (no dedup, still correct)."""
    try:
        return ("sh", df.semanticHash(), str(df.schema))
    except Exception:
        return ("id", id(df))


def register_session_cache(df: DataFrame) -> DataFrame:
    """Track a cached frame whose lifetime exceeds its builder; returns
    the frame so call sites stay one expression (`register_session_cache(
    x.cache())`). Repeat invocations on the same sf_dir resolve to the
    same plan key and replace the prior handle in place."""
    with _LOCK:
        _SESSION_CACHES[_plan_key(df)] = df
    return df


def register_session_checkpoint(df: DataFrame) -> DataFrame:
    """Track a ``localCheckpoint(eager=True)`` frame that escapes into
    a returned plan (the FINAL generation of an iterative loop — the
    superseded generations are freed inside the loop). Freed with
    everything else by free_session_caches, via free_local_checkpoint."""
    with _LOCK:
        _SESSION_CHECKPOINTS.append(df)
    return df


def free_session_caches(
    blocking: bool = False, checkpoints: bool = True
) -> int:
    """Unpersist every registered session-lifetime cache and (by
    default) release every registered escaped localCheckpoint; clears
    the registry and returns the number actually freed.

    Lifetime contract (ADVICE r10): the two classes differ in what a
    free COSTS a live consumer. *Cache* entries are recomputable —
    unpersisting under a consumer merely makes its next action cold, so
    cache frees are safe at any time. *Checkpoint* entries are released
    DESTRUCTIVELY: a localCheckpoint truncates lineage, so its
    persisted RDD is the frame's only copy, and a free racing a live
    consumer of a checkpoint-backed result (thread_structure /
    dedup-components output held across the sweep) fails that consumer
    with checkpoint-block-not-found instead of recomputing. Therefore
    release checkpoints only at session-owner boundaries (between scale
    factors / corpora / bench lanes, after all in-flight consumers are
    done); a mid-sweep caller that cannot guarantee that passes
    ``checkpoints=False`` to free the recomputable caches only."""
    with _LOCK:
        handles = list(_SESSION_CACHES.values())
        _SESSION_CACHES.clear()
        if checkpoints:
            ckpts = list(_SESSION_CHECKPOINTS)
            _SESSION_CHECKPOINTS.clear()
        else:
            ckpts = []
    freed = 0
    for df in handles:
        try:
            df.unpersist(blocking)
            freed += 1
        except Exception:
            # a stopped session or an already-dropped plan must not
            # break the sweep — freeing is an optimization
            pass
    for df in ckpts:
        # count only successful releases, mirroring the cache branch —
        # a swallowed py4j failure must not overstate what was freed
        if free_local_checkpoint(df):
            freed += 1
    return freed


def free_local_checkpoint(df: DataFrame) -> bool:
    """Release a ``localCheckpoint(eager=True)`` frame's storage;
    returns True only when the unpersist call actually ran.

    The checkpointed plan is a bare LogicalRDD whose rdd() IS the
    persisted checkpoint storage; ``DataFrame.unpersist`` is
    CacheManager-based and cannot see it. Guarded: this reaches
    through py4j internals and assumes the analyzed plan's shape — a
    Spark upgrade changing either must degrade to "generation stays
    cached until session end" (return False), never fail an iterative
    loop mid-round. Shared by the connected-components and
    pointer-doubling loops."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False
