"""Session-lifetime caches and how a session owner frees them.

Several builders cache frames that MUST outlive the builder call — the
returned DataFrames read them lazily, so the builder cannot unpersist
them itself (dedup shingle/band/verified-pair caches, the trigram
instance frame, the dimension-sized fan-out aggregates). Builders call
``.cache()`` directly: Spark's CacheManager already tracks every entry
and dedups by analyzed plan, so a repeat build on the same sf_dir
reuses its entry instead of adding one.

Memory budget (what lives here, and how big). Cached frames fall into
two classes:

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
degrades to recompute, never to OOM-by-cache. Entries are bounded at one
per (builder, sf_dir). At 100 TB none of the corpus-proportional frames
would be executor caches at all — each is a materialized
signature/scoring TABLE written once with explicit retention.

Fill-once contract. A builder returns a lazy plan: a cache fills during
the first action that reads it, and no builder runs a job to pre-fill
one. That first action may read the unfilled entry from many concurrent
subtrees (a 10-branch fan-out union, a self-join); Spark computes each
cached partition once under the block manager's write lock and every
other reader waits for it, so the entry is still computed exactly once
(pinned by tests/test_caches.py::
test_unfilled_cache_fills_once_under_concurrent_readers). Only the
one iterative builder (connected components), the bounded
routing/sizing probes and the ML fits run jobs at build
(tests/test_plans.py::_BUILD_JOB_EXEMPT).

Free contract. ``free_session_caches()`` drops EVERY cached frame in the
session, not only the builders' — so call it only at a session-owner
boundary (a driver between scale factors, the oracle sweep after a
corpus, a bench lane boundary, a notebook user):

    from economic_data_project_spark.caches import free_session_caches
    free_session_caches()

The next query on any sf_dir simply rebuilds its caches. A consumer
still holding a frame from before the free recomputes it lazily, with
one exception that makes the boundary rule load-bearing:
sources/files.py caches the parsed frame its corrupt-record split reads
twice, and that cache is needed for CORRECTNESS (an uncached quarantine
side parses fewer columns and disagrees with the clean side about
partially corrupt rows). A free between building such a split and
reading both halves breaks the split.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
# localCheckpoint frames that escape into returned plans (connected
# components' final generation, the registry's only user): CacheManager
# cannot see LogicalRDD storage, so these are freed via
# free_local_checkpoint.
_SESSION_CHECKPOINTS: list[DataFrame] = []


def register_session_checkpoint(df: DataFrame) -> DataFrame:
    """Track a ``localCheckpoint(eager=True)`` frame that escapes into
    a returned plan (the FINAL generation of an iterative loop — the
    superseded generations are freed inside the loop). Freed with
    everything else by free_session_caches, via free_local_checkpoint."""
    with _LOCK:
        _SESSION_CHECKPOINTS.append(df)
    return df


def free_session_caches() -> int:
    """Clear the active session's CacheManager, then release every
    registered escaped localCheckpoint; returns the number of
    checkpoints released.

    ``SparkSession.active()`` (not ``getActiveSession()``) so a free
    from a thread that never touched the session still finds it.
    Checkpoint releases are DESTRUCTIVE: a localCheckpoint truncates
    lineage, so its persisted RDD is the frame's only copy, and a free
    racing a live consumer of a checkpoint-backed result
    (thread_structure / dedup-components output) fails that consumer
    with checkpoint-block-not-found instead of recomputing — one more
    reason to free only at a session-owner boundary."""
    try:
        SparkSession.active().catalog.clearCache()
    except Exception:
        # a stopped or never-started session must not break the
        # sweep — freeing is an optimization
        pass
    with _LOCK:
        ckpts = list(_SESSION_CHECKPOINTS)
        _SESSION_CHECKPOINTS.clear()
    # count only successful releases — a swallowed py4j failure must
    # not overstate what was freed
    return sum(free_local_checkpoint(df) for df in ckpts)


def free_local_checkpoint(df: DataFrame) -> bool:
    """Release a ``localCheckpoint(eager=True)`` frame's storage;
    returns True only when the unpersist call actually ran.

    The checkpointed plan is a bare LogicalRDD whose rdd() IS the
    persisted checkpoint storage; ``DataFrame.unpersist`` is
    CacheManager-based and cannot see it. Guarded: this reaches
    through py4j internals and assumes the analyzed plan's shape — a
    Spark upgrade changing either must degrade to "generation stays
    cached until session end" (return False), never fail an iterative
    loop mid-round. Connected components' loop is its only caller."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False
