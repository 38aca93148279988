"""Session caches (economic_data_project_spark.caches): builders call
``.cache()`` and Spark's CacheManager tracks the entries; one call frees
them all; consumers rebuild lazily and correctly afterwards — including
when the free races a concurrent reader (the oracle sweep shares the
session across threads)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from economic_data_project_spark import caches
from economic_data_project_spark.registry import all_queries

from .conftest import SF_DIR


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_free_session_caches_unpersists_and_rebuilds(spark):
    qs = all_queries()
    before = qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    # the builder cached its shingle/band/verified frames
    assert not _cache_empty(spark), "dedup builders cached nothing"
    caches.free_session_caches()
    assert _cache_empty(spark)
    # consumers re-materialize lazily with identical results, and the
    # rebuild caches its frames again
    after = qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    assert after == before
    assert not _cache_empty(spark)


def test_repeat_builder_calls_do_not_grow_cache(spark):
    """CacheManager dedups by analyzed plan: re-running the same builder
    on the same sf_dir reuses its cache entries instead of filling new
    ones."""
    caches.free_session_caches()
    qs = all_queries()
    qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    n_once = _persistent_rdds(spark)
    assert n_once > 0
    for _ in range(3):
        qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    assert _persistent_rdds(spark) == n_once
    caches.free_session_caches()


def test_free_from_thread_without_active_session(spark):
    """A thread that never touched the session has no active session of
    its own (``getActiveSession()`` is None there); the free must still
    find the session and clear its cache."""
    caches.free_session_caches()
    spark.range(50).cache().count()
    assert not _cache_empty(spark)
    errors: list[BaseException] = []

    def freer():
        try:
            caches.free_session_caches()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    t = threading.Thread(target=freer)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert _cache_empty(spark)


def test_unfilled_cache_fills_once_under_concurrent_readers(spark):
    """Builders return lazy plans whose caches fill during
    the first action that reads them, so that first action may read
    one UNFILLED entry from many subtrees at once (a fan-out union, a
    self-join). Spark must compute the entry once, not once per
    reader: a UDF counting its evaluations in an accumulator runs
    exactly once per row in each action. If a Spark upgrade makes
    concurrent readers refill the cache, this test names the cause."""
    from functools import reduce

    from pyspark.sql import DataFrame

    n_rows = 400
    for shape in ("union", "self_join"):
        caches.free_session_caches()
        evals = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def counted(x):
            evals.add(1)
            return x * 2

        base = (
            spark.range(0, n_rows, 1, 8)
            .select("id", counted("id").alias("v"))
            .cache()
        )
        if shape == "union":
            out = reduce(
                DataFrame.unionByName,
                [
                    base.where(F.col("id") % 4 == k).select(
                        F.lit(k).alias("branch"), "id", "v"
                    )
                    for k in range(4)
                ]
                + [base.select(F.lit(4).alias("branch"), "id", "v")],
            )
            # every row once per branch k plus once in the full branch
            expected = 2 * sum(2 * i for i in range(n_rows))
        else:
            out = base.alias("a").join(
                base.alias("b"), F.col("a.id") == F.col("b.v")
            ).select(F.col("b.v"))
            expected = sum(2 * i for i in range(n_rows // 2))
        # the action reads `v`, so no reader can prune the UDF away
        assert out.agg(F.sum("v")).head()[0] == expected
        assert evals.value == n_rows, (shape, evals.value)
    caches.free_session_caches()


def test_free_mid_sweep_race_recomputes_correctly(spark):
    """VERDICT r9 #5: the thread-parallel oracle sweep shares the
    session — a free_session_caches() racing another thread's
    cached-frame query must leave both correct (the loser recomputes
    lazily). Hammer the race: one thread re-runs a caching
    query in a loop while another frees repeatedly."""
    qs = all_queries()
    expected = qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    errors: list[BaseException] = []
    stop = threading.Event()

    def sweeper():
        try:
            for _ in range(6):
                got = qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
                assert got == expected
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    def freer():
        try:
            while not stop.is_set():
                caches.free_session_caches()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=sweeper), threading.Thread(target=freer)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    assert not errors, f"race produced failures: {errors!r}"
    caches.free_session_caches()


def test_checkpoint_registry_frees_final_generation(spark):
    """ADVICE r9: the FINAL localCheckpoint generation of an iterative
    loop escapes into the returned plan and DataFrame.unpersist cannot
    see LogicalRDD storage — register_session_checkpoint routes it
    through free_local_checkpoint so free_session_caches() releases it."""
    caches.free_session_caches()
    sc = spark.sparkContext._jsc.sc()
    base = {info.id() for info in sc.getRDDStorageInfo()}
    ck = caches.register_session_checkpoint(
        spark.range(1000).localCheckpoint(eager=True)
    )
    new = [
        info
        for info in sc.getRDDStorageInfo()
        if info.id() not in base
    ]
    assert new, "eager localCheckpoint left no persisted RDD"
    assert len(caches._SESSION_CHECKPOINTS) == 1
    freed = caches.free_session_caches()
    assert freed >= 1
    assert not caches._SESSION_CHECKPOINTS
    ids_after = {info.id() for info in sc.getRDDStorageInfo()}
    for info in new:
        assert info.id() not in ids_after, (
            "checkpoint storage survived free_session_caches"
        )
    # NOTE: unlike cached frames, a freed localCheckpoint is NOT
    # recomputable (the persisted blocks WERE the lineage truncation) —
    # which is exactly why the free happens only at a session-owner
    # boundary (bench lane, corpus switch) when no consumer reads it
    # again. `ck` is deliberately not read after the free.
    del ck
