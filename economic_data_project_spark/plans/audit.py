"""Plan-audit helpers: which fact tables does a query's COLD plan read
directly (outside every cache)?

The only reliable classifier is a WALK of the optimized logical plan
(cache substitution has already run there; ``InMemoryRelation`` is a
leaf whose cached child is not among ``children()``). The string
rendering is unusable for counting at this repo's plan sizes: it
DUPLICATES shared DAG nodes (one shingle subtree re-rendered 24x in
the training-manifest plan — same ``plan_id`` every time), and
executed-AQE cached children print ``== Final Plan ==`` sections that
reset indentation, which breaks any line/indent-based IMR scoping.

``registry_audit`` is the ONE registry-wide sweep (VERDICT r10 #4):
it builds every registered query's plan exactly once (cold, by the
same builder call production makes) and emits all three plan-budget
metrics per query — outside-cache fact scans, wide-column scan nodes,
and the number of Spark jobs the BUILDER ran at construction. The three gates in
tests/test_plans.py and tools/scan_audit.py all consume it; before it,
each rebuilt all 158 plans separately (a large share of the suite's
wall time).
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession

_AUDIT_SEQ = itertools.count()

#: fact tables whose repeated full scans a 100 TB run pays in IO passes
FACTS = ("lineitem", "orders", "events", "documents", "embeddings")


def fact_scans_outside_imr(df: DataFrame, fact: str) -> list[str]:
    """Relation leaves reading ``<fact>.parquet`` that are NOT inside
    any InMemoryRelation, as ``simpleString`` excerpts. Walks the
    optimized plan and every subquery plan; stops at IMR boundaries
    (reads under a cache are served by its one fill)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    out: list[str] = []

    def leaf_hits(node) -> None:
        try:
            paths = node.relation().location().rootPaths()
        except Exception:
            return
        it = paths.iterator()
        while it.hasNext():
            if it.next().toString().endswith(f"/{fact}.parquet"):
                out.append(node.simpleString(160))

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "InMemoryRelation":
            return
        it = node.children().iterator()
        has_child = False
        while it.hasNext():
            has_child = True
            walk(it.next())
        if not has_child:
            leaf_hits(node)

    walk(plan)
    sub = plan.subqueriesAll().iterator()
    while sub.hasNext():
        walk(sub.next())
    return out


def wide_scan_nodes(df: DataFrame) -> dict[str, int]:
    """Distinct ``(id) Scan parquet`` nodes in the FORMATTED physical
    plan that read the heavy ``text``/``embedding`` columns from a fact
    table, per table — cache FILLS included (unlike the outside-IMR
    walk: a fill pass still reads the corpus once, and
    TableCacheQueryStage renders its fill child, so fills are visible).
    Formatted-mode node ids dedup shared DAG references, so this count
    survives the re-rendering that breaks plain string counting.
    ReadSchema rendering is widened past the default 100-char metadata
    truncation so a wide column cut off mid-line still counts."""
    spark = df.sparkSession
    jvm = spark._jvm
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    nodes = set()
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) Scan parquet", block)
        if not m:
            continue
        schema = re.search(r"ReadSchema: (.*)", block)
        loc = re.search(r"/(\w+)\.parquet", block)
        if (
            schema
            and loc
            and loc.group(1) in ("documents", "embeddings")
            and (
                "text:" in schema.group(1)
                or "embedding:" in schema.group(1)
            )
        ):
            nodes.add((loc.group(1), m.group(1)))
    per_table: dict[str, int] = {}
    for table, _ in nodes:
        per_table[table] = per_table.get(table, 0) + 1
    return per_table


def registry_audit(
    spark: SparkSession, sf_dir: str, queries=None
) -> dict[str, dict]:
    """Build every registered query's COLD plan once and measure all
    plan-budget metrics in one pass. Per query: session caches freed
    (so no query rides another's cache), builder invoked
    exactly as production calls it, inside a dedicated job group, then

    - ``build_jobs``: Spark jobs the builder ran at CONSTRUCTION
      (counted via the job group). Zero for almost every builder —
      the documented exceptions are the iterative localCheckpoint
      loops (truncation is load-bearing, not a warm-up) and the
      bounded routing/fit probes; tests/test_plans.py pins the list.
    - ``fact_scans``: outside-cache relation leaves per fact table
      (the optimized-plan tree walk).
    - ``wide_scans``: distinct text/embedding scan nodes per fact
      table, cache fills included.
    - ``error``: builder exception string, metrics absent.
    """
    from ..caches import free_session_caches
    from ..catalog import load_tables
    from ..registry import all_queries

    qs = all_queries() if queries is None else queries
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # per-call salt: getJobIdsForGroup is cumulative for the session,
    # so a repeated audit in one session must not count the previous
    # sweep's jobs as this sweep's build_jobs
    salt = next(_AUDIT_SEQ)
    # prime the catalog reader OUTSIDE any job group: the first read of
    # a table whose footer the process has not resolved yet runs one
    # schema-inference job (catalog.read_parquet), which must not be
    # attributed to whichever builder touches the table first
    # (build_jobs measures builder ACTIONS, not catalog warm-up).
    load_tables(spark, sf_dir)
    out: dict[str, dict] = {}
    for name in sorted(qs):
        free_session_caches()
        gid = f"plan-audit-{salt}-{name}"
        sc.setJobGroup(gid, f"plan-audit build: {name}")
        try:
            df = qs[name](spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — audit must sweep on
            out[name] = {
                "error": f"{type(e).__name__}: {e}",
                "build_jobs": len(tracker.getJobIdsForGroup(gid)),
            }
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = {
            "error": None,
            "build_jobs": len(tracker.getJobIdsForGroup(gid)),
            "fact_scans": {
                f: len(fact_scans_outside_imr(df, f)) for f in FACTS
            },
            "wide_scans": wide_scan_nodes(df),
        }
    free_session_caches()
    return out
