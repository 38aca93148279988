"""Oracle sweep at an arbitrary scale factor: run every declared query
against its DuckDB oracle (order-insensitive, column-name-sorted value
compare — the driver's contract) at a LARGER sf than the driver's
sf0.01, catching scale-dependent divergence (aggregation-order float
drift, overflow, partition-count-sensitive results).

Usage: python tools/oracle_sweep.py [sf_dir]
       python tools/oracle_sweep.py --quadratic [n_docs] [src_sf_dir]

Default mode: every query EXCEPT those whose DECLARED ORACLE is
brute-force quadratic in DuckDB (all-pairs shingle/embedding
intersections — hours at 5000 docs); the exclusion is about oracle
cost, not engine doubt. r11 result at sf0.1: 143 MATCH + 7 rows-only,
0 FAIL in 510s (tools/bench_snapshots/r11_sf01_oracle_sweep.log).

--quadratic mode covers exactly that excluded family at the largest
scale its oracles can afford: a deterministic doc_id < n_docs
(default 1500) subsample of sf0.1 written to a scratch dir, 3x the
driver's 500-doc correctness scale. r11 result: 8/8 MATCH in 783s
(tools/bench_snapshots/r11_quadratic_1500docs.log).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

# oracles that are O(n^2) in DuckDB (engine side is candidate-pruned;
# the declared SQL is deliberately brute-force for auditability)
QUADRATIC_ORACLES = {
    "dedup_minhash_lsh",
    "ngram_jaccard_nn",
    "dedup_incremental_minhash",
    "dedup_embedding_cosine",
    "dedup_components",
    "corpus_keep_list",
    "leakage_safe_split",
    "corpus_training_manifest",
}


def _subsample(n_docs: int, src: str) -> str:
    """Write a deterministic doc_id/vec_id < n_docs subset of ``src``'s
    documents+embeddings to a scratch dir (the only tables the
    quadratic family reads)."""
    import tempfile

    import duckdb

    out = tempfile.mkdtemp(prefix=f"oracle_sub{n_docs}_")
    con = duckdb.connect()
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet')"
            f" WHERE {key} < {n_docs})"
            f" TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
    return out


def sweep(spark, queries: dict, oracles: dict, sf: str) -> dict[str, str]:
    """Run ``queries`` at ``sf`` on two threads and return {name: tag}.

    An oracle-backed query is compared with its DuckDB oracle (MATCH or
    FAIL); any other is checked by a row count (ROWS). An exception
    tags the query FAIL and the sweep goes on. Prints one tag line per
    query as it finishes, then a TOTAL line."""
    from tests.conftest import compare_with_oracle, duckdb_connect

    t0 = time.time()
    con = duckdb_connect(sf)
    lock = threading.Lock()
    tags: dict[str, str] = {}

    def run(name: str) -> None:
        try:
            if name in oracles:
                ok, msg = compare_with_oracle(
                    spark, queries[name], oracles[name], sf,
                    con=con.cursor(),
                )
            else:
                n = queries[name](spark, sf).count()
                ok, msg = n >= 0, f"rows-only ({n} rows)"
        except Exception as e:  # noqa: BLE001 — sweep must finish
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        tag = ("MATCH" if name in oracles else "ROWS") if ok else "FAIL"
        with lock:
            tags[name] = tag
            print(
                f"[{len(tags):3}/{len(queries)}] {tag:5} {name}:"
                f" {msg}"[:200],
                flush=True,
            )

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(run, sorted(queries)))
    n = Counter(tags.values())
    print(
        f"\nTOTAL {len(tags)} queries: {n['MATCH']} MATCH,"
        f" {n['ROWS']} rows-only, {n['FAIL']} FAIL in"
        f" {time.time() - t0:.0f}s",
        flush=True,
    )
    return tags


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main_quadratic() -> None:
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1500
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    sf = _subsample(n_docs, src)
    mod = _load_entry()

    from economic_data_project_spark.session import get_spark

    spark = get_spark(app_name="oracle-sweep-quadratic")
    print(f"quadratic-oracle family at {n_docs} docs ({sf})", flush=True)
    tags = sweep(
        spark,
        {k: v for k, v in mod.queries().items() if k in QUADRATIC_ORACLES},
        mod.oracle_sql(),
        sf,
    )
    sys.exit(1 if "FAIL" in tags.values() else 0)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mod = _load_entry()

    from economic_data_project_spark.session import get_spark

    spark = get_spark(app_name="oracle-sweep")
    tags = sweep(
        spark,
        {
            k: v for k, v in mod.queries().items()
            if k not in QUADRATIC_ORACLES
        },
        mod.oracle_sql(),
        sf,
    )
    print(f"(skipped {len(QUADRATIC_ORACLES)} quadratic oracles)")
    sys.exit(1 if "FAIL" in tags.values() else 0)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--quadratic":
        main_quadratic()
    else:
        main()
