"""Connected-components scale probe: drive the DISTRIBUTED min-label
propagation path (above `_CC_DRIVER_MAX_EDGES` = 100k, where the
driver union-find routing no longer applies) on synthetic graphs whose
component structure — and therefore the correct answer AND the
expected iteration count — is known exactly.

Two arms:

* ``stars`` (default): nodes 0..n-1 in groups of 10, star edges
  (10k, 10k+j) — every component has diameter 2, so the loop must
  converge in a CONSTANT number of rounds at any n and total time
  should scale ~linearly with edge count. This is the shape real
  dedup graphs take (many small near-dup clusters); a superlinear
  step here means a join or checkpoint term grew with n.
* ``chain L``: one path of L edges. Min-label propagation moves the
  minimum one hop per round, so rounds == L (the documented worst
  case — the probe MEASURES the per-round fixed cost that multiplies
  a pathological diameter, rather than assuming it).

Correctness is asserted, not sampled: stars must yield exactly n/10
components with every node labeled by its group base; the chain must
collapse to a single component labeled 0.

Usage: python tools/cc_scale_probe.py [n_nodes ...]      (stars arm)
       python tools/cc_scale_probe.py --chain [L]        (chain arm)
Defaults: stars at 2_000_000 4_000_000 8_000_000; chain L=64.
Log lines are JSON; copy into tools/bench_snapshots/r{N}_... when
recording a run (round-neutral: this file never self-appends to a
past round's artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from economic_data_project_spark.caches import free_session_caches
from economic_data_project_spark.session import get_spark
from economic_data_project_spark.text.dedup import connected_components


def run_stars(spark, n_nodes: int) -> None:
    assert n_nodes % 10 == 0
    n_groups = n_nodes // 10
    # edges (10k, 10k+j), j=1..9 — built distributed, never on the
    # driver: sequence+explode over a range frame
    edges = (
        spark.range(n_groups)
        .select((F.col("id") * 10).alias("base"))
        .select(
            "base", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("j")
        )
        .select(
            F.col("base").alias("doc_a"),
            (F.col("base") + F.col("j")).alias("doc_b"),
        )
        .repartition(32)
    )
    t0 = time.time()
    comp = connected_components(edges, "doc_a", "doc_b")
    bad, n_comp, n_rows = (
        comp.agg(
            F.sum(
                (
                    F.col("component_id")
                    != (F.floor(F.col("doc_id") / 10) * 10)
                ).cast("long")
            ).alias("bad"),
            F.countDistinct("component_id").alias("nc"),
            F.count("*").alias("nr"),
        )
        .collect()[0]
    )
    sec = round(time.time() - t0, 1)
    print(
        json.dumps(
            {
                "arm": "stars",
                "n_nodes": n_nodes,
                "n_edges": 9 * n_groups,
                "sec": sec,
                "components": int(n_comp),
                "expected_components": n_groups,
                "mislabeled": int(bad),
            }
        ),
        flush=True,
    )
    assert bad == 0 and n_comp == n_groups and n_rows == n_nodes
    free_session_caches()


def run_chain(spark, length: int) -> None:
    edges = (
        spark.range(length)
        .select(
            F.col("id").alias("doc_a"),
            (F.col("id") + 1).alias("doc_b"),
        )
        .repartition(8)
    )
    t0 = time.time()
    comp = connected_components(
        edges, "doc_a", "doc_b", driver_max_edges=0
    )
    n_comp, top = (
        comp.agg(
            F.countDistinct("component_id").alias("nc"),
            F.max("component_id").alias("mx"),
        )
        .collect()[0]
    )
    sec = round(time.time() - t0, 1)
    print(
        json.dumps(
            {
                "arm": "chain",
                "length": length,
                "sec": sec,
                "sec_per_round": round(sec / length, 2),
                "components": int(n_comp),
                "max_label": int(top),
            }
        ),
        flush=True,
    )
    assert n_comp == 1 and top == 0
    free_session_caches()


def main() -> None:
    spark = get_spark(app_name="cc-scale-probe")
    if "--chain" in sys.argv[1:]:
        rest = [a for a in sys.argv[1:] if a != "--chain"]
        run_chain(spark, int(rest[0]) if rest else 64)
    else:
        sizes = [int(a) for a in sys.argv[1:]] or [
            2_000_000,
            4_000_000,
            8_000_000,
        ]
        for n in sizes:
            run_stars(spark, n)
    spark.stop()
    print("PROBE OK", flush=True)


if __name__ == "__main__":
    main()
