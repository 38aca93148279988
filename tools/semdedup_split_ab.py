"""Same-process A/B for the SemDeDup hot-cluster cap-split (VERDICT
r13 'What's wrong' #3): time ONLY the dominated-pair stage on the skew
fixture's member frame — _SPLIT_CAP engaged vs disabled — with the
member cache materialized BEFORE either timing, so the comparison is
immune to the box's measured ~1.4x run-to-run variance (both arms ride
the same process, same data, back-to-back).

Usage: python tools/semdedup_split_ab.py [n]   (default 200000)
Quiet box required. Results recorded in
tools/bench_snapshots/r14_semdedup_split_probe.log:
200k/120k-hot: unsplit 641.1s -> split 135.3s (4.7x), identical dups.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    hot_frac, n_dup, dim = 0.6, 200, 32
    rng = np.random.RandomState(7)

    from pyspark.sql import functions as F

    from economic_data_project_spark.session import get_spark
    from economic_data_project_spark.similarity import semdedup as sd
    from economic_data_project_spark.similarity.ann import (
        _COS_CENTROID,
        ivf_corpus,
        kmeans_once,
    )

    # identical geometry to tools/semdedup_skew_probe.py: one cone
    # seed among K-1 anchors, a hot_frac cone, planted near-copies
    k_planned = min(sd._IVF_K_CAP, n // sd._TARGET_CLUSTER)
    hot_dir = rng.normal(size=dim)
    hot_dir /= np.linalg.norm(hot_dir)
    n_anchor = k_planned - 1
    n_hot = int(n * hot_frac) - n_dup - 1
    n_cold = n - 1 - n_anchor - n_hot - n_dup
    anchors = rng.normal(size=(n_anchor, dim))
    hot = hot_dir[None, :] + 0.05 * rng.normal(size=(n_hot, dim))
    cold = rng.normal(size=(n_cold, dim))
    dup_src = rng.choice(n_hot, size=n_dup, replace=False)
    dups = hot[dup_src] + 1e-4 * rng.normal(size=(n_dup, dim))
    vecs = np.vstack(
        [hot_dir[None, :], anchors, hot, cold, dups]
    ).astype(np.float32)

    tmp = tempfile.mkdtemp(prefix="spark_graft_split_ab_")
    pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [v.tolist() for v in vecs],
            "label": [i % 10 for i in range(n)],
        }
    ).to_parquet(os.path.join(tmp, "embeddings.parquet"), index=False)

    spark = get_spark(app_name="semdedup-split-ab")
    corpus = ivf_corpus(spark, tmp)
    k = min(sd._IVF_K_CAP, int(corpus.count()) // sd._TARGET_CLUSTER)
    centroids, assign = kmeans_once(corpus, k)
    member = (
        assign.join(corpus, "vec_id")
        .join(F.broadcast(centroids), "cluster")
        .select(
            "vec_id",
            "cluster",
            "embedding",
            "vnorm",
            F.expr(
                _COS_CENTROID.format(centroid="centroid", cnorm="cnorm")
            ).alias("cc"),
        )
    ).cache()
    print("member rows:", member.count(), flush=True)  # fill the cache

    results = {}
    for label, cap in (("unsplit", 1 << 60), ("split", 16384)):
        sd._SPLIT_CAP = cap
        t0 = time.time()
        # collect the dup_id SET, not a count (ADVICE r14: count
        # equality would pass compensating divergences — one id
        # dropped, another gained — while the log claims 'identical
        # dup sets'); the set is n_dup-sized, a bounded collect.
        results[label] = {
            r.dup_id for r in sd._dups_gemm(member).collect()
        }
        print(
            f"{label}: dups={len(results[label])}"
            f" elapsed={time.time() - t0:.1f}s",
            flush=True,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    assert results["unsplit"] == results["split"], "dup sets diverged"
    print("AB OK")


if __name__ == "__main__":
    main()
