"""Candidate-volume and runtime probe for the embedding sign-LSH scale
tier (r11). Quantifies WHY band bits must scale with log2(n): with the
legacy 6-bit coordinate windows, a random pair collides in a given band
with p ~ 2^-6, so junk candidates grow ~n^2 * bands / 2^6 — the scale
path would drown in its own candidates right at its 200k routing
threshold. The hyperplane tier (bits ~ log2(n), 32 bands) keeps junk
candidates ~n * bands while retaining near-dup recall.

Synthetic corpus: deterministic hash-style pseudo-random vectors
(dim 64, GLSL fract(sin(x*12.9898)*43758.5453) per (seed, d) index —
near-iid components; a plain per-seed phase shift gives
E[v1.v2] ~ cos(seed_delta), i.e. a corpus FULL of genuine near-dups,
which is a recall fixture, not a junk-candidate fixture); ids
(2k, 2k+1) for id < 1% of n share a base vector with 2% noise
(cosine ~0.999) — the planted near-dup set for recall checks.

Usage: python tools/emb_lsh_probe.py
r11 results: tools/bench_snapshots/r11_emb_lsh_scaling.log
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
from economic_data_project_spark.session import get_spark, tune_session
from economic_data_project_spark.text import dedup as D

DIM = 64


def gen_embeddings(spark, n: int):
    n_dup = max(n // 100, 2)
    seed = f"CASE WHEN id < {n_dup} THEN cast(id div 2 as bigint) ELSE id END"
    rnd = (
        "(sin(cast({x} as double) * 12.9898) * 43758.5453)"
    )
    unit = f"({rnd} - floor({rnd})) * 2 - 1"
    base = unit.format(x=f"({seed}) * {DIM} + d")
    noise = unit.format(x=f"id * {DIM} + d + 777777")
    vec = (
        f"transform(sequence(0, {DIM - 1}), d ->"
        f" cast({base}"
        f" + (id % 2) * (CASE WHEN id < {n_dup} THEN 0.02 ELSE 0 END)"
        f" * ({noise}) as float))"
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(vec).alias("embedding")
    )


def sig_of(emb, n, params):
    normed = emb.select(
        "vec_id",
        "embedding",
        F.expr(D._NORM_SPARK.format(v="embedding")).alias("norm"),
    )
    scheme, bands, bits = params
    if scheme == "planes":
        return D._emb_plane_signatures(normed, bands, bits, DIM)
    band_val = (
        "aggregate(zip_with(slice(embedding, {off}, %d), sequence(0, %d),"
        " (x, i) -> CASE WHEN cast(x as double) >= 0"
        " THEN shiftleft(1, i) ELSE 0 END),"
        " 0, (acc, b) -> acc + b)" % (bits, bits - 1)
    )
    return normed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(band_val.format(off=s + 1)).alias(
                            "band_val"
                        ),
                    )
                    for b, s in enumerate(D._emb_band_starts(DIM))
                ]
            )
        ).alias("bv"),
    ).select("vec_id", "bv.band", "bv.band_val")


def candidate_count(spark, n, params) -> tuple[int, float]:
    emb = gen_embeddings(spark, n).cache()
    emb.count()
    sig = sig_of(emb, n, params).cache()
    sig.count()
    t0 = time.perf_counter()
    cnt = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .count()
    )
    dt = time.perf_counter() - t0
    emb.unpersist()
    sig.unpersist()
    return cnt, round(dt, 2)


def full_pipeline(spark, n) -> dict:
    """End-to-end auto-routed scale path (params from _emb_lsh_params)
    + planted-pair recall."""
    emb = gen_embeddings(spark, n)
    free_session_caches()
    t0 = time.perf_counter()
    pairs = D._emb_lsh_pairs(emb, DIM, n)
    found = {
        (r.vec_a, r.vec_b)
        for r in pairs.where(F.col("cosine") >= 0.9).collect()
    }
    dt = round(time.perf_counter() - t0, 2)
    n_dup = max(n // 100, 2)
    planted = {(2 * k, 2 * k + 1) for k in range(n_dup // 2)}
    recall = len(found & planted) / len(planted)
    return {
        "n": n,
        "params": D._emb_lsh_params(n),
        "sec": dt,
        "planted": len(planted),
        "recall_at_0.99": round(recall, 4),
    }


def main() -> None:
    # Optional argv: explicit end-to-end n values (e.g. `1000000` to
    # extend the scale curve one doubling in a fresh session without
    # re-running the committed smaller points).
    e2e_ns = (
        tuple(int(a) for a in sys.argv[1:])
        if len(sys.argv) > 1
        else (250_000, 500_000)
    )
    spark = get_spark(app_name="emb-lsh-probe")
    tune_session(spark)
    # candidate volume: legacy 6-bit windows vs log2(n) hyperplanes
    # (skipped when explicit e2e ns are given — it is an n-independent
    # scheme comparison already recorded at 30k)
    for n in (30_000,) if len(sys.argv) <= 1 else ():
        for label, params in (
            ("legacy_windows_16x6", ("windows", 16, 6)),
            ("planes_32xlog2n", D._emb_lsh_params(n + D._EMB_LSH_MIN)),
        ):
            cnt, dt = candidate_count(spark, n, params)
            print(
                json.dumps(
                    {
                        "probe": "candidates",
                        "n": n,
                        "scheme": label,
                        "candidates": cnt,
                        "join_sec": dt,
                    }
                ),
                flush=True,
            )
    # end-to-end scale tier (auto params kick in above _EMB_LSH_MIN)
    for n in e2e_ns:
        print(json.dumps(full_pipeline(spark, n)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
