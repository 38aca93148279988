"""Scale probe: run the engine's above-cutover tiers on seeded synthetic
corpora, time every op and check each family's planted answer.

Usage: python tools/scale_probe.py FAMILY [SIZE ...]

Families (default sizes sit above the tier each family exists for):

  dedup       MinHash/n-gram/substring dedup and the training manifest
              over documents with a planted 1% near-dup rate
  corpus_ops  DSIR weights and Gumbel top-k, the NB quality classifier,
              budget selection and the shuffle order
  simhash64   dedup_simhash64; check: every planted exact copy recalled
  ivf         both IVF surfaces past the sqrt-K cutover; check: every
              probe query's planted partner ranks first
  semdedup    SemDeDup on an isotropic corpus and on a hot-cone corpus
              (60% of the vectors in one cone, so one cluster outgrows
              the pair-split cap); check: no planted pair keeps both
  emb         dedup_embedding_cosine through its auto route; check:
              every planted pair recalled at cosine >= 0.99
  components  connected_components on star graphs (groups of 10);
              check: n/10 components, each labelled by its group base

Every op runs through qbench's cache-cold timer (`_timed_rep`: session
caches freed, build inside the timed region) and prints one JSON line
per (family, corpus, size, op). A family with a check sinks through the
check's action instead of the noop writer, so its seconds include that
action. The exit status is 1 if any check failed. The probe only
prints; to record a run, copy its lines into a tools/bench_snapshots/
log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from functools import partial
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from qbench import _timed_rep  # noqa: E402

from economic_data_project_spark.caches import free_session_caches  # noqa: E402
from economic_data_project_spark.registry import all_queries  # noqa: E402
from economic_data_project_spark.session import get_spark  # noqa: E402
from economic_data_project_spark.similarity.ann import _N_QUERIES  # noqa: E402
from economic_data_project_spark.similarity.semdedup import semdedup_k  # noqa: E402
from economic_data_project_spark.text.dedup import connected_components  # noqa: E402

_TOKENS_PER_DOC = 60


def _parts(n: int) -> int:
    """Files/partitions for an n-row input: enough splits to keep every
    core busy at scale, one for a tiny corpus."""
    return max(1, min(32, n // 2048))


# ------------------------------------------------------------- generators


def documents(spark, out: str, n: int, *, edited: bool) -> dict:
    """``documents`` (doc_id, text, lang, source, n_chars): 60 letters-
    only tokens per doc. Docs (2k, 2k+1) for k < n/200 share a seed (a
    planted 1% near-dup rate); with ``edited`` the copy differs in one
    token in 30, otherwise it is exact. Every other doc has its own
    seed, and the position-quadratic token formula over a ~2^30 prime
    modulus keeps distinct seeds from sharing any 3-token shingle (a
    small modulus repeats docs every <modulus> seeds). About 42% of the
    docs are lang='en' (the DSIR target) and sources src0-src3 (the NB
    curated positives) carry their own tokens, so both models fit a
    real signal."""
    pairs = n // 200
    seed = f"CASE WHEN id < {2 * pairs} THEN id div 2 ELSE id END"

    def letters(x: str) -> str:
        return (
            f"translate(cast({x} as string), '0123456789', 'abcdefghij')"
        )

    edit = (
        f" + CASE WHEN i % 30 = 0 AND id < {2 * pairs} THEN id % 2"
        " ELSE 0 END"
        if edited
        else ""
    )
    lang = (
        "element_at(array('en','en','en','en','en','zh','zh','es',"
        f"'es','fr','fr','de'), cast(pmod({seed}, 12) + 1 as int))"
    )
    tok = (
        f"CASE WHEN i % 6 = 0"
        f" THEN concat('l', {lang}, {letters(f'pmod(i * 31 + {seed}, 97)')})"
        f" WHEN i % 13 = 0 AND pmod({seed}, 20) < 4"
        f" THEN concat('q', {letters(f'pmod(i * 17 + {seed}, 89)')})"
        " ELSE concat('w', "
        + letters(
            f"pmod(({seed}) * 7919 + i * 104729 + 37 * i * i{edit},"
            " 982451653)"
        )
        + ") END"
    )
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(sequence(1, {_TOKENS_PER_DOC}), i -> {tok})"
                ),
            ).alias("text"),
            F.expr(lang).alias("lang"),
            F.expr(f"concat('src', pmod({seed}, 20))").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(_parts(n))
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )
    return {"pairs": [(2 * k, 2 * k + 1) for k in range(pairs)]}


def vectors(
    spark, out: str, n: int, *, dim: int, noise: float, layout: str
) -> dict:
    """``embeddings`` (vec_id, embedding float32, label): seeded Gaussian
    vectors in which vector b of each planted pair (a, b) is vector a
    plus ``noise`` Gaussian noise. Layouts:

    - ``queries``: vector _N_QUERIES+i copies IVF probe query i;
    - ``tail``: the last 1% of ids are (2k, 2k+1) copy pairs;
    - ``hot_cone``: clustering seeds on the K smallest ids, so id 0 is
      the cone axis, ids 1..K-1 stay isotropic anchors and the next 60%
      of ids sit within 0.05 noise of the axis (one cluster takes the
      whole cone); the last n/200 ids copy cone members.
    """
    rng = np.random.RandomState(n)
    V = rng.normal(size=(n, dim))
    m = max(1, n // 200)
    hot = 0
    if layout == "queries":
        pairs = [(i, _N_QUERIES + i) for i in range(_N_QUERIES)]
    elif layout == "tail":
        pairs = [(n - 2 * m + 2 * j, n - 2 * m + 2 * j + 1) for j in range(m)]
    else:
        k = semdedup_k(n)
        hot = int(0.6 * n)
        V[0] /= np.linalg.norm(V[0])
        V[k : k + hot] = V[0] + 0.05 * rng.normal(size=(hot, dim))
        pairs = [(k + j, n - m + j) for j in range(m)]
    a, b = (np.array(side) for side in zip(*pairs))
    V[b] = V[a] + noise * rng.normal(size=(len(pairs), dim))
    path = os.path.join(out, "embeddings.parquet")
    os.makedirs(path)
    for i, ids in enumerate(np.array_split(np.arange(n), _parts(n))):
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (len(ids) + 1) * dim, dim, np.int32)),
            pa.array(V[ids].astype(np.float32).ravel()),
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": emb,
                    "label": pa.array(ids % 10, pa.int32()),
                }
            ),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return {"pairs": pairs, "hot": hot}


def stars(spark, out: str, n: int) -> dict:
    """``edges.parquet`` (doc_a, doc_b): nodes 0..n-1 in groups of 10,
    edges (10g, 10g+j) for j = 1..9 — diameter 2, so the label loop
    runs a constant number of rounds at any n."""
    groups = n // 10
    (
        spark.range(groups)
        .select(
            (F.col("id") * 10).alias("doc_a"),
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("j"),
        )
        .select("doc_a", (F.col("doc_a") + F.col("j")).alias("doc_b"))
        .repartition(_parts(n))
        .write.mode("overwrite")
        .parquet(os.path.join(out, "edges.parquet"))
    )
    return {"groups": groups}


# ----------------------------------------------------------------- checks


def _recall(a: str, b: str, where: str = "true") -> Callable:
    """Check: every planted (a, b) pair is an output row passing
    ``where``."""

    def check(df, truth: dict) -> dict:
        found = {
            (r[0], r[1]) for r in df.where(where).select(a, b).collect()
        }
        hits = sum(p in found for p in truth["pairs"])
        return {
            "rows": len(found),
            "planted": len(truth["pairs"]),
            "recalled": hits,
            "ok": hits == len(truth["pairs"]),
        }

    return check


def _semdedup_check(df, truth: dict) -> dict:
    """Check: no planted pair keeps both members, and on the hot cone
    one cluster holds at least half of the cone."""
    pdf = df.select("vec_id", "cluster", "is_dup").toPandas()
    dup = dict(zip(pdf["vec_id"], pdf["is_dup"]))
    both_kept = sum(not dup[a] and not dup[b] for a, b in truth["pairs"])
    max_cluster = int(pdf["cluster"].value_counts().max())
    return {
        "rows": len(pdf),
        "flagged": int(pdf["is_dup"].sum()),
        "max_cluster": max_cluster,
        "both_kept": both_kept,
        "ok": both_kept == 0 and 2 * max_cluster >= truth["hot"],
    }


def _components_check(df, truth: dict) -> dict:
    """Check: exactly n/10 components, every node labelled by its group
    base."""
    bad, n_comp, n_rows = df.agg(
        F.sum(
            (
                F.col("component_id") != F.floor(F.col("doc_id") / 10) * 10
            ).cast("long")
        ),
        F.countDistinct("component_id"),
        F.count("*"),
    ).first()
    return {
        "components": int(n_comp),
        "mislabeled": int(bad or 0),
        "ok": bad == 0
        and n_comp == truth["groups"]
        and n_rows == 10 * truth["groups"],
    }


# ------------------------------------------------------------ the table


class Family(NamedTuple):
    corpora: dict  # corpus name -> generator(spark, out_dir, n) -> truth
    ops: tuple
    check: Callable | None  # (DataFrame, truth) -> facts with "ok"
    sizes: tuple


_EDGE_OPS = {
    "connected_components": lambda spark, d: connected_components(
        spark.read.parquet(os.path.join(d, "edges.parquet")), "doc_a", "doc_b"
    ),
}

FAMILIES = {
    "dedup": Family(
        {"docs": partial(documents, edited=True)},
        (
            "dedup_minhash_lsh",
            "ngram_jaccard_nn",
            "dedup_substring_spans",
            "corpus_training_manifest",
        ),
        None,
        (5_000, 15_000, 45_000),
    ),
    "corpus_ops": Family(
        {"docs": partial(documents, edited=True)},
        (
            "dsir_importance_weights",
            "dsir_gumbel_topk",
            "nb_quality_classifier",
            "corpus_budget_selection",
            "corpus_shuffle_order",
        ),
        None,
        (25_000, 75_000, 225_000),
    ),
    "simhash64": Family(
        {"docs": partial(documents, edited=False)},
        ("dedup_simhash64",),
        _recall("doc_a", "doc_b"),
        (1_200_000,),
    ),
    "ivf": Family(
        {"vectors": partial(vectors, dim=64, noise=0.01, layout="queries")},
        ("ann_ivf_topk", "ann_ivf_topk_int8"),
        _recall("query_id", "neighbor_id", "rank = 1"),
        (250_000,),
    ),
    "semdedup": Family(
        {
            # dim 64: at dim 32 nearly every vector has a >= eps
            # same-cluster neighbour, which leaves the check vacuous
            "isotropic": partial(vectors, dim=64, noise=1e-3, layout="tail"),
            "hot_cone": partial(
                vectors, dim=32, noise=1e-3, layout="hot_cone"
            ),
        },
        ("dedup_semantic_semdedup",),
        _semdedup_check,
        (60_000,),
    ),
    "emb": Family(
        {"vectors": partial(vectors, dim=64, noise=0.02, layout="tail")},
        ("dedup_embedding_cosine",),
        _recall("vec_a", "vec_b", "cosine >= 0.99"),
        (250_000,),
    ),
    "components": Family(
        {"stars": stars},
        ("connected_components",),
        _components_check,
        (2_000_000,),
    ),
}


def run(spark, family: str, sizes=()) -> list[dict]:
    """Time every (corpus, size, op) of one family; returns the records
    it printed."""
    fam = FAMILIES[family]
    records = []
    for n in sizes or fam.sizes:
        for corpus, gen in fam.corpora.items():
            out = tempfile.mkdtemp(prefix=f"scale_probe_{family}_")
            try:
                truth = gen(spark, out, n)
                for op in fam.ops:
                    build = _EDGE_OPS.get(op) or all_queries()[op]
                    facts: dict = {}
                    sink = None
                    if fam.check is not None:

                        def sink(df, truth=truth, facts=facts):
                            facts.update(fam.check(df, truth))

                    sec = _timed_rep(
                        spark,
                        lambda: build(spark, out),
                        f"{family}:{corpus}:{op}@{n}",
                        sink,
                    )
                    rec = {
                        "family": family,
                        "corpus": corpus,
                        "n": n,
                        "op": op,
                        "sec": sec,
                        **facts,
                    }
                    print(json.dumps(rec), flush=True)
                    records.append(rec)
            finally:
                free_session_caches()
                shutil.rmtree(out, ignore_errors=True)
    return records


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
    )
    ap.add_argument("family", choices=sorted(FAMILIES))
    ap.add_argument("sizes", nargs="*", type=int)
    args = ap.parse_args()
    spark = get_spark(app_name=f"scale-probe-{args.family}")
    records = run(spark, args.family, args.sizes)
    spark.stop()
    sys.exit(0 if all(r.get("ok", True) for r in records) else 1)


if __name__ == "__main__":
    main()
