"""Scaling probe: measure how the shingle/LSH dedup path and the
end-to-end training manifest grow with corpus size at a FIXED near-dup
rate — the empirical check behind the 100 TB posture claims (candidate
pairs ∝ dup rate, signatures linear in corpus, no n^2 term hiding in a
join).

Synthetic corpus (same discipline as bench.py's longdoc lane): tokens
letters-only with a position-QUADRATIC formula so distinct seeds share
zero shingles (no accidental all-pairs collision workload); docs
(2k, 2k+1) share a seed with ~2% token edits for k < n/200 — a fixed
1% planted near-dup rate at every size. ~60 tokens/doc, sf0.1-like.

Usage: python tools/scaling_probe.py [sizes...]   (default 5000 15000 45000)
Prints one JSON line per (n_docs, op): cold build+exec seconds, lane-
isolated (registry + SQL cache freed). Linear growth = each 3x size
step costs ~3x; a superlinear step means a candidate explosion or an
all-pairs scan crept in. r11 run recorded at
tools/bench_snapshots/r11_scaling_probe.log.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from economic_data_project_spark.caches import free_session_caches
from economic_data_project_spark.registry import all_queries
from economic_data_project_spark.session import get_spark, tune_session

_TOKENS_PER_DOC = 60

OPS = [
    "dedup_minhash_lsh",
    "ngram_jaccard_nn",
    "dedup_substring_spans",
    "corpus_training_manifest",
]


def gen_corpus(spark, n_docs: int) -> str:
    out = tempfile.mkdtemp(prefix=f"scaling_{n_docs}_")
    digit_tok = (
        "translate(cast({n} as string), '0123456789', 'abcdefghij')"
    )
    # docs 2k/2k+1 share a seed only for k < n/200 (1% dup rate); all
    # other docs get a UNIQUE seed so they share no shingles
    seed = (
        f"CASE WHEN id < {n_docs} / 100 THEN cast(id / 2 as bigint)"
        f" ELSE id + {n_docs} END"
    )
    tok = (
        "concat('w', "
        + digit_tok.format(
            n=f"pmod(({seed}) * 7919 + i * 104729 + 37 * i * i"
            f" + CASE WHEN i % 30 = 0 AND id < {n_docs} / 100"
            " THEN id % 2 ELSE 0 END, 9973)"
        )
        + ")"
    )
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(sequence(1, {_TOKENS_PER_DOC}),"
                    f" i -> {tok})"
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


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [5000, 15000, 45000]
    spark = get_spark(app_name="scaling-probe")
    tune_session(spark)
    qs = all_queries()
    for n in sizes:
        sf = gen_corpus(spark, n)
        try:
            for op in OPS:
                free_session_caches()
                t0 = time.perf_counter()
                qs[op](spark, sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                print(
                    json.dumps(
                        {
                            "n_docs": n,
                            "op": op,
                            "sec": round(time.perf_counter() - t0, 2),
                        }
                    ),
                    flush=True,
                )
        finally:
            free_session_caches()
            shutil.rmtree(sf, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
