"""Scale probe for the linear corpus-selection family — DSIR
importance weights + Gumbel top-k, the NB quality classifier, budget
selection and the shuffle order — whose 100 TB posture has so far
rested on construction arguments (one cached (doc,gram) scan,
B=4096 / vocabulary-sized broadcast models, bucket-decomposed
cumsums). This measures the claim the way the dedup family's curves
do: each 3x corpus step must cost ~<=3x.

Synthetic corpus mirrors the driver tables' shape (doc_id, text,
lang, source, n_chars): ~42% lang='en' (the DSIR target), sources
src0..src19 uniform (src0-3 are the NB curated positives), ~60
deterministic tokens/doc from a 9973-word vocabulary with lang- and
curated-biased suffix tokens so both models fit non-degenerate
distributions (an empty positive class or a uniform target would
time the degenerate guard paths instead of the real joins).

Usage: python tools/corpus_ops_scale_probe.py [sizes...]
Default sizes: 25000 75000 225000 (5x/15x/45x the sf0.1 corpus).
Lane-isolated like tools/scaling_probe.py (caches freed per op);
JSON line per (n_docs, op); copy into tools/bench_snapshots/ when
recording a run.
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
    "dsir_importance_weights",
    "dsir_gumbel_topk",
    "nb_quality_classifier",
    "corpus_budget_selection",
    "corpus_shuffle_order",
]


def gen_corpus(spark, n_docs: int) -> str:
    out = tempfile.mkdtemp(prefix=f"corpus_ops_{n_docs}_")
    digit_tok = (
        "translate(cast({n} as string), '0123456789', 'abcdefghij')"
    )
    # base vocabulary ~9973 words, deterministic per (doc, position)
    tok = (
        "concat('w', "
        + digit_tok.format(n="pmod(id * 7919 + i * 104729, 9973)")
        + ")"
    )
    # lang mix ~42% en (weights 5/12) like the driver table; the
    # lang-suffixed token every 6th position skews each language's
    # gram distribution so DSIR's en-target weights are informative
    lang = (
        "element_at(array('en','en','en','en','en','zh','zh','es',"
        "'es','fr','fr','de'), cast(pmod(id, 12) + 1 as int))"
    )
    tok_biased = (
        f"CASE WHEN i % 6 = 0 THEN concat('l', {lang}, "
        + digit_tok.format(n="pmod(i * 31 + id, 97)")
        + f") WHEN i % 13 = 0 AND pmod(id, 20) < 4 THEN concat('q', "
        + digit_tok.format(n="pmod(i * 17 + id, 89)")
        + f") ELSE {tok} END"
    )
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(sequence(1, {_TOKENS_PER_DOC}),"
                    f" i -> {tok_biased})"
                ),
            ).alias("text"),
            F.expr(lang).alias("lang"),
            F.expr("concat('src', pmod(id, 20))").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    df.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [25_000, 75_000, 225_000]
    spark = get_spark(app_name="corpus-ops-scale-probe")
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
    print("PROBE OK", flush=True)


if __name__ == "__main__":
    main()
