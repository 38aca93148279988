"""Steady-state same-session A/B: dedup_incremental_minhash r9 shape
(split bound + incoming universe from NARROW documents doc_id scans —
2 outside-cache scans, within the gate) vs the r10 shape (both off the
cached shingle frame). VERDICT r10 'Next round' #1.

Protocol (per the repo bench notes / MEMORY bench-discipline): one
session, each shape run cold (registry + SQL cache freed) then twice
more warm; both orderings (A,B then B,A) so JVM drift can't pick the
winner. Run on a quiet box (load_start < 1)."""

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
from economic_data_project_spark.catalog import load_table
from economic_data_project_spark.session import get_spark, tune_session
from economic_data_project_spark.text import dedup as D

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def r10_shape(spark, sf_dir):
    return D.dedup_incremental_minhash(spark, sf_dir)


def r9_shape(spark, sf_dir):
    """The pre-858fae2 shape, reconstructed: split + universe from
    narrow documents doc_id scans (column-pruned, nearly free), bands
    and verification off the shared shingle cache."""
    sh = D._shingled(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    split = F.broadcast(
        d.agg(
            F.expr(
                f"(max(doc_id) + 1) * {D._INCR_NUM} div {D._INCR_DEN}"
            ).alias("split")
        )
    )
    sh2 = sh.crossJoin(split)
    existing = sh2.where(F.col("doc_id") < F.col("split")).drop("split")
    incoming = sh2.where(F.col("doc_id") >= F.col("split")).drop("split")
    ex_bands = D._bands_of(existing).select(
        F.col("doc_id").alias("ex_id"), "band_id", "band_val"
    )
    in_bands = D._bands_of(incoming).select(
        F.col("doc_id").alias("in_id"), "band_id", "band_val"
    )
    cand = (
        in_bands.join(ex_bands, ["band_id", "band_val"])
        .select("in_id", "ex_id")
        .distinct()
    )
    sh_i = sh.select(
        F.col("doc_id").alias("in_id"), F.col("shingles").alias("sh_i")
    )
    sh_e = sh.select(
        F.col("doc_id").alias("ex_id"), F.col("shingles").alias("sh_e")
    )
    verified = (
        cand.join(sh_i, "in_id")
        .join(sh_e, "ex_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_i", "sh_e"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_i") + F.size("sh_e") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= D._JACCARD_THRESHOLD)
    )
    agg = verified.groupBy("in_id").agg(
        F.count("*").cast("long").alias("n_dup_matches"),
        F.expr(f"max_by(ex_id, {D._BEST_KEY})").alias("best_match_id"),
        F.max("jaccard").alias("best_jaccard"),
    )
    incoming_universe = (
        d.select("doc_id")
        .crossJoin(split)
        .where(F.col("doc_id") >= F.col("split"))
        .select("doc_id")
    )
    return (
        incoming_universe.join(
            agg, incoming_universe.doc_id == agg.in_id, "left"
        )
        .select(
            "doc_id",
            F.coalesce("n_dup_matches", F.lit(0).cast("long")).alias(
                "n_dup_matches"
            ),
            "best_match_id",
            "best_jaccard",
            F.col("in_id").isNull().alias("is_new"),
        )
        .orderBy("doc_id")
    )


def run_once(spark, fn) -> float:
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def lane(spark, label, fn, out):
    free_session_caches()
    reps = [run_once(spark, fn) for _ in range(3)]
    out.setdefault(label, []).append(reps)


def main() -> None:
    load = os.getloadavg()
    spark = get_spark(app_name="ab-incremental")
    tune_session(spark)
    # warm the JVM once, off-lane
    load_table(spark, SF_DIR, "documents").limit(1).collect()
    out: dict[str, list[list[float]]] = {}
    for label, fn in (
        ("r10_cached_shingle", r10_shape),
        ("r9_narrow_docscan", r9_shape),
        ("r9_narrow_docscan", r9_shape),
        ("r10_cached_shingle", r10_shape),
    ):
        lane(spark, label, fn, out)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "load_start": [round(x, 2) for x in load],
                "load_end": [round(x, 2) for x in os.getloadavg()],
                "reps": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
