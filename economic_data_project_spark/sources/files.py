"""File-based sources: binary document ingestion and CSV seed tables.

- ``read_binary_documents`` mirrors the reference's GCS document source
  (document_extraction/sources/sec_filings.yml:1-22: glob over
  HTML/JSON/PDF objects, incremental by object generation): Spark's
  ``binaryFile`` format yields (path, modificationTime, length, content)
  — content stays an opaque binary column for the multimodal/document
  pipeline; `path` carries the object identity the reference's registry
  keys on. Incremental behavior = path/modificationTime high-watermark
  (Warehouse.incremental_upsert), standing in for Auto Loader.
- ``read_seed`` mirrors dbt seeds (dbt_project/seeds/
  fred_series_mapping.csv): small CSV lookup tables loaded with explicit
  header+schema inference bounds and intended for broadcast joins.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


def read_binary_documents(
    spark: SparkSession, glob_path: str, pattern: str | None = None
) -> DataFrame:
    """Opaque-binary document scan with object identity + size metadata."""
    reader = spark.read.format("binaryFile")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    df = reader.load(glob_path)
    return df.select(
        F.col("path").alias("object_path"),
        F.element_at(F.split("path", "/"), -1).alias("object_name"),
        F.col("modificationTime").alias("modified_at"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
        F.md5("content").alias("content_hash"),
    )


def read_seed(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """CSV seed loader; pass an explicit DDL schema in production —
    inference is allowed only for the tiny lookup-table case."""
    reader = spark.read.option("header", True)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


DOCUMENTS_JSONL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_jsonl_documents(
    spark: SparkSession,
    glob_path: str,
    schema: str = DOCUMENTS_JSONL_SCHEMA,
) -> DataFrame:
    """JSON-lines corpus reader — the interchange format most raw
    pre-training corpora actually arrive in (one JSON object per line,
    usually .jsonl/.jsonl.gz shards).

    Contract choices for 100 TB:
    - ALWAYS an explicit schema: schema inference re-reads every shard
      once before the real scan — a full extra pass over the corpus.
    - PERMISSIVE mode with a quarantine column instead of failing the
      job on one malformed line: `_corrupt_record` holds the raw text
      of bad lines; callers split on `_corrupt_record IS NULL` and route
      the quarantine rows to a dead-letter sink. (Columns of a corrupt
      line are NULL, matching the reference warehouse's drifted-type
      tolerance.)
    - gzip/zstd shards decompress transparently via the codec from the
      file extension; each compressed shard is one task (not splittable)
      — shard corpora to ~100-500 MB files upstream, never one big .gz.
    """
    try:
        from pyspark.sql.types import StructType

        names = set(StructType.fromDDL(schema).fieldNames())
    except Exception:
        # fallback FIELD-NAME extraction (flat DDL): a bare substring
        # test would reject legitimate names like raw_corrupt_record
        names = {
            f.strip().split()[0].strip("`")
            for f in schema.split(",")
            if f.strip()
        }
    if "_corrupt_record" in names:
        raise ValueError(
            "schema already declares _corrupt_record; pass the payload"
            " schema only — the quarantine column is appended here"
        )
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(glob_path)
    )


def split_quarantine(
    df: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) halves of a PERMISSIVE jsonl read. The clean
    half drops the quarantine column so downstream schemas stay exact;
    the quarantined half keeps identity (``id_col`` — NULL for fully
    malformed lines) + raw line for the dead-letter sink.

    The parsed frame is CACHED first — required for correctness, not
    just speed: corrupt-record detection depends on which columns the
    scan parses, so an uncached quarantine query (which prunes to few
    columns) disagrees with the clean side about *partially* corrupt
    rows (e.g. one ill-typed field) — Spark refuses such queries
    outright since 2.3 and documents exactly this cache as the
    supported pattern. The cache holds only until both halves are
    consumed — caches.free_session_caches() clears it with every other
    cached frame, so no session owner may free between this split and
    the reads of both halves. A 100 TB ingest would instead run the
    split as ONE pass writing two sinks (foreachBatch / partitioned
    write) over the cached batch of each shard group."""
    if id_col not in df.columns:
        raise ValueError(
            f"id column {id_col!r} not in frame columns {df.columns}"
        )
    df = df.cache()
    clean = df.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    bad = df.where(F.col("_corrupt_record").isNotNull()).select(
        id_col,
        F.col("_corrupt_record").alias("raw_line"),
    )
    return clean, bad


# --------------------------------------------------------------------------
# Driver-contract surface: JSONL ingestion as a registered round-trip
# query — write gzip shards + one planted malformed shard, read back
# PERMISSIVE, split quarantine, and aggregate both halves. The oracle is
# the per-source census of the original table plus the planted
# quarantine count, so a lossy write, a mis-parsed shard, or a broken
# quarantine split all hash-mismatch.
# --------------------------------------------------------------------------

_N_PLANTED_BAD = 2

_JSONL_INGEST_ORACLE = f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
UNION ALL
SELECT '__quarantine__', {_N_PLANTED_BAD}, NULL
ORDER BY source
"""


@query("jsonl_corpus_ingest", oracle=_JSONL_INGEST_ORACLE)
def jsonl_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through gzip .jsonl shards plus a
    planted malformed shard, then census the clean half per source and
    count the dead-letter half.

    The shard dir is deterministic per sf_dir (overwritten on re-run,
    left on disk afterwards because the returned frame reads it
    lazily — one small reused temp dir, not an accumulating leak)."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_jsonl_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    docs.repartition(4).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(out)
    with open(os.path.join(out, "planted_bad.jsonl"), "w") as fh:
        # derived from _N_PLANTED_BAD so the oracle's quarantine count
        # and the planted lines can never drift apart
        for k in range(_N_PLANTED_BAD):
            if k % 2:
                fh.write(f"not json at all ({k})\n")
            else:
                fh.write(f'{{"doc_id": {900001 + k}, "text": "truncated\n')
    # The overwrite-write above already refreshed this path — BEFORE
    # planted_bad.jsonl existed. On repeat invocations the previous
    # run's cached relation over the same path would otherwise be
    # refreshed to a file listing WITHOUT the planted shard (quarantine
    # silently reads 0). Refresh again now that the dir is complete.
    spark.catalog.refreshByPath(out)
    clean, bad = split_quarantine(read_jsonl_documents(spark, out))
    summary = clean.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    quarantine = bad.agg(F.count("*").alias("n_docs")).select(
        F.lit("__quarantine__").alias("source"),
        "n_docs",
        F.lit(None).cast("long").alias("total_chars"),
    )
    return summary.unionByName(quarantine).orderBy("source")


# --------------------------------------------------------------------------
# ORC interchange: the other first-class columnar format Spark ships.
# DuckDB cannot read ORC, so the oracle is the PARQUET truth — a lossy
# write, a read-back type drift, or dropped rows hash-mismatch the
# census.
# --------------------------------------------------------------------------

_ORC_ROUNDTRIP_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents GROUP BY lang ORDER BY lang
"""


@query("orc_corpus_roundtrip", oracle=_ORC_ROUNDTRIP_ORACLE)
def orc_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through ORC shards and census the
    read-back per language against the parquet truth.

    Same deterministic reused temp dir discipline as the jsonl
    round-trip (no hand-planted files here, so the write's own path
    refresh suffices)."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_orc_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    docs.repartition(4).write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# CSV interchange: the lowest-common-denominator corpus format. The
# census carries a TEXT CHECKSUM (order-free bigint sum of an md5
# prefix per document; the SAME cross-engine idiom keys the KMeans
# assignment census's corpus fingerprint, text/ml.py — change both
# sites together) on top of the count/char/id battery, because
# the CSV-specific failure mode is silent content corruption through
# quoting/escaping — a census that only counts rows would pass a file
# whose commas and quotes scrambled the payloads. RFC-4180 discipline:
# quote-doubling escape on write AND read (Spark's default escape is
# backslash, which round-trips with itself but not with other
# readers). Oracle is the parquet truth, as with ORC.
# --------------------------------------------------------------------------

# Full RFC-4180 round-trip contract (ADVICE r7): an explicit null
# marker distinct from the quoted empty string so NULL vs '' survive
# the trip (Spark's defaults collapse both to empty on write and read
# unquoted empty back as null), and `multiLine` on read so embedded
# newlines inside quoted fields don't split records. multiLine makes a
# CSV file non-splittable (one task per file) — the honest cost of
# newline-bearing text in CSV; the writer controls file count via
# repartition, and a 100 TB corpus belongs in parquet/ORC anyway (CSV
# is the interchange path). Value-level proof on a hostile fixture
# (embedded newline/quote/comma, empty string, NULL):
# tests/test_sources_kernels.py::test_csv_roundtrip_rfc4180_hostile.
CSV_CORPUS_WRITE_OPTS: dict[str, str] = {
    "header": "true",
    "quote": '"',
    "escape": '"',  # RFC 4180 quote-doubling
    "nullValue": "\\N",
    "emptyValue": '""',
    # the WRITER trims field whitespace by default (!) — leading/
    # trailing newlines and spaces in document text are payload
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}
CSV_CORPUS_READ_OPTS: dict[str, str] = {
    **CSV_CORPUS_WRITE_OPTS,
    "emptyValue": "",
    "multiLine": "true",
}

_CSV_ROUNDTRIP_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
            AS BIGINT) AS text_checksum
FROM documents GROUP BY lang ORDER BY lang
"""


@query("csv_corpus_roundtrip", oracle=_CSV_ROUNDTRIP_ORACLE)
def csv_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_csv_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    w = docs.repartition(4).write.mode("overwrite")
    for k, v in CSV_CORPUS_WRITE_OPTS.items():
        w = w.option(k, v)
    w.csv(out)
    r = spark.read.schema(
        "doc_id long, text string, lang string,"
        " source string, n_chars long"
    )
    for k, v in CSV_CORPUS_READ_OPTS.items():
        r = r.option(k, v)
    back = r.csv(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum(
                F.expr(
                    "cast(conv(substr(md5(text), 1, 8), 16, 10)"
                    " as bigint)"
                )
            ).alias("text_checksum"),
        )
        .orderBy("lang")
    )
