"""Ticker/term-mention extraction and co-mention analysis.

Mirror of the reference's reddit ticker-mention path: raw text is
scanned for candidate symbols, validated against the known-symbol list
with metadata enrichment (``stg_reddit_ticker_mentions.sql:13-31`` —
the LEFT JOIN to ``stg_sp500_companies_active`` and the ``is_sp500``
flag), then rolled up into mention trends
(``agent_reddit_sentiment_trends.sql`` / ``reddit_sentiment_trends``
count aggregates).

Two operators over the documents table:

- ``term_mentions``: regexp_extract_all over the text -> explode ->
  per (source, term) totals: occurrences, distinct docs, mean mentions
  per mentioning doc, share of the source's docs; watchlist metadata
  joined broadcast, with the validated flag.
- ``term_co_mentions``: distinct (doc, term) pairs self-joined on
  doc_id (term_a < term_b) -> co-occurrence counts per pair — the
  mention graph edge list.

Scale: extraction is a map-only regexp over the corpus (JVM regex, no
UDF); explode fans out ~mentions rows; both rollups are hash-aggs on
(source, term) / (term_a, term_b). The co-mention self-join joins the
deduped (doc, term) relation on doc_id — bounded by watchlist size per
doc (<= |watchlist| terms), not text length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

WATCHLIST = [
    ("spark", "Spark Corp", "Technology"),
    ("hash", "Hash Industries", "Technology"),
    ("join", "Join Holdings", "Financial"),
    ("merge", "Merge Partners", "Financial"),
    ("scan", "Scan Systems", "Industrial"),
    ("window", "Window Materials", "Industrial"),
]

_TERMS = [t for t, _, _ in WATCHLIST]
_PATTERN = r"\b(" + "|".join(_TERMS) + r")\b"

_SEED_SQL = ", ".join(
    f"('{t}', '{n}', '{s}')" for t, n, s in WATCHLIST
)

_MENTIONS_ORACLE = f"""
WITH exploded AS (
  SELECT d.doc_id, d.source, UNNEST(regexp_extract_all(d.text,
         '{_PATTERN}', 1)) AS term
  FROM documents d
),
per_doc AS (
  SELECT source, term, doc_id, CAST(COUNT(*) AS BIGINT) AS n_in_doc
  FROM exploded GROUP BY source, term, doc_id
),
src_totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_in_source
  FROM documents GROUP BY source
),
seed(term, company_name, sector) AS (VALUES {_SEED_SQL})
SELECT p.source, p.term, s.company_name, s.sector,
  (s.term IS NOT NULL) AS is_validated,
  CAST(SUM(p.n_in_doc) AS BIGINT) AS n_mentions,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  (CAST(SUM(p.n_in_doc) AS DOUBLE) / COUNT(*)) AS mentions_per_doc,
  (COUNT(*) * 100.0 / MAX(t.n_docs_in_source)) AS pct_of_source_docs
FROM per_doc p
LEFT JOIN seed s ON p.term = s.term
JOIN src_totals t ON p.source = t.source
GROUP BY p.source, p.term, s.company_name, s.sector, s.term
ORDER BY p.source, p.term
"""


@query("term_mentions", oracle=_MENTIONS_ORACLE)
def term_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all("text", F.lit(_PATTERN), 1)
        ).alias("term"),
    )
    per_doc = exploded.groupBy("source", "term", "doc_id").agg(
        F.count("*").alias("n_in_doc")
    )
    src_totals = docs.groupBy("source").agg(
        F.count("*").alias("n_docs_in_source")
    )
    seed = spark.createDataFrame(
        WATCHLIST, ["term", "company_name", "sector"]
    ).withColumn("seed_term", F.col("term"))
    return (
        per_doc.join(
            F.broadcast(seed), on="term", how="left"
        )
        .join(F.broadcast(src_totals), on="source")
        .groupBy(
            "source", "term", "company_name", "sector", "seed_term"
        )
        .agg(
            F.sum("n_in_doc").cast("long").alias("n_mentions"),
            F.count("*").cast("long").alias("n_docs"),
            (
                F.sum("n_in_doc").cast("double") / F.count("*")
            ).alias("mentions_per_doc"),
            (
                F.count("*") * 100.0 / F.max("n_docs_in_source")
            ).alias("pct_of_source_docs"),
        )
        .select(
            "source",
            "term",
            "company_name",
            "sector",
            F.col("seed_term").isNotNull().alias("is_validated"),
            "n_mentions",
            "n_docs",
            "mentions_per_doc",
            "pct_of_source_docs",
        )
        .orderBy("source", "term")
    )


_CO_ORACLE = f"""
WITH raw AS (
  SELECT d.doc_id, UNNEST(regexp_extract_all(d.text,
         '{_PATTERN}', 1)) AS term
  FROM documents d
),
exploded AS (
  SELECT DISTINCT doc_id, term FROM raw
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM exploded a JOIN exploded b
    ON a.doc_id = b.doc_id AND a.term < b.term
)
SELECT term_a, term_b, CAST(COUNT(*) AS BIGINT) AS n_docs_together
FROM pairs
GROUP BY term_a, term_b
ORDER BY term_a, term_b
"""


@query("term_co_mentions", oracle=_CO_ORACLE)
def term_co_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the deduped mention set is TINY (<= |watchlist| terms per doc)
    # but deriving it means a full regexp pass over the text column —
    # cached so the self-join's two subtrees share ONE corpus scan
    # instead of re-extracting per side (2x wide IO at 100 TB; there
    # the mention set is a materialized extraction table)
    exploded = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text", F.lit(_PATTERN), 1)
            ).alias("term"),
        )
        .distinct()
        .cache()
    )
    a = exploded.select(
        F.col("doc_id"), F.col("term").alias("term_a")
    )
    b = exploded.select(
        F.col("doc_id"), F.col("term").alias("term_b")
    )
    return (
        a.join(
            b,
            (a.doc_id == b.doc_id) & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("long").alias("n_docs_together"))
        .orderBy("term_a", "term_b")
    )
