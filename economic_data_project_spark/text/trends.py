"""Sentiment trend rollups — the reddit sentiment/engagement chain.

Mirror of ``dbt_project/models/analysis/reddit_sentiment_trends.sql``:
daily engagement stats per community (counts, mean/median/p75/p90
score, max, ratios, :7-24), daily sentiment stats from the scored
relation (mean compound, pct positive/negative, :27-42), LEFT-joined
(:45-60), 7-day PRIOR rolling baselines (ROWS 7 PRECEDING..1
PRECEDING, :63-87), momentum percentages vs those baselines, and the
bullish/bearish/positive/negative/neutral trend ladder (:90-123).

Mapping: community = the document ``source``; the corpus has no
timestamps, so each doc gets a deterministic pseudo partition_date
(epoch + doc_id mod 90 days — a pure function of the key, same idea as
the hash-gate sampler); engagement score = n_chars; the sentiment
input is the repo's ``sentiment_lexicon_scores`` relation
(operators/advanced.py) re-used as a shared CTE — the composed-model
shape of the reference's stg_reddit_sentiment ref.

Determinism: means emitted unrounded (clean-decimal quotients tie at
display rounding); exact percentiles (QUANTILE_CONT <-> F.percentile);
momentum ratios are identical-op doubles.

Scale: two hash-aggs per (source, date) + one 8-row window per source —
the same layout as the reference; lexicon scoring is a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.advanced import _LEX_VALUES, LEXICON
from ..registry import query

DEC = "decimal(28,6)"
_DATE_MOD = 90

_ORACLE = f"""
WITH dated AS (
  SELECT *, DATE '1995-01-01' + CAST(doc_id % {_DATE_MOD} AS INTEGER)
              AS partition_date
  FROM documents
),
daily_engagement AS (
  SELECT partition_date, source,
    CAST(COUNT(*) AS BIGINT) AS num_posts,
    (CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
      AS avg_score,
    QUANTILE_CONT(n_chars, 0.5) AS median_score,
    QUANTILE_CONT(n_chars, 0.75) AS p75_score,
    QUANTILE_CONT(n_chars, 0.9) AS p90_score,
    CAST(MAX(n_chars) AS BIGINT) AS max_score
  FROM dated GROUP BY 1, 2
),
lex(term, polarity, weight) AS (VALUES {_LEX_VALUES}),
tok AS (
  SELECT doc_id, t.term AS term, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+'))
               AS term FROM documents) t
  GROUP BY doc_id, t.term
),
scored AS (
  SELECT tok.doc_id,
    CAST(SUM(CASE WHEN lex.polarity = 'pos'
             THEN tok.n * lex.weight ELSE 0 END) AS DOUBLE) AS pos_score,
    CAST(SUM(CASE WHEN lex.polarity = 'neg'
             THEN tok.n * lex.weight ELSE 0 END) AS DOUBLE) AS neg_score
  FROM tok JOIN lex ON tok.term = lex.term
  GROUP BY tok.doc_id
),
doc_sentiment AS (
  SELECT d.partition_date, d.source,
    ((s.pos_score - s.neg_score)
     / GREATEST(s.pos_score + s.neg_score, 1.0)) AS compound
  FROM dated d JOIN scored s ON d.doc_id = s.doc_id
),
daily_sentiment AS (
  SELECT partition_date, source,
    CAST(COUNT(*) AS BIGINT) AS total_scored,
    (CAST(SUM(CAST(compound AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
      AS avg_compound,
    (SUM(CASE WHEN compound > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*))
      AS pct_positive,
    (SUM(CASE WHEN compound < 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*))
      AS pct_negative
  FROM doc_sentiment GROUP BY 1, 2
),
combined AS (
  SELECT e.*, s.total_scored, s.avg_compound, s.pct_positive,
         s.pct_negative
  FROM daily_engagement e
  LEFT JOIN daily_sentiment s
    ON e.partition_date = s.partition_date AND e.source = s.source
),
with_rolling AS (
  SELECT *,
    ({{wavg_score}}) AS weekly_avg_score,
    ({{wavg_posts}}) AS weekly_avg_posts,
    ({{wavg_comp}}) AS weekly_avg_sentiment
  FROM combined
  WINDOW wk AS (PARTITION BY source ORDER BY partition_date
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT *,
  (CASE WHEN weekly_avg_score > 0
        THEN (avg_score - weekly_avg_score) / weekly_avg_score * 100
        ELSE 0 END) AS score_momentum_pct,
  (CASE WHEN weekly_avg_posts > 0
        THEN (num_posts - weekly_avg_posts) / weekly_avg_posts * 100
        ELSE 0 END) AS activity_momentum_pct,
  (CASE WHEN weekly_avg_sentiment IS NOT NULL
        THEN avg_compound - weekly_avg_sentiment END)
    AS sentiment_momentum,
  (CASE
     WHEN avg_compound > 0.05
          AND avg_score > COALESCE(weekly_avg_score, 0) THEN 'bullish'
     WHEN avg_compound < -0.05
          AND avg_score < COALESCE(weekly_avg_score, 0) THEN 'bearish'
     WHEN avg_compound > 0.05 THEN 'positive'
     WHEN avg_compound < -0.05 THEN 'negative'
     ELSE 'neutral' END) AS sentiment_trend
FROM with_rolling
ORDER BY partition_date, source
""".format(
    wavg_score=(
        "CAST(SUM(CAST(avg_score AS DECIMAL(28,6))) OVER wk AS DOUBLE)"
        " / COUNT(avg_score) OVER wk"
    ),
    wavg_posts=(
        "CAST(SUM(CAST(num_posts AS DECIMAL(28,6))) OVER wk AS DOUBLE)"
        " / COUNT(num_posts) OVER wk"
    ),
    wavg_comp=(
        "CAST(SUM(CAST(avg_compound AS DECIMAL(28,6))) OVER wk AS DOUBLE)"
        " / COUNT(avg_compound) OVER wk"
    ),
)


@query("sentiment_trends", oracle=_ORACLE)
def sentiment_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # narrow doc-level frame (no text), cached: the engagement
    # aggregate and the per-doc sentiment join both consume it, and
    # uncached each re-scanned the fact table (2 of this query's 3
    # cold passes). Dimension columns only — KBs per million docs.
    dated = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.date_add(
                F.lit("1995-01-01").cast("date"),
                (F.col("doc_id") % _DATE_MOD).cast("int"),
            ).alias("partition_date"),
        ).cache()
    )
    daily_engagement = dated.groupBy("partition_date", "source").agg(
        F.count("*").cast("long").alias("num_posts"),
        (
            F.sum(F.col("n_chars").cast(DEC)).cast("double")
            / F.count("*")
        ).alias("avg_score"),
        F.percentile("n_chars", F.lit(0.5)).alias("median_score"),
        F.percentile("n_chars", F.lit(0.75)).alias("p75_score"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90_score"),
        F.max("n_chars").cast("long").alias("max_score"),
    )

    lex = spark.createDataFrame(
        [(t, pol, w) for t, (pol, w) in LEXICON.items()],
        "term string, polarity string, weight double",
    )
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("n"))
    )
    scored = (
        tok.join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("polarity") == "pos",
                    F.col("n") * F.col("weight"),
                ).otherwise(0.0)
            ).alias("pos_score"),
            F.sum(
                F.when(
                    F.col("polarity") == "neg",
                    F.col("n") * F.col("weight"),
                ).otherwise(0.0)
            ).alias("neg_score"),
        )
    )
    compound = (F.col("pos_score") - F.col("neg_score")) / F.greatest(
        F.col("pos_score") + F.col("neg_score"), F.lit(1.0)
    )
    doc_sentiment = dated.select("doc_id", "partition_date", "source").join(
        scored, on="doc_id"
    ).select("partition_date", "source", compound.alias("compound"))
    daily_sentiment = doc_sentiment.groupBy(
        "partition_date", "source"
    ).agg(
        F.count("*").cast("long").alias("total_scored"),
        (
            F.sum(F.col("compound").cast(DEC)).cast("double")
            / F.count("*")
        ).alias("avg_compound"),
        (
            F.sum(F.when(F.col("compound") > 0, 1).otherwise(0))
            * 100.0
            / F.count("*")
        ).alias("pct_positive"),
        (
            F.sum(F.when(F.col("compound") < 0, 1).otherwise(0))
            * 100.0
            / F.count("*")
        ).alias("pct_negative"),
    )
    combined = daily_engagement.join(
        daily_sentiment, on=["partition_date", "source"], how="left"
    )
    wk = (
        Window.partitionBy("source")
        .orderBy("partition_date")
        .rowsBetween(-7, -1)
    )

    def wavg(c: str):
        return F.sum(F.col(c).cast(DEC)).over(wk).cast(
            "double"
        ) / F.count(c).over(wk)

    rolled = combined.select(
        "*",
        wavg("avg_score").alias("weekly_avg_score"),
        wavg("num_posts").alias("weekly_avg_posts"),
        wavg("avg_compound").alias("weekly_avg_sentiment"),
    )
    return rolled.select(
        "*",
        F.when(
            F.col("weekly_avg_score") > 0,
            (F.col("avg_score") - F.col("weekly_avg_score"))
            / F.col("weekly_avg_score")
            * 100,
        )
        .otherwise(0.0)
        .alias("score_momentum_pct"),
        F.when(
            F.col("weekly_avg_posts") > 0,
            (F.col("num_posts") - F.col("weekly_avg_posts"))
            / F.col("weekly_avg_posts")
            * 100,
        )
        .otherwise(0.0)
        .alias("activity_momentum_pct"),
        F.when(
            F.col("weekly_avg_sentiment").isNotNull(),
            F.col("avg_compound") - F.col("weekly_avg_sentiment"),
        ).alias("sentiment_momentum"),
        F.when(
            (F.col("avg_compound") > 0.05)
            & (
                F.col("avg_score")
                > F.coalesce("weekly_avg_score", F.lit(0))
            ),
            "bullish",
        )
        .when(
            (F.col("avg_compound") < -0.05)
            & (
                F.col("avg_score")
                < F.coalesce("weekly_avg_score", F.lit(0))
            ),
            "bearish",
        )
        .when(F.col("avg_compound") > 0.05, "positive")
        .when(F.col("avg_compound") < -0.05, "negative")
        .otherwise("neutral")
        .alias("sentiment_trend"),
    ).orderBy("partition_date", "source")
