"""Document clustering + topic modeling (SURVEY.md §2.10).

Mirrors the reference's dbt-ml models at option-level fidelity:

- TF-IDF features (sec_document_tfidf.yml:23-40): ngram_range [1,2]
  (unigram+bigram union), min_df 2, max_df 0.85, max_features 20000,
  english stop words, token pattern ``[a-zA-Z]{3,20}`` — Spark ML
  pipeline RegexTokenizer -> StopWordsRemover -> NGram(2) -> union ->
  CountVectorizer(minDF/maxDF/vocabSize) -> IDF -> Normalizer(p=2).
- KMeans clusters (sec_document_clusters.yml:14-31: k=8, l2 normalize,
  random_state 0, metrics n_clusters/silhouette/inertia, companions:
  c-TF-IDF top_terms 8, representative_docs 3): one row per cluster
  with size, silhouette (distributed ClusteringEvaluator), inertia
  (training cost), c-TF-IDF top terms, and the 3 docs nearest the
  centroid.
- NMF topics (sec_document_topics.yml:13-24: 8 topics, soft assignment,
  reconstruction error): no Spark-native NMF and no sklearn in this
  container -> seeded multiplicative-update NMF in NumPy on the
  driver-collected TF-IDF matrix. DOCUMENTED DEVIATION from the
  reference's sklearn NMF (same algorithm family, different init).
  The collect is bounded by NMF_MAX_DOCS, mirroring the reference's own
  ``max_objects: 20000`` corpus cap (sec_filings.yml:19) — above the
  cap the query DISPATCHES to the distributed Spark ``LDA`` topic
  model (same output schema; ``reconstruction_error`` then carries the
  LDA corpus log-perplexity as the fit-quality number) instead of
  refusing, so the capability survives a 100 TB corpus. ``doc_topics_lda``
  exposes the LDA path directly at any corpus size.

Both queries are rows-only (no ANSI-SQL oracle exists for iterative
algorithms — the driver records the weaker rows-only check).

Scale notes: featurization is fully distributed (two passes for vocab +
idf); silhouette is a distributed evaluator job; only k x vocab
matrices (centroids, c-TF-IDF) and the capped NMF matrix live on the
driver.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from collections import OrderedDict

import numpy as np
from pyspark.ml.clustering import LDA, KMeans
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.ml.feature import (
    IDF,
    CountVectorizer,
    NGram,
    Normalizer,
    RegexTokenizer,
    StopWordsRemover,
)
from pyspark.ml.functions import vector_to_array
from pyspark.ml.stat import Summarizer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query

K_CLUSTERS = 8
VOCAB_SIZE = 20000
MIN_DF = 2.0
MAX_DF = 0.85
TOP_TERMS = 8
REPRESENTATIVE_DOCS = 3
SEED = 0
NMF_MAX_DOCS = 20000  # reference max_objects cap (sec_filings.yml:19)


def _cv_stage(docs: DataFrame):
    """Tokenize -> stop-filter -> bigram -> CountVectorizer fit; the
    stage every consumer shares. Returns (tokens_df, cv_model). The
    fit SUCCEEDS on an all-excluded corpus (empty vocabulary, warning
    only) — it is the later cv_model.transform that requires a
    non-empty vocabulary, which is why the vocab census stops here."""
    tok = RegexTokenizer(
        inputCol="text",
        outputCol="raw_tokens",
        pattern="[a-zA-Z]{3,20}",
        gaps=False,
        toLowercase=True,
    )
    stop = StopWordsRemover(inputCol="raw_tokens", outputCol="unigrams")
    bigram = NGram(n=2, inputCol="unigrams", outputCol="bigrams")
    cv = CountVectorizer(
        inputCol="tokens",
        outputCol="tf",
        vocabSize=VOCAB_SIZE,
        minDF=MIN_DF,
        maxDF=MAX_DF,
    )
    grams = bigram.transform(stop.transform(tok.transform(docs)))
    tokens = grams.withColumn(
        "tokens", F.concat(F.col("unigrams"), F.col("bigrams"))
    )
    return tokens, cv.fit(tokens)


def _finish_tfidf(tokens: DataFrame, cv_model) -> DataFrame:
    idf = IDF(inputCol="tf", outputCol="tfidf")
    norm = Normalizer(inputCol="tfidf", outputCol="features", p=2.0)
    tf = cv_model.transform(tokens)
    return norm.transform(idf.fit(tf).transform(tf))


def tfidf_features(docs: DataFrame) -> tuple[DataFrame, list[str]]:
    """Distributed 1-2gram TF-IDF featurization; returns (df, vocab)."""
    tokens, cv_model = _cv_stage(docs)
    return _finish_tfidf(tokens, cv_model), list(cv_model.vocabulary)


# Fitted-surface memo (review r13): every census composes its
# underlying ML query, and without memoization a sweep that runs both
# pays the iterative fit (KMeans + silhouette, LDA maxIter=20, the
# 60-step NMF loop, CountVectorizer/IDF) TWICE. Keyed by
# (applicationId, resolved documents path, content fingerprint) — the
# catalog schema-cache invalidation discipline: a rewritten scratch
# corpus re-fits, a dead session's entries are unreachable garbage,
# and a same-key reinsert evicts. The fingerprint is a per-part
# (relpath, size, mtime_ns) tuple over the table's files (ADVICE r13:
# a part file rewritten IN PLACE changes neither the table-dir nor the
# parent-dir mtime, and the old two-stat XOR also admitted theoretical
# cancellation of two simultaneous changes — the per-file walk catches
# both). Memoized values are lazy DataFrames (plus the vocab list for
# the featurization entry): freeing the session caches under them is
# safe — the plan recomputes with the SAME already-fitted JVM model
# captured in it. Capacity is a small LRU (ADVICE r13: scratch pytest
# corpora are unbounded within one long-lived session, so "bounded by
# live (session, corpus) pairs" was unbounded in practice) — eviction
# only drops a cached plan + fitted-model reference; a re-hit re-fits.
_ML_MEMO: "OrderedDict[tuple, tuple]" = OrderedDict()
_ML_MEMO_CAP = 32
# The memo is mutated from sweep/driver-sim worker THREADS (ADVICE
# r14: once eviction engages, a move_to_end on a key another thread
# just evicted raises KeyError and fails a query). All memo
# read-modify-write sits under this lock; build() itself runs OUTSIDE
# it — a concurrent same-key miss may fit twice, and the second
# insert wins, which is correct and never blocks one fit behind
# another.
_ML_MEMO_LOCK = threading.Lock()


def _table_fingerprint(real: str):
    """Content fingerprint for a file- or directory-backed table:
    sorted (relpath, size, mtime_ns) per data file, so an in-place
    part rewrite (same name, same dir mtimes) still invalidates.
    Returns None when the path can't be statted (caller skips memo)."""
    import os

    try:
        if os.path.isdir(real):
            parts = []
            for dirpath, _dirnames, filenames in os.walk(real):
                for fn in filenames:
                    p = os.path.join(dirpath, fn)
                    st = os.stat(p)
                    parts.append(
                        (os.path.relpath(p, real), st.st_size, st.st_mtime_ns)
                    )
            return tuple(sorted(parts))
        st = os.stat(real)
        return ((real, st.st_size, st.st_mtime_ns),)
    except OSError:
        return None


def _memoized(spark: SparkSession, sf_dir: str, name: str, build):
    import os

    from ..catalog import table_path

    real = os.path.realpath(table_path(sf_dir, "documents"))
    fprint = _table_fingerprint(real)
    if fprint is None:
        return build()
    key = (spark.sparkContext.applicationId, real, name)
    with _ML_MEMO_LOCK:
        hit = _ML_MEMO.get(key)
        if hit is not None and hit[0] == fprint:
            _ML_MEMO.move_to_end(key)
            return hit[1]
    val = build()
    with _ML_MEMO_LOCK:
        _ML_MEMO[key] = (fprint, val)
        _ML_MEMO.move_to_end(key)
        while len(_ML_MEMO) > _ML_MEMO_CAP:
            _ML_MEMO.popitem(last=False)
    return val


def _features(spark: SparkSession, sf_dir: str):
    """Memoized (feats, vocab) of the production TF-IDF pipeline; the
    feats frame arrives already cached."""

    def build():
        tokens, cv_model = _cv_fit(spark, sf_dir)
        # the cache outlives the builder — the returned frames read
        # `feats` lazily.
        return (
            _finish_tfidf(tokens, cv_model).cache(),
            list(cv_model.vocabulary),
        )

    return _memoized(spark, sf_dir, "tfidf", build)


def _cv_fit(spark: SparkSession, sf_dir: str):
    """Memoized (tokens, cv_model) — the vocab census consumes this
    directly (it is total even on an empty vocabulary), the full
    featurization builds on it."""
    return _memoized(
        spark,
        sf_dir,
        "cv",
        lambda: _cv_stage(load_table(spark, sf_dir, "documents")),
    )


@query("doc_kmeans_clusters")  # rows-only: iterative ML, no SQL oracle
def doc_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        spark, sf_dir, "kmeans", lambda: _kmeans_clusters(spark, sf_dir)
    )


def _kmeans_model(spark: SparkSession, sf_dir: str):
    """Memoized fitted KMeans model over the production features —
    shared by the cluster summary and the assignment census so a sweep
    that runs both pays the iterative fit once."""

    def build():
        feats, _vocab = _features(spark, sf_dir)
        return KMeans(
            k=K_CLUSTERS, seed=SEED, featuresCol="features"
        ).fit(feats)

    return _memoized(spark, sf_dir, "kmeans_model", build)


def _kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats, vocab = _features(spark, sf_dir)
    model = _kmeans_model(spark, sf_dir)
    out = model.transform(feats).cache()

    # model-level metrics (sec_document_clusters.yml metrics:)
    inertia = float(model.summary.trainingCost)
    silhouette = float(
        ClusteringEvaluator(
            featuresCol="features",
            predictionCol="prediction",
            metricName="silhouette",
            distanceMeasure="squaredEuclidean",
        ).evaluate(out)
    )

    # c-TF-IDF top terms per cluster (k x vocab on the driver only)
    tf_sums = (
        out.groupBy("prediction")
        .agg(Summarizer.sum(F.col("tf")).alias("tf_sum"))
        .collect()
    )
    k = len(tf_sums)
    mat = np.zeros((K_CLUSTERS, len(vocab)))
    for r in tf_sums:
        mat[r.prediction, :] = r.tf_sum.toArray()
    class_totals = np.maximum(mat.sum(axis=1, keepdims=True), 1.0)
    avg_words = float(mat.sum()) / max(k, 1)
    term_freq = np.maximum(mat.sum(axis=0), 1.0)
    ctfidf = (mat / class_totals) * np.log1p(avg_words / term_freq)
    top_terms = {
        c: ", ".join(
            vocab[j] for j in np.argsort(ctfidf[c])[::-1][:TOP_TERMS]
        )
        for c in range(K_CLUSTERS)
    }
    tt = spark.createDataFrame(
        [(c, s) for c, s in top_terms.items()], "cluster int, top_terms string"
    )

    # representative docs: nearest to own centroid, deterministic ties
    centers = model.clusterCenters()
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "prediction int, center array<double>",
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                vector_to_array(F.col("features")),
                F.col("center"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    wnear = Window.partitionBy("prediction").orderBy(
        F.col("centroid_dist"), F.col("doc_id")
    )
    reps = (
        out.select("doc_id", "prediction", "features")
        .join(F.broadcast(cdf), "prediction")
        .withColumn("centroid_dist", dist)
        .withColumn("rn", F.row_number().over(wnear))
        .where(F.col("rn") <= REPRESENTATIVE_DOCS)
        .groupBy("prediction")
        .agg(
            F.concat_ws(
                ",", F.collect_list(F.col("doc_id").cast("string"))
            ).alias("representative_doc_ids")
        )
    )

    sizes = out.groupBy(F.col("prediction")).agg(F.count("*").alias("n_docs"))
    return (
        sizes.join(tt, sizes.prediction == tt.cluster)
        .join(reps, "prediction")
        .select(
            "cluster",
            "n_docs",
            F.lit(silhouette).alias("silhouette"),
            F.lit(inertia).alias("inertia"),
            "top_terms",
            "representative_doc_ids",
        )
        .orderBy("cluster")
    )


def _lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed topic model over term counts: the scale path above the
    NMF driver-side cap (SURVEY §2.10 names Spark LDA as the substitute
    for sklearn NMF at corpus sizes where a driver collect is wrong).
    Emits the SAME schema as the NMF path so ``doc_nmf_topics`` can
    dispatch on corpus size without changing its contract;
    ``reconstruction_error`` carries the corpus log-perplexity (the LDA
    fit-quality analogue of NMF's Frobenius error — documented, not
    comparable across the two algorithms)."""
    feats, vocab = _features(spark, sf_dir)
    lda = LDA(k=K_CLUSTERS, seed=SEED, maxIter=20, featuresCol="tf")
    model = lda.fit(feats)
    out = model.transform(feats)
    log_perplexity = float(model.logPerplexity(feats))

    terms = model.describeTopics(5).collect()
    topic_terms = {
        int(r.topic): ", ".join(vocab[j] for j in r.termIndices)
        for r in terms
    }
    tt = spark.createDataFrame(
        list(topic_terms.items()), "topic int, topic_terms string"
    )

    dist = vector_to_array(F.col("topicDistribution"))
    assigned = (
        out.select("doc_id", dist.alias("dist"))
        .withColumn(
            "topic",
            F.expr("array_position(dist, array_max(dist)) - 1").cast("int"),
        )
        .withColumn("topic_strength", F.array_max("dist"))
    )
    return (
        assigned.join(F.broadcast(tt), "topic")
        .select(
            "doc_id",
            "topic",
            "topic_strength",
            "topic_terms",
            F.lit(log_perplexity).alias("reconstruction_error"),
        )
        .orderBy("doc_id")
    )


@query("doc_topics_lda")  # rows-only: iterative ML, no SQL oracle
def doc_topics_lda(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        spark, sf_dir, "lda", lambda: _lda_topics(spark, sf_dir)
    )


@query("doc_nmf_topics")  # rows-only: iterative ML, no SQL oracle
def doc_nmf_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        spark, sf_dir, "nmf", lambda: _nmf_topics(spark, sf_dir)
    )


def _nmf_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    if n_docs > NMF_MAX_DOCS:
        # Above the reference's max_objects bound a driver-side collect
        # is wrong at scale — dispatch to the distributed LDA path
        # (identical schema) instead of refusing.
        return doc_topics_lda(spark, sf_dir)
    feats, vocab = _features(spark, sf_dir)
    rows = feats.select("doc_id", "tfidf").collect()
    doc_ids = [r.doc_id for r in rows]
    V = np.zeros((len(rows), len(vocab)))
    for i, r in enumerate(rows):
        v = r.tfidf
        V[i, v.indices] = v.values
    rng = np.random.RandomState(SEED)
    k = K_CLUSTERS
    W = rng.uniform(0.1, 1.0, (V.shape[0], k))
    H = rng.uniform(0.1, 1.0, (k, V.shape[1]))
    eps = 1e-9
    for _ in range(60):  # multiplicative updates (Lee & Seung)
        H *= (W.T @ V) / (W.T @ W @ H + eps)
        W *= (V @ H.T) / (W @ H @ H.T + eps)
    recon_err = float(np.linalg.norm(V - W @ H))
    topic = W.argmax(axis=1)
    strength = W.max(axis=1) / np.maximum(W.sum(axis=1), eps)
    top_terms = {
        t: ", ".join(
            vocab[j] for j in np.argsort(H[t])[::-1][:5]
        )
        for t in range(k)
    }
    out = [
        (
            int(doc_ids[i]),
            int(topic[i]),
            float(strength[i]),
            top_terms[int(topic[i])],
            recon_err,
        )
        for i in range(len(doc_ids))
    ]
    return spark.createDataFrame(
        out,
        "doc_id long, topic int, topic_strength double,"
        " topic_terms string, reconstruction_error double",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Driver-visible censuses over the rows-only ML surfaces (VERDICT r12 #4).
#
# The clustering / topic models are iterative — no ANSI-SQL oracle can
# restate them — but each pipeline has DETERMINISTIC, SQL-derivable
# invariants under the fixed seed: assignment totality (every document
# gets exactly one cluster/topic), id-range closure, probability-valid
# strengths, and — the sharp one — the featurization vocabulary size,
# which DuckDB can recompute EXACTLY from the corpus (tokenize ->
# stopword-filter -> bigram -> document-frequency -> min/max-DF filter
# -> vocab cap). These censuses convert the rows-only goldens into
# oracle-backed driver evidence, the stream_neardup_census pattern.
# ---------------------------------------------------------------------------

# Spark ML's default English stop list (StopWordsRemover resource
# org/apache/spark/ml/feature/stopwords/english.txt, 181 words — the
# public Glasgow IR list), embedded so the DuckDB oracle can apply the
# identical filter without a JVM. tests/test_ml_census.py pins this
# tuple against StopWordsRemover.loadDefaultStopWords("english") so it
# can never drift from the production pipeline's default.
_ENGLISH_STOPWORDS = (
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves',
    'you', 'your', 'yours', 'yourself', 'yourselves', 'he', 'him',
    'his', 'himself', 'she', 'her', 'hers', 'herself', 'it', 'its',
    'itself', 'they', 'them', 'their', 'theirs', 'themselves',
    'what', 'which', 'who', 'whom', 'this', 'that', 'these',
    'those', 'am', 'is', 'are', 'was', 'were', 'be', 'been',
    'being', 'have', 'has', 'had', 'having', 'do', 'does', 'did',
    'doing', 'a', 'an', 'the', 'and', 'but', 'if', 'or', 'because',
    'as', 'until', 'while', 'of', 'at', 'by', 'for', 'with',
    'about', 'against', 'between', 'into', 'through', 'during',
    'before', 'after', 'above', 'below', 'to', 'from', 'up', 'down',
    'in', 'out', 'on', 'off', 'over', 'under', 'again', 'further',
    'then', 'once', 'here', 'there', 'when', 'where', 'why', 'how',
    'all', 'any', 'both', 'each', 'few', 'more', 'most', 'other',
    'some', 'such', 'no', 'nor', 'not', 'only', 'own', 'same', 'so',
    'than', 'too', 'very', 's', 't', 'can', 'will', 'just', 'don',
    'should', 'now', "i'll", "you'll", "he'll", "she'll", "we'll",
    "they'll", "i'd", "you'd", "he'd", "she'd", "we'd", "they'd",
    "i'm", "you're", "he's", "she's", "it's", "we're", "they're",
    "i've", "we've", "you've", "they've", "isn't", "aren't",
    "wasn't", "weren't", "haven't", "hasn't", "hadn't", "don't",
    "doesn't", "didn't", "won't", "wouldn't", "shan't", "shouldn't",
    "mustn't", "can't", "couldn't", 'cannot', 'could', "here's",
    "how's", "let's", 'ought', "that's", "there's", "what's",
    "when's", "where's", "who's", "why's", 'would',
)


def _stopwords_sql() -> str:
    quoted = ", ".join(
        "'" + w.replace("'", "''") + "'" for w in _ENGLISH_STOPWORDS
    )
    return "[" + quoted + "]"


# DuckDB restatement of the featurization chain (tfidf_features):
# RegexTokenizer(toLowercase, [a-zA-Z]{3,20}, gaps=False) == greedy
# non-overlapping extraction over the lowercased text; StopWordsRemover
# preserves order (bigrams form over the FILTERED sequence); df counts
# documents, not occurrences; CountVectorizer keeps df >= minDF(=2) AND
# df <= maxDF * n_docs(=0.85n, double compare in both engines), then
# caps at vocabSize — the census column is min(cap, eligible), exact in
# both engines at any corpus size (at the cap the tie-broken CHOICE of
# terms may differ; the SIZE cannot).
# Shared CTE prefix (tokenize -> stop-filter -> 1-2grams -> per-term
# document frequency -> corpus count): the vocab census certifies the
# SELECTION arithmetic over it; the IDF census (r14) certifies the
# WEIGHTING stage over the same chain.
_GRAM_DF_CTES = """toked AS (
  SELECT doc_id,
         list_filter(
           regexp_extract_all(lower(text), '[a-z]{3,20}'),
           t -> NOT list_contains(STOPS_PLACEHOLDER, t)
         ) AS u
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(u) AS g FROM toked
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(u) - 1),
           i -> list_extract(u, i) || ' ' || list_extract(u, i + 1)
         )) AS g
  FROM toked
),
df AS (
  SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)"""

_VOCAB_CENSUS_ORACLE = f"""
WITH {_GRAM_DF_CTES},
elig AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible
  FROM df, n
  WHERE df.df >= {MIN_DF} AND CAST(df.df AS DOUBLE) <= {MAX_DF} * n.n_docs
)
SELECT n.n_docs AS n_docs,
       CAST(LEAST({VOCAB_SIZE}, elig.n_eligible) AS BIGINT) AS vocab_size
FROM n, elig
"""


@query(
    "doc_ml_vocab_census",
    oracle=_VOCAB_CENSUS_ORACLE.replace(
        "STOPS_PLACEHOLDER", _stopwords_sql()
    ),
)
def doc_ml_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurization census: corpus size and the EXACT vocabulary size
    the production TF-IDF pipeline (tfidf_features — the same stages
    every ML query consumes) selects under min/max-DF filtering and the
    vocab cap. The oracle recomputes both from the parquet corpus in
    pure SQL, certifying the tokenizer, stop filter, bigram formation,
    document-frequency semantics and boundary arithmetic cross-engine."""
    _tokens, cv_model = _cv_fit(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    return spark.createDataFrame(
        [(int(n_docs), len(cv_model.vocabulary))],
        "n_docs long, vocab_size long",
    )


# IDF-weighting census (VERDICT r13 'What's wrong' #4): the vocab
# census certifies SELECTION; this certifies the WEIGHTING stage.
# Spark ML's IDF formula (mllib/feature/IDF.scala) is
# ln((m + 1) / (df + 1)) with m = numDocs — NOT sklearn's smoothed
# ln((n+1)/(df+1)) + 1 that the reference's dbt-ml pipeline uses
# (sec_document_tfidf.yml:19-40); the census certifies THIS engine's
# production stage, so the oracle restates Spark's formula. Each
# per-term weight is rounded to 9 dp on both sides (ln is
# libm-territory — the split-adjustment/EWM policy) and summed as
# DECIMAL(28,9), which is associative and exact in both engines; the
# final decimal->double cast is the IEEE nearest double. df_total is
# an exact integer sum certifying the document-frequency extraction.
# DATA-PINNED expectation (same discipline as the kmeans census): the
# oracle sums over ALL eligible terms, the engine over the fitted
# vocabulary — identical only while eligible <= vocabSize (measured
# 820-842 vs 20000 at sf0.001/0.01/0.1, gated by
# tests/test_ml_census.py). At the cap the tie-broken CHOICE of terms
# may differ cross-engine; a corpus that binds the cap should update
# the census, not the engine.
_IDF_CENSUS_ORACLE = f"""
WITH {_GRAM_DF_CTES},
terms AS (
  SELECT df.df AS df, n.n_docs AS n_docs
  FROM df, n
  WHERE df.df >= {MIN_DF} AND CAST(df.df AS DOUBLE) <= {MAX_DF} * n.n_docs
)
SELECT (SELECT n_docs FROM n) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(COALESCE(SUM(df), 0) AS BIGINT) AS df_total,
       CAST(COALESCE(SUM(CAST(ROUND(LN(
         (CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)
       ), 9) AS DECIMAL(28,9))), 0) AS DOUBLE) AS idf_sum_9dp
FROM terms
"""


@query(
    "doc_idf_census",
    oracle=_IDF_CENSUS_ORACLE.replace(
        "STOPS_PLACEHOLDER", _stopwords_sql()
    ),
)
def doc_idf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighting census over the production IDF stage: the fitted
    IDFModel's numDocs, vocabulary size, exact document-frequency
    total, and the decimal-quantized sum of its per-term IDF weights —
    recomputed exactly by the DuckDB oracle from the parquet corpus.
    A single mis-weighted term (wrong df, wrong smoothing constant,
    wrong log base) shifts idf_sum_9dp and breaks the hash match."""
    from decimal import Decimal

    def build():
        tokens, cv_model = _cv_fit(spark, sf_dir)
        if not cv_model.vocabulary:
            # an all-excluded corpus fits an EMPTY vocabulary and
            # cv_model.transform would refuse — the census is total:
            # zero terms, zero df, zero weight sum (oracle COALESCEs
            # its SUMs to match), same discipline as the vocab census.
            return None
        tf = cv_model.transform(tokens)
        return IDF(inputCol="tf", outputCol="tfidf").fit(tf)

    idf_model = _memoized(spark, sf_dir, "idf_census_model", build)
    if idf_model is None:
        n_docs = load_table(spark, sf_dir, "documents").count()
        return spark.createDataFrame(
            [(int(n_docs), 0, 0, 0.0)],
            "n_docs long, vocab_size long, df_total long,"
            " idf_sum_9dp double",
        )
    weights = [float(v) for v in idf_model.idf.toArray()]
    doc_freq = [int(d) for d in idf_model.docFreq]
    q9 = Decimal("0.000000001")
    idf_sum = sum(
        (Decimal(str(round(w, 9))).quantize(q9) for w in weights),
        Decimal(0),
    )
    return spark.createDataFrame(
        [
            (
                int(idf_model.numDocs),
                len(weights),
                int(sum(doc_freq)),
                float(idf_sum),
            )
        ],
        "n_docs long, vocab_size long, df_total long, idf_sum_9dp double",
    )


_KMEANS_CENSUS_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_assigned,
       CAST({K_CLUSTERS} AS BIGINT) AS n_clusters,
       0 AS min_cluster,
       {K_CLUSTERS} - 1 AS max_cluster
FROM documents
"""


@query("doc_kmeans_census", oracle=_KMEANS_CENSUS_ORACLE)
def doc_kmeans_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment census over the seeded KMeans surface: every document
    is assigned exactly once (cluster sizes sum to the corpus count),
    all K clusters are non-empty under the fixed seed, and cluster ids
    close the 0..K-1 range. The oracle states each invariant from the
    corpus alone — a dropped row, an empty cluster, or an out-of-range
    id breaks the hash match at the driver. The non-empty-K and range
    constants are DATA-PINNED under the fixed seed (verified at
    sf0.001/0.01/0.1 and gated per-sweep), not a k-means theorem — a
    new corpus that legitimately leaves a cluster empty should update
    this census's expectation, not the engine."""
    per_cluster = doc_kmeans_clusters(spark, sf_dir)
    return per_cluster.agg(
        F.sum("n_docs").cast("long").alias("n_docs_assigned"),
        F.count("*").cast("long").alias("n_clusters"),
        F.min("cluster").cast("int").alias("min_cluster"),
        F.max("cluster").cast("int").alias("max_cluster"),
    )


# --------------------------------------------------------------------------
# KMeans ASSIGNMENT census (VERDICT r14 'What's wrong' #3): the census
# above certifies totality/range; this one certifies CONTENT — that
# every document's cluster is the argmin squared distance to the
# fitted centroids, with the distances themselves recomputed
# cross-engine. The centroids are the one artifact SQL cannot derive
# (the fit is iterative), so the engine EMITS them to a scratch
# parquet (fixed path, overwritten per run) and the oracle reads them
# back and recomputes, from the raw corpus, the ENTIRE chain the
# prediction depends on: tokenize -> stop-filter -> 1-2grams ->
# per-doc term counts -> IDF weights (Spark's ln((m+1)/(df+1))) ->
# L2-normalized tf-idf vectors -> squared distance to every centroid
# -> per-doc argmin (ties on cluster id) -> per-cluster membership
# (count + doc_id sum) and a decimal-quantized assigned-distance sum.
# A wrong assignment, a mis-weighted term, a vocabulary mismatch, or
# a corrupted centroid row all break the hash. (The "fixed path" is a
# fixed ROOT with one md5(sf_dir) subdir per corpus — see _KM_SCRATCH.)
#
# Ordering contract: the driver/compare harness runs the Spark
# builder (which writes the scratch) to completion BEFORE executing
# the oracle SQL (tests/conftest.py:compare_with_oracle collects the
# Spark side first) — the same builder-side-effect discipline the
# jsonl/csv/orc round-trips rely on. A STALE scratch (another corpus'
# rows) cannot silently pass: every row carries a corpus_key
# (count + doc_id sum + the csv-census md5 text checksum, recomputed
# independently by the oracle) and non-matching rows filter out,
# leaving the oracle with zero centroids and a loud row-count
# mismatch.
#
# Numeric discipline: per-doc squared distances are rounded to 6 dp
# and summed as DECIMAL(38,6) (associative, exact) on both sides.
# Cross-engine the only libm term is ln (JVM vs C), whose ulp-level
# differences propagate to ~1e-14 absolute on O(1) distances — nine
# orders below the rounding grain (the doc_idf_census precedent at
# 9 dp). DATA-PINNED like the idf census: oracle vocabulary =
# all eligible terms, engine = fitted vocabulary; identical while
# eligible <= vocabSize (gated by tests/test_ml_census.py).
# Scratch layout: one SUBDIR per sf_dir (md5-keyed, the
# csv_corpus_roundtrip salting discipline) so concurrent sessions at
# different corpora never clobber each other's files; the oracle glob
# unions every subdir and filters rows to the CURRENT corpus by
# corpus_key (content-sharp: count + doc_id sum + md5 text checksum),
# with SELECT DISTINCT collapsing the one legal duplicate source — two
# path-distinct copies of an identical corpus, whose seeded fits emit
# identical centroids. A module constant, not a lazy global: the
# @query decorator evaluates the oracle string at import anyway.
_KM_SCRATCH = os.path.join(tempfile.gettempdir(), "spark_graft_kmctr")


_CORPUS_KEY_SQL = (
    "(SELECT CAST(COUNT(*) AS BIGINT)::VARCHAR || '_' ||"
    " CAST(SUM(doc_id) AS BIGINT)::VARCHAR || '_' ||"
    " CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))"
    " AS BIGINT)::VARCHAR FROM documents)"
)


def _km_assign_oracle() -> str:
    return f"""
WITH {_GRAM_DF_CTES.replace("STOPS_PLACEHOLDER", _stopwords_sql())},
vocab AS (
  SELECT df.g AS term,
         LN((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
           AS idf
  FROM df, n
  WHERE df.df >= {MIN_DF} AND CAST(df.df AS DOUBLE) <= {MAX_DF} * n.n_docs
),
cent AS (
  SELECT DISTINCT CAST(cluster AS INTEGER) AS cluster, term,
         CAST(weight AS DOUBLE) AS weight
  FROM read_parquet('{_KM_SCRATCH}/*/*.parquet')
  WHERE corpus_key = {_CORPUS_KEY_SQL}
),
cnorm AS (
  SELECT cluster, SUM(weight * weight) AS cn2,
         CAST(COUNT(*) FILTER (WHERE weight != 0.0) AS BIGINT) AS n_terms
  FROM cent GROUP BY cluster
),
tf AS (
  SELECT doc_id, g AS term, COUNT(*) AS tf FROM grams GROUP BY doc_id, g
),
dt AS (
  SELECT tf.doc_id, tf.term, CAST(tf.tf AS DOUBLE) * v.idf AS w
  FROM tf JOIN vocab v ON v.term = tf.term
),
nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM dt GROUP BY doc_id),
x AS (
  SELECT dt.doc_id, dt.term,
         CASE WHEN nrm.nrm > 0 THEN dt.w / nrm.nrm ELSE 0.0 END AS x
  FROM dt JOIN nrm ON nrm.doc_id = dt.doc_id
),
xn AS (SELECT doc_id, SUM(x * x) AS xn2 FROM x GROUP BY doc_id),
dots AS (
  SELECT x.doc_id, c.cluster, SUM(x.x * c.weight) AS dot
  FROM x JOIN cent c ON c.term = x.term
  GROUP BY x.doc_id, c.cluster
),
dist AS (
  SELECT d.doc_id, cn.cluster, cn.n_terms,
         COALESCE(xn.xn2, 0.0) + cn.cn2 - 2.0 * COALESCE(dots.dot, 0.0)
           AS d2
  FROM documents d
  CROSS JOIN cnorm cn
  LEFT JOIN xn ON xn.doc_id = d.doc_id
  LEFT JOIN dots ON dots.doc_id = d.doc_id AND dots.cluster = cn.cluster
),
best AS (
  SELECT doc_id, cluster, n_terms, d2,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY d2, cluster
         ) AS rn
  FROM dist
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(MAX(n_terms) AS BIGINT) AS n_terms,
       CAST(SUM(CAST(ROUND(d2, 6) AS DECIMAL(38,6))) AS DOUBLE)
         AS dist_sum_6dp
FROM best WHERE rn = 1
GROUP BY cluster ORDER BY cluster
"""


@query("doc_kmeans_assign_census", oracle=_km_assign_oracle())
def doc_kmeans_assign_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-sharp KMeans assignment census (header comment above):
    emits the fitted centroids to the oracle-visible scratch, then
    reports per-cluster membership (count + doc_id sum), the
    centroid's nonzero-term count, and the 6-dp-quantized sum of
    squared distances from each member's feature vector to its OWN
    predicted centroid — every number the DuckDB oracle independently
    recomputes from the raw corpus plus the emitted centroids.

    Each cluster emits a zero-weight SENTINEL row alongside its
    nonzero terms, so a legitimately all-zero centroid (a cluster of
    docs that tokenize to nothing) still exists on the oracle side —
    without it the w != 0 filter would drop the cluster from cent/
    cnorm entirely and the oracle would reassign its members.

    DATA-PINNED tolerance note: the engine's prediction comes from
    Spark's findClosest (norm-expanded fastSquaredDistance, ~1e-6
    relative precision) while both the oracle and this query's own
    distance column compute exactly — a doc whose best-vs-second
    margin sat inside ~1e-6 relative could flip cross-engine. The
    measured margins at every test SF are orders above that
    (gated by tests/test_ml_census.py::
    test_kmeans_assign_margin_has_tolerance_headroom); a corpus that
    approaches the bound should re-pin the census, not the engine.

    Memoized like the sibling ML surfaces; on a memo hit only a
    scratch-existence stat remains, and the scratch is rebuilt from
    the memoized rows if an external /tmp sweep removed it (the
    returned frame itself never reads the scratch)."""
    sub = os.path.join(
        _KM_SCRATCH, hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    scratch_schema = (
        "corpus_key string, cluster int, term string, weight double"
    )

    def write_scratch(rows):
        spark.createDataFrame(rows, scratch_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(sub)

    def build():
        feats, vocab = _features(spark, sf_dir)
        model = _kmeans_model(spark, sf_dir)
        centers = model.clusterCenters()

        docs = load_table(spark, sf_dir, "documents")
        # the same cross-engine md5-prefix text checksum as
        # csv_corpus_roundtrip (sources/files.py:300,334) — keep the
        # two sites in sync if either idiom ever changes
        krow = docs.agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("s"),
            F.sum(
                F.expr(
                    "cast(conv(substr(md5(text), 1, 8), 16, 10)"
                    " as bigint)"
                )
            ).alias("c"),
        ).first()
        corpus_key = f"{krow['n']}_{krow['s']}_{krow['c']}"

        rows = [
            (corpus_key, int(ci), "", 0.0)  # per-cluster sentinel
            for ci in range(len(centers))
        ] + [
            (corpus_key, int(ci), vocab[j], float(w))
            for ci, center in enumerate(centers)
            for j, w in enumerate(center)
            if w != 0.0
        ]
        write_scratch(rows)

        n_terms = {
            ci: sum(1 for w in center if w != 0.0)
            for ci, center in enumerate(centers)
        }
        cdf = spark.createDataFrame(
            [
                (ci, [float(x) for x in center], n_terms[ci])
                for ci, center in enumerate(centers)
            ],
            "prediction int, center array<double>, n_terms long",
        )
        dist2 = F.aggregate(
            F.zip_with(
                vector_to_array(F.col("features")),
                F.col("center"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = (
            model.transform(feats)
            .select("doc_id", "prediction", "features")
            .join(F.broadcast(cdf), "prediction")
            .withColumn("d2", dist2)
            .groupBy("prediction")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("sum_doc_id"),
                F.max("n_terms").cast("long").alias("n_terms"),
                F.sum(
                    F.round(F.col("d2"), 6).cast("decimal(38,6)")
                )
                .cast("double")
                .alias("dist_sum_6dp"),
            )
            .select(
                F.col("prediction").cast("int").alias("cluster"),
                "n_docs",
                "sum_doc_id",
                "n_terms",
                "dist_sum_6dp",
            )
            .orderBy("cluster")
        )
        return out, rows

    out, rows = _memoized(spark, sf_dir, "kmeans_assign", build)
    if not os.path.isdir(sub):  # /tmp swept under a live memo
        write_scratch(rows)
    return out


def _topics_census(out: DataFrame) -> DataFrame:
    """Shared census aggregation for the topic-model surfaces: totality
    plus per-row validity counts, each of which must equal the corpus
    count (every violation subtracts from its column and breaks the
    oracle hash)."""
    in_range = (
        (F.col("topic") >= 0) & (F.col("topic") < K_CLUSTERS)
    ).cast("long")
    strength_valid = (
        F.col("topic_strength").isNotNull()
        & (F.col("topic_strength") >= 0.0)
        & (F.col("topic_strength") <= 1.0)
    ).cast("long")
    five_terms = (
        F.size(F.split(F.col("topic_terms"), ", ")) == 5
    ).cast("long")
    return out.agg(
        F.count("*").cast("long").alias("n_docs_assigned"),
        F.sum(in_range).alias("n_topic_in_range"),
        F.sum(strength_valid).alias("n_strength_valid"),
        F.sum(five_terms).alias("n_topic_terms_5"),
    )


_TOPICS_CENSUS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_assigned,
       CAST(COUNT(*) AS BIGINT) AS n_topic_in_range,
       CAST(COUNT(*) AS BIGINT) AS n_strength_valid,
       CAST(COUNT(*) AS BIGINT) AS n_topic_terms_5
FROM documents
"""


@query("doc_topics_census", oracle=_TOPICS_CENSUS_ORACLE)
def doc_topics_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census over the distributed LDA surface: every document receives
    a topic in 0..K-1 with a probability-valid strength and a 5-term
    topic description — each count must equal the corpus count."""
    return _topics_census(doc_topics_lda(spark, sf_dir))


@query("doc_nmf_census", oracle=_TOPICS_CENSUS_ORACLE)
def doc_nmf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same census over the NMF surface (below the collect cap; above
    it the dispatch target is the LDA path doc_topics_census already
    certifies)."""
    return _topics_census(doc_nmf_topics(spark, sf_dir))
