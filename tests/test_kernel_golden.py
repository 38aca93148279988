"""Golden-value tests for the five rows-only (`no_oracle`) kernels.

The driver can only row-count these (no SQL oracle exists for iterative
linear algebra / ML), so ground truth lives here:

- ``signal_turbulence`` / ``signal_absorption_ratio`` /
  ``signal_mst_network``: the full Spark pipeline (panel build + kernel)
  is re-computed INDEPENDENTLY — the monthly nation panel via DuckDB SQL
  straight off the parquet files (no Spark), the math via a fresh NumPy
  transcription of the reference formulation
  (turbulence_index.py:85-177, absorption_ratio.py:61-157,
  network_correlation.py:60-156) — and compared per-row. The MST check
  uses Kruskal where the engine uses Prim, so agreement is evidence the
  tree itself is right, not just the code copied. ``np.linalg.pinv`` is
  the one primitive shared with the engine: near the rcond cutoff of a
  rank-deficient covariance a different pseudo-inverse is legitimately
  a different number, so reinventing it would test numerics, not math.

- ``doc_kmeans_clusters`` / ``doc_nmf_topics``: run on a constructed
  corpus whose answer is knowable by hand — 8 groups of 5 identical
  documents over pairwise-disjoint vocabularies give orthogonal TF-IDF
  blocks, so the correct clustering has 8 pure clusters of 5 docs,
  zero inertia, silhouette 1, and per-cluster top terms drawn from the
  group's own vocabulary. Any covariance/assignment bug breaks these
  exact values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from economic_data_project_spark.registry import all_queries

from .conftest import SF_DIR, duckdb_connect

# ------------------------------------------------------------------ panel

PANEL_SQL = """
SELECT n_name AS nation,
  date_trunc('month', CAST(l_shipdate AS DATE)) AS d,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
       AS DOUBLE) / 1e6 AS rev
FROM lineitem li
JOIN supplier s ON li.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


@pytest.fixture(scope="module")
def wide_panel() -> pd.DataFrame:
    con = duckdb_connect(SF_DIR)
    pdf = con.execute(PANEL_SQL).df()
    con.close()
    pdf["d"] = pd.to_datetime(pdf["d"]).dt.date
    wide = pdf.pivot(index="d", columns="nation", values="rev").sort_index()
    return wide[sorted(wide.columns)]


def _returns(wide: pd.DataFrame) -> tuple[list, np.ndarray]:
    """Pct-change matrix after per-series forward fill (reference:
    ``np.diff(prices, axis=0) / prices[:-1]``), via pandas — a second
    code path from the engine's raw-NumPy version."""
    filled = wide.ffill()
    with np.errstate(invalid="ignore", divide="ignore"):
        rets = filled.pct_change(fill_method=None)
    R = rets.to_numpy(dtype=float)[1:]
    return list(wide.index[1:]), R


# ------------------------------------------------------ matrix kernels


def _expected_turbulence(dates, R):
    win, hist, rows = 24, [], []
    for t in range(win, R.shape[0]):
        W = R[t - win : t]
        ok = ~np.any(np.isnan(W), axis=0)
        if ok.sum() < 2 or np.any(np.isnan(R[t, ok])):
            continue
        Wok = W[:, ok]
        mu = Wok.mean(axis=0)
        cov = np.cov(Wok.T)  # reference: np.cov(window.T)
        d = R[t, ok] - mu
        turb = float(np.sqrt(max(d @ np.linalg.pinv(cov) @ d, 0.0)))
        pct = float(np.mean([h < turb for h in hist])) if hist else 0.5
        hist.append(turb)
        regime = (
            "extreme" if pct >= 0.95 else "elevated" if pct >= 0.75
            else "normal"
        )
        rows.append((dates[t], turb, pct, regime))
    return rows


def test_turbulence_golden(spark, wide_panel):
    got = all_queries()["signal_turbulence"](spark, SF_DIR).collect()
    exp = _expected_turbulence(*_returns(wide_panel))
    assert len(got) == len(exp) > 10
    for g, (d, turb, pct, regime) in zip(got, exp):
        assert g.d == d
        assert g.turbulence == pytest.approx(turb, rel=1e-7, abs=1e-9)
        assert g.turb_pct == pytest.approx(pct, abs=1e-12)
        assert g.regime == regime


def _expected_absorption(dates, R):
    win, ars, rows = 24, [], []
    for t in range(win, R.shape[0] + 1):
        W = R[t - win : t]
        keep = np.mean(np.isnan(W), axis=0) <= 0.2
        if keep.sum() < 5:
            continue
        Wk = pd.DataFrame(W[:, keep]).ffill().bfill().to_numpy()
        C = np.corrcoef(Wk.T)  # reference: np.corrcoef(window_clean.T)
        if np.any(np.isnan(C)):
            continue
        evals = np.sort(np.linalg.eigvalsh(C))[::-1]
        k = max(int(np.ceil(0.2 * len(evals))), 1)
        ar = float(evals[:k].sum() / evals.sum())
        ars.append(ar)
        hist = np.array(ars[-24:])
        z = (
            float((ar - hist.mean()) / hist.std(ddof=1))
            if len(hist) > 10 and hist.std(ddof=1) > 0
            else 0.0
        )
        d_ar = ar - ars[-2] if len(ars) > 1 else 0.0
        rows.append((dates[t - 1], ar, z, d_ar))
    return rows


def test_absorption_golden(spark, wide_panel):
    got = all_queries()["signal_absorption_ratio"](spark, SF_DIR).collect()
    exp = _expected_absorption(*_returns(wide_panel))
    assert len(got) == len(exp) > 10
    for g, (d, ar, z, d_ar) in zip(got, exp):
        assert g.d == d
        assert g.absorption_ratio == pytest.approx(ar, rel=1e-9)
        assert g.ar_zscore == pytest.approx(z, rel=1e-7, abs=1e-9)
        assert g.ar_delta == pytest.approx(d_ar, abs=1e-9)


def _kruskal_mst(D: np.ndarray):
    """Kruskal + union-find: independent of the engine's Prim."""
    n = D.shape[0]
    edges = sorted(
        (D[i, j], i, j) for i in range(n) for j in range(i + 1, n)
    )
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total, deg, used = 0.0, np.zeros(n, dtype=int), 0
    for w, i, j in edges:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj
            total += w
            deg[i] += 1
            deg[j] += 1
            used += 1
            if used == n - 1:
                break
    return total, int(deg.max()), float((deg == 1).sum()) / n


def _expected_mst(dates, R):
    win, rows = 12, []
    for t in range(win, R.shape[0] + 1):
        W = R[t - win : t]
        ok = ~np.any(np.isnan(W), axis=0)
        if ok.sum() < 3:
            continue
        C = np.corrcoef(W[:, ok].T)
        D = np.sqrt(np.maximum(2.0 * (1.0 - C), 0.0))
        total, max_deg, leaf_share = _kruskal_mst(D)
        rows.append((dates[t - 1], total, max_deg, leaf_share))
    return rows


def test_mst_golden(spark, wide_panel):
    got = all_queries()["signal_mst_network"](spark, SF_DIR).collect()
    exp = _expected_mst(*_returns(wide_panel))
    assert len(got) == len(exp) > 10
    for g, (d, total, max_deg, leaf_share) in zip(got, exp):
        assert g.d == d
        assert g.mst_total_length == pytest.approx(total, rel=1e-9)
        assert g.mst_max_degree == max_deg
        assert g.leaf_share == pytest.approx(leaf_share, abs=1e-12)


# ------------------------------------------------------ doc ML fixtures

GROUP_WORDS = [
    ("zebra", "quartz"),
    ("falcon", "marble"),
    ("orchid", "copper"),
    ("glacier", "velvet"),
    ("harbor", "crimson"),
    ("lantern", "meadow"),
    ("pyramid", "saffron"),
    ("tundra", "cobalt"),
]


@pytest.fixture(scope="module")
def ml_sf_dir(spark, tmp_path_factory) -> str:
    """A documents table with a hand-knowable answer: 8 groups x 5
    IDENTICAL docs over pairwise-disjoint vocabularies."""
    root = tmp_path_factory.mktemp("mlcorpus")
    rows = []
    for g, (w1, w2) in enumerate(GROUP_WORDS):
        text = f"{w1} {w2} {w1} {w2} {w1}"
        for i in range(5):
            rows.append((g * 5 + i, text, "en", "fixture", len(text)))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(str(root / "documents.parquet"), index=False)
    return str(root)


def test_kmeans_golden(spark, ml_sf_dir):
    rows = all_queries()["doc_kmeans_clusters"](spark, ml_sf_dir).collect()
    assert len(rows) == 8
    # 8 orthogonal blobs of 5 identical docs: every cluster pure, size 5,
    # centroids == the points => inertia 0, silhouette 1
    assert all(r.n_docs == 5 for r in rows)
    assert rows[0].inertia == pytest.approx(0.0, abs=1e-9)
    assert rows[0].silhouette == pytest.approx(1.0, abs=1e-9)
    seen_groups = set()
    for r in rows:
        reps = sorted(int(x) for x in r.representative_doc_ids.split(","))
        groups = {i // 5 for i in reps}
        assert len(groups) == 1, "representatives must come from one group"
        g = groups.pop()
        seen_groups.add(g)
        w1, w2 = GROUP_WORDS[g]
        top = r.top_terms.split(", ")
        # The group's vocabulary is 4 terms (2 unigrams + 2 bigrams); all
        # other vocab entries have zero count in this cluster, so exactly
        # the first 4 c-TF-IDF terms must come from the group's own words
        # (the tail of the top-8 is arbitrary zero-score vocab).
        assert all(w1 in t or w2 in t for t in top[:4])
        assert any(t in (w1, w2) for t in top)
    assert seen_groups == set(range(8))


def test_nmf_golden(spark, ml_sf_dir):
    rows = all_queries()["doc_nmf_topics"](spark, ml_sf_dir).collect()
    assert len(rows) == 40
    # V has exact rank 8 (orthogonal blocks) => NMF with k=8 factors it
    # almost exactly and each group maps to one topic
    v_norm = np.sqrt(40.0)  # 40 unit-norm TF-IDF rows
    assert rows[0].reconstruction_error < 0.05 * v_norm
    by_group: dict[int, set[int]] = {}
    for r in rows:
        by_group.setdefault(r.doc_id // 5, set()).add(r.topic)
    assert all(len(t) == 1 for t in by_group.values()), by_group
    topics = {t.pop() for t in by_group.values()}
    assert len(topics) == 8, "each orthogonal block gets its own topic"
    for r in rows:
        w1, w2 = GROUP_WORDS[r.doc_id // 5]
        assert any(
            t in (w1, w2) for t in r.topic_terms.split(", ")
        ), r.topic_terms


def test_nmf_dispatches_to_lda_above_cap(spark, ml_sf_dir, monkeypatch):
    """Above the reference's max_objects cap the NMF query must route to
    the distributed LDA path (same schema) instead of refusing."""
    from economic_data_project_spark.text import ml

    monkeypatch.setattr(ml, "NMF_MAX_DOCS", 10)
    df = all_queries()["doc_nmf_topics"](spark, ml_sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "doc_id",
        "topic",
        "topic_strength",
        "topic_terms",
        "reconstruction_error",
    ]
    rows = df.collect()
    assert len(rows) == 40
    assert all(0 <= r.topic < 8 for r in rows)
    assert all(0.0 < r.topic_strength <= 1.0 for r in rows)


def test_lda_runs_on_corpus(spark):
    rows = all_queries()["doc_topics_lda"](spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(0 <= r.topic < 8 for r in rows)
    assert all(0.0 < r.topic_strength <= 1.0 for r in rows)


def test_lda_golden_invariants(spark, ml_sf_dir):
    """Value-level invariants for the one rows-only query without golden
    values: on the orthogonal fixture the LDA output must satisfy the
    model-theoretic contracts (topic-word simplex, finite perplexity)
    and be bitwise stable under the fixed seed."""
    import math

    rows = all_queries()["doc_topics_lda"](spark, ml_sf_dir).collect()
    assert len(rows) == 40
    # perplexity analogue finite (and one value for the whole corpus)
    errs = {r.reconstruction_error for r in rows}
    assert len(errs) == 1
    assert math.isfinite(errs.pop())
    assert all(0.0 < r.topic_strength <= 1.0 for r in rows)
    # identical docs => identical topicDistribution => identical topic
    by_group: dict[int, set] = {}
    for r in rows:
        by_group.setdefault(r.doc_id // 5, set()).add(
            (r.topic, round(r.topic_strength, 9))
        )
    assert all(len(v) == 1 for v in by_group.values()), by_group
    # seed-fixed stability: a second run reproduces every assignment
    again = all_queries()["doc_topics_lda"](spark, ml_sf_dir).collect()
    assert [(r.doc_id, r.topic, r.topic_strength) for r in rows] == [
        (r.doc_id, r.topic, r.topic_strength) for r in again
    ]
    # topic-word rows live on the probability simplex: refit the same
    # model (same featurizer, params, seed) and check topicsMatrix
    # columns each sum to 1
    from pyspark.ml.clustering import LDA

    from economic_data_project_spark.catalog import load_table
    from economic_data_project_spark.text.ml import (
        K_CLUSTERS,
        SEED,
        tfidf_features,
    )

    docs = load_table(spark, ml_sf_dir, "documents")
    feats, vocab = tfidf_features(docs)
    model = LDA(
        k=K_CLUSTERS, seed=SEED, maxIter=20, featuresCol="tf"
    ).fit(feats)
    # topicsMatrix holds the raw (unnormalized, nonnegative) Dirichlet
    # weights; describeTopics emits the NORMALIZED topic-word
    # distribution — over the full vocab each topic must sum to 1
    m = model.topicsMatrix().toArray()  # vocab x k, raw weights
    assert (m >= 0).all()
    for row in model.describeTopics(len(vocab)).collect():
        ws = np.asarray(row.termWeights)
        assert (ws >= 0).all()
        assert ws.sum() == pytest.approx(1.0, abs=1e-6)


# ----------------------------------------------- minhash-LSH recall


def test_minhash_lsh_full_recall_on_planted_neardups(spark, tmp_path):
    """LSH banding must find EVERY planted near-dup pair: 60 doc pairs
    (2k, 2k+1) sharing a seed with ~2% token edits (shingle-Jaccard
    ~0.85), plus background non-pairs sharing essentially nothing.
    Compared against the declared brute-force DuckDB oracle on the same
    corpus — this is the recall regression gate for the signature
    scheme (a hash-mixing change that silently drops band collisions
    fails here, not in production).

    Fixture discipline (ADVICE r5 — the old fixture was vacuous):
    tokens are LETTERS-ONLY so the [a-z]+ tokenizer keeps them distinct
    ('w123'-style tokens all collapsed to 'w', reducing every doc to
    one shingle and passing for any signature scheme), and the token
    formula is QUADRATIC in position so distinct seeds share zero
    shingles (a linear formula makes every doc the same 499-cycle
    offset by a constant — background Jaccard ~1, not ~0). Both
    properties are ASSERTED below before the recall check."""
    import pandas as pd

    def token(seed: int, i: int, edit: int) -> str:
        n = (seed * 7919 + i * 104729 + 37 * i * i + edit) % 499
        return "w" + "".join("abcdefghij"[int(c)] for c in str(n))

    rows = []
    for d in range(120):
        seed = d // 2
        toks = [
            token(seed, i, d % 2 if i % 50 == 0 else 0)
            for i in range(400)
        ]
        text = " ".join(toks)
        rows.append((d, text, "en", "fixture", len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    got = {
        (r.doc_a, r.doc_b)
        for r in all_queries()["dedup_minhash_lsh"](
            spark, str(tmp_path)
        ).collect()
    }
    from economic_data_project_spark.registry import all_oracles
    from economic_data_project_spark.text.dedup import _SHINGLES_DUCK

    con = duckdb_connect(str(tmp_path))
    want_rows = con.execute(
        all_oracles()["dedup_minhash_lsh"]
    ).fetchall()
    want = {(a, b) for a, b, _ in want_rows}
    planted = {(2 * k, 2 * k + 1) for k in range(60)}
    # fixture sanity BEFORE the recall assert: the brute-force truth is
    # exactly the planted pairs (background stays below threshold), and
    # the planted similarity is genuinely near-dup grade, so got==want
    # is a real recall statement, not vacuously true.
    assert want == planted
    assert min(j for _, _, j in want_rows) >= 0.75
    bg = con.execute(
        f"""
        WITH sh AS (SELECT doc_id,
          {_SHINGLES_DUCK} AS shingles FROM documents)
        SELECT MAX(CAST(len(list_intersect(a.shingles, b.shingles))
                 AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))))
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
          AND NOT (a.doc_id % 2 = 0 AND b.doc_id = a.doc_id + 1)
        """
    ).fetchone()[0]
    assert bg is not None and bg <= 0.1, f"background jaccard {bg}"
    assert got == want  # full recall AND no false positives


# ----------------------------------- minhash-LSH recall at the boundary


def test_minhash_lsh_recall_curve_at_jaccard_boundary(spark, tmp_path):
    """Load-bearing test for the 8x3 banding constants: plant 120 pairs
    at EACH exact shingle-Jaccard level j in {0.4, 0.5, 0.6} and measure
    candidate-stage recall (the band self-join, before exact-Jaccard
    verification). Theory for b=8 bands of r=3 rows: recall(j) =
    1-(1-j^3)^8 = 0.411 / 0.656 / 0.857 — the documented ~0.66 at the
    j=0.5 threshold (text/dedup.py scheme comment). Measured on this
    fixture (deterministic — seeded constants + md5):
    0.375 / 0.667 / 0.858. A banding change
    (fewer bands, wider rows, a hash-mixing bug that decorrelates
    signatures) shifts this curve and fails here, turning the comment
    into an asserted contract.

    Exact-j construction: doc pair = shared P-token prefix + disjoint
    S-token suffixes, all tokens globally unique letters-only strings.
    Shingle sets: P-2 shared, S unique per doc -> j = (P-2)/(P-2+2S)
    exactly. (P,S) = (10,6)->0.4, (12,5)->0.5, (14,4)->0.6.
    Tokens are namespaced per (level, pair, side), so cross-pair
    Jaccard is 0 and the only candidates possible are planted pairs."""
    from pyspark.sql import functions as F

    from economic_data_project_spark.text.dedup import (
        _bands_of,
        _shingled,
    )

    def b26(n: int) -> str:
        s = ""
        for _ in range(4):
            s += "abcdefghijklmnopqrstuvwxyz"[n % 26]
            n //= 26
        return s

    LEVELS = [(0.4, 10, 6), (0.5, 12, 5), (0.6, 14, 4)]
    N_PAIRS = 120
    rows, planted = [], {}
    doc_id = 0
    for li, (j, p, s) in enumerate(LEVELS):
        pairs = set()
        for k in range(N_PAIRS):
            prefix = [
                f"s{b26(li)}{b26(k)}{b26(t)}" for t in range(p)
            ]
            a = prefix + [
                f"a{b26(li)}{b26(k)}{b26(t)}" for t in range(s)
            ]
            b = prefix + [
                f"b{b26(li)}{b26(k)}{b26(t)}" for t in range(s)
            ]
            rows.append((doc_id, " ".join(a), "en", "fx", 1))
            rows.append((doc_id + 1, " ".join(b), "en", "fx", 1))
            pairs.add((doc_id, doc_id + 1))
            doc_id += 2
        planted[j] = pairs
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    # fixture sanity: the constructed Jaccard is EXACT per level
    con = duckdb_connect(str(tmp_path))
    from economic_data_project_spark.text.dedup import _SHINGLES_DUCK

    for j, pairs in planted.items():
        lo = min(min(a, b) for a, b in pairs)
        hi = max(max(a, b) for a, b in pairs)
        jmin, jmax = con.execute(
            f"""
            WITH sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles
                        FROM documents
                        WHERE doc_id BETWEEN {lo} AND {hi})
            SELECT MIN(x), MAX(x) FROM (
              SELECT CAST(len(list_intersect(a.shingles, b.shingles))
                       AS DOUBLE)
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)))
                     AS x
              FROM sh a JOIN sh b
                ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0)
            """
        ).fetchone()
        assert abs(jmin - j) < 1e-12 and abs(jmax - j) < 1e-12

    bands = _bands_of(_shingled(spark, str(tmp_path)))
    cand = {
        (r.a, r.b)
        for r in bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
        .collect()
    }
    # unique token namespaces -> zero cross-pair shingles -> any
    # non-planted candidate is a signature-scheme bug
    all_planted = set().union(*planted.values())
    assert cand <= all_planted, f"false candidates: {cand - all_planted}"

    theory = {j: 1 - (1 - j**3) ** 8 for j, _, _ in LEVELS}
    recall = {
        j: len(cand & pairs) / len(pairs)
        for j, pairs in planted.items()
    }
    # The measurement is DETERMINISTIC (fixture + seeded hash
    # constants), so +-0.12 is an empirical bound on this fixture's
    # fixed deviation from theory, not a significance test; the
    # binomial(120, p) 3-sigma widths are just the natural scale for
    # it: ~0.135 at j=0.4 (p~0.41), ~0.130 at j=0.5 (p~0.66), ~0.096
    # at j=0.6 (p~0.86) — 0.12 sits just inside the first two and just
    # above the third. Any banding/hash change moves the measured
    # curve well past it.
    for j in theory:
        assert abs(recall[j] - theory[j]) <= 0.12, (
            f"j={j}: recall {recall[j]:.3f} vs theory {theory[j]:.3f}"
        )
    assert recall[0.4] < recall[0.5] < recall[0.6]


def test_emb_cosine_sparse_id_space_uses_occupied_buckets(
    spark, tmp_path
):
    """ADVICE r10 guard: with a sparse/offset vec_id space the block
    grid must come from the OCCUPIED buckets (one narrow cached pass),
    not the id bound — the id-bound grid is O((max_id/_BLOCK)^2) kernel
    invocations regardless of emptiness, so cost would scale with the
    id RANGE rather than the corpus. Values must stay identical to an
    independent NumPy brute force."""
    import pandas as pd

    from economic_data_project_spark.text.dedup import (
        _BLOCK,
        _COSINE_THRESHOLD,
    )

    rng = np.random.RandomState(7)
    n, dim = 40, 8
    base = rng.normal(size=(n // 2, dim))
    vecs = []
    for i in range(n // 2):
        vecs.append(base[i])
        vecs.append(base[i] + 0.05 * rng.normal(size=dim))  # near-dup
    # ids offset by 1M and spaced well past _BLOCK: the id bound implies
    # ~1.2k buckets for a corpus that occupies only 40
    ids = [1_000_000 + i * 5 * _BLOCK for i in range(n)]
    pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [list(map(float, v)) for v in vecs],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    df = all_queries()["dedup_embedding_cosine"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().toString()
    # the guard must have routed the grid off the occupied buckets:
    # no Range leaf sized by the id bound in the plan
    assert "Range (0" not in plan, "id-bound range grid came back"
    got = sorted((r.vec_a, r.vec_b, r.cosine) for r in df.collect())

    V = np.stack(vecs)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 9)
    expected = sorted(
        (ids[i], ids[j], float(cos[i, j]))
        for i in range(n)
        for j in range(n)
        if ids[i] < ids[j] and cos[i, j] >= _COSINE_THRESHOLD
    )
    assert got == expected
    assert len(expected) >= n // 2  # every planted near-dup pair found


def test_ngram_nn_absolute_df_cap_bounds_fanout(
    spark, tmp_path, monkeypatch
):
    """r12: the df cap is min(ABS, max(20, 10% n)) — the absolute
    ceiling is what keeps per-shingle pair fan-out bounded when 10% of
    the corpus stops being a small number. Pinned by shrinking the
    ceiling below a planted identical-doc cluster's df: every shingle
    of the cluster then exceeds the cap, candidates vanish, and the
    cluster drops out of the output; at the default ceiling the same
    cluster is fully recalled."""
    import random

    from economic_data_project_spark.text import dedup

    rng = random.Random(3)
    vocab = [
        "".join(rng.choice("abcdefghij") for _ in range(5))
        for _ in range(300)
    ]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(40)) for _ in range(94)
    ]
    cluster = " ".join(rng.choice(vocab) for _ in range(40))
    texts += [cluster] * 6  # doc_ids 94..99: identical cluster, df=6
    pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    def cluster_rows(df):
        return [r for r in df.collect() if r.doc_id >= 94]

    # default ceiling (10k): cap = max(20, 10) = 20 > 6 -> recalled
    full = cluster_rows(
        all_queries()["ngram_jaccard_nn"](spark, str(tmp_path))
    )
    assert len(full) == 6 and all(r.best_jaccard == 1.0 for r in full)
    # ceiling shrunk below the cluster's df: candidates must vanish
    monkeypatch.setattr(dedup, "_DF_CAP_ABS", 5.0)
    spark.catalog.clearCache()
    capped = cluster_rows(
        all_queries()["ngram_jaccard_nn"](spark, str(tmp_path))
    )
    assert capped == []


def _py_simhash64(text: str) -> int | None:
    """Independent pure-Python 64-bit simhash (re-derives the contract
    from scratch: md5 per token, hi<<32|lo packing, +-1 bit weights,
    sign bits). Returns an UNSIGNED int; callers convert to Spark's
    signed bigint when comparing signatures."""
    import hashlib
    import re

    toks = re.findall(r"[a-z]+", text.lower())
    if not toks:
        return None
    w = [0] * 64
    for t in toks:
        hx = hashlib.md5(t.encode()).hexdigest()
        h = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
        for b in range(64):
            w[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if w[b] > 0:
            sig |= 1 << b
    return sig


def test_simhash64_golden_vs_pure_python(spark, tmp_path):
    """dedup_simhash64 pinned against an independent pure-Python
    reference on a planted corpus: exact copies (hamming 0), light
    single-token variants (small hamming), and unrelated random docs.
    Both the per-doc SIGNATURES (signed-bigint-converted) and the full
    hamming<=3 pair set must match."""
    import random

    from economic_data_project_spark.text.dedup import _simhash64_df

    rng = random.Random(17)
    vocab = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
        for _ in range(400)
    ]
    texts = []
    for i in range(30):
        texts.append(" ".join(rng.choice(vocab) for _ in range(120)))
    texts.append(texts[0])  # exact copy -> hamming 0
    v = texts[1].split()
    v[7] = "zzzzzz"  # one-token variant -> small hamming
    texts.append(" ".join(v))
    texts.append("")  # empty doc must drop out entirely
    # weight-tie edge cases: w == 0 must resolve to bit 0 identically
    # in the fold, the oracle, and the pure-Python reference
    texts.append("lonetoken")  # single token: w = +-1 everywhere
    texts.append("aaa bbb")  # two distinct tokens: w = 0 wherever
    # their hash bits disagree (~32 tied bits)
    texts.append("xyz xyz xyz")  # one token repeated: scaled weights
    pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    sigs = {
        r.doc_id: r.simhash
        for r in _simhash64_df(spark, str(tmp_path)).collect()
    }
    exp_sigs = {}
    for i, t in enumerate(texts):
        s = _py_simhash64(t)
        if s is not None:
            exp_sigs[i] = s - (1 << 64) if s >= (1 << 63) else s
    assert sigs == exp_sigs

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in all_queries()["dedup_simhash64"](
            spark, str(tmp_path)
        ).collect()
    )
    ids = sorted(exp_sigs)
    expected = sorted(
        (i, j, bin(exp_sigs[i] ^ exp_sigs[j]).count("1"))
        for ii, i in enumerate(ids)
        for j in ids[ii + 1 :]
        if bin(exp_sigs[i] ^ exp_sigs[j]).count("1") <= 3
    )
    assert got == expected
    assert (0, 30, 0) in got  # the planted exact copy


def test_planes_registered_surface_equals_brute_on_driver_corpus(spark):
    """VERDICT r11 #4: the REGISTERED forced-planes surface must return
    exactly the brute-force pairs whose vectors collide in >= 1
    hyperplane band — recomputed independently in NumPy with the same
    seeded H and the policy-derived (bands, bits) — on the actual
    driver corpus, so every rotation exercises the scale tier's GEMM
    kernel + band join end to end."""
    import pandas as pd

    from economic_data_project_spark.catalog import table_path
    from economic_data_project_spark.text.dedup import (
        _COSINE_THRESHOLD,
        _emb_hyperplanes,
        _plane_policy,
    )

    got = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in all_queries()["dedup_embedding_cosine_lsh_planes"](
            spark, SF_DIR
        ).collect()
    )

    pdf = pd.read_parquet(table_path(SF_DIR, "embeddings"))
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    bands, bits = _plane_policy(len(pdf))
    H = _emb_hyperplanes(bands, bits, V.shape[1]).T
    bitmat = (V @ H) >= 0
    packed = bitmat.reshape(len(V), bands, bits) @ (
        (1 << np.arange(bits)).astype(np.int64)
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 9)
    order = np.argsort(ids)
    expected = sorted(
        (int(ids[i]), int(ids[j]), float(cos[i, j]))
        for ii, i in enumerate(order)
        for j in order[ii + 1 :]
        if cos[i, j] >= _COSINE_THRESHOLD
        and bool((packed[i] == packed[j]).any())
    )
    assert got == expected


def _zero_vector_corpus(path) -> tuple[int, list]:
    """A small embeddings corpus with planted near-dup pairs plus one
    zero vector and a partner it shares a hyperplane band with. Every
    sign bit of a zero vector is 1 (0 >= 0), so the partner is drawn
    until one band of the policy the planes surface applies at this n
    is all-ones too. Returns the zero vector's id and the vectors."""
    from economic_data_project_spark.text.dedup import (
        _emb_hyperplanes,
        _plane_policy,
    )

    rng = np.random.RandomState(5)
    dim = 8
    base = rng.normal(size=(10, dim))
    vecs = [v for b in base for v in (b, b + 0.05 * rng.normal(size=dim))]
    bands, bits = _plane_policy(len(vecs) + 2)
    H = _emb_hyperplanes(bands, bits, dim).T
    while True:
        partner = rng.normal(size=dim)
        if ((partner @ H) >= 0).reshape(bands, bits).all(axis=1).any():
            break
    zero_id = len(vecs)
    vecs += [np.zeros(dim), partner]
    pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [list(map(float, v)) for v in vecs],
        }
    ).to_parquet(str(path / "embeddings.parquet"), index=False)
    return zero_id, vecs


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_lsh_planes",
    ],
)
def test_emb_cosine_zero_vector_joins_no_pair(spark, tmp_path, name):
    """Zero-norm contract (functions/vectors.py COS_SPARK/COS_DUCK) on
    the float near-dup surfaces: a zero embedding has a NULL cosine,
    so it is in no output pair, and sharing an LSH band with another
    vector must not raise ANSI DIVIDE_BY_ZERO in the verify step. The
    brute path's NumPy kernel must not divide by its zero norm either
    (no warning), and it still MATCHes the DuckDB oracle."""
    from economic_data_project_spark.registry import all_oracles
    from economic_data_project_spark.text.dedup import _COSINE_THRESHOLD
    from tests.conftest import compare_with_oracle

    zero_id, vecs = _zero_vector_corpus(tmp_path)
    got = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in all_queries()[name](spark, str(tmp_path)).collect()
    )
    assert got
    assert all(zero_id not in (a, b) for a, b, _ in got), got

    ids = [i for i in range(len(vecs)) if i != zero_id]
    V = np.stack([vecs[i] for i in ids])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 9)
    brute = {
        (ids[i], ids[j], float(cos[i, j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= _COSINE_THRESHOLD
    }
    if name == "dedup_embedding_cosine":
        from economic_data_project_spark.functions.vectors import unit_rows

        assert set(got) == brute
        with np.errstate(all="raise"):
            unit = unit_rows(np.stack(vecs))
        assert not unit[zero_id].any()
        con = duckdb_connect(str(tmp_path))
        try:
            ok, msg = compare_with_oracle(
                spark, all_queries()[name], all_oracles()[name],
                str(tmp_path), con=con,
            )
        finally:
            con.close()
        assert ok, msg
    else:
        # LSH recall is candidates-limited: every pair found is exact
        assert set(got) <= brute


def test_ivf_int8_oracle_parity_with_zero_vector_in_seed_range(
    spark, tmp_path
):
    """Review finding r12: a zero embedding (qnorm 0, filtered from the
    code store) at a vec_id below K used to desync the engines — Spark
    seeds the K smallest SURVIVING ids while the oracle's old
    `vec_id < K` init seeded fewer than K centroids. Pinned by running
    the full driver-style compare on a corpus with a zero vector
    planted inside the seed range. The corpus also carries a NULL and a
    wrong-length embedding, and the float IVF runs on it too: a zero
    norm gives a NULL cosine in both engines (functions/vectors.py
    COS_SPARK/COS_DUCK), as does a NULL or ragged embedding, so the
    assignment order (cosine DESC NULLS LAST, then the smaller cluster)
    must hand them the smallest cluster id under any partitioning."""
    import pandas as pd

    from economic_data_project_spark.registry import all_oracles
    from economic_data_project_spark.similarity import ann
    from tests.conftest import compare_with_oracle, duckdb_connect

    rng = np.random.RandomState(31)
    n, dim = 60, 8
    vecs = [list(map(float, rng.normal(size=dim))) for _ in range(n)]
    null_id, ragged_id = n, n + 1
    vecs += [None, vecs[7][:5]]
    zero_id = 3
    vecs[zero_id] = [0.0] * dim  # inside the K=16 seed range
    for name in ("ann_ivf_topk_int8", "ann_ivf_topk"):
        sf = tmp_path / name
        sf.mkdir()
        pd.DataFrame(
            {
                "vec_id": range(len(vecs)),
                "embedding": vecs,
                "label": [i % 3 for i in range(len(vecs))],
            }
        ).to_parquet(str(sf / "embeddings.parquet"), index=False)
        con = duckdb_connect(str(sf))
        try:
            ok, msg = compare_with_oracle(
                spark,
                all_queries()[name],
                all_oracles()[name],
                str(sf),
                con=con,
            )
        finally:
            con.close()
        assert ok, f"{name}: {msg}"

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for parts in ("1", "7"):
            spark.conf.set(key, parts)
            cents, assign = ann.kmeans_once(
                ann.ivf_corpus(spark, str(tmp_path / "ann_ivf_topk")),
                ann._IVF_K,
            )
            smallest = cents.agg({"cluster": "min"}).first()[0]
            got = {
                r.vec_id: r
                for r in assign.where(
                    assign.vec_id.isin(null_id, ragged_id, zero_id)
                ).collect()
            }
            for vid in (null_id, ragged_id, zero_id):
                assert got[vid].c is None, (parts, vid)
                assert got[vid].cluster == smallest, (parts, vid)
    finally:
        spark.conf.set(key, before)


def test_ivf_sparse_id_space_builds_full_index(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 #2: IVF centroid seeding must come from the K
    SMALLEST vec_ids, not a `vec_id < K` literal — with an offset id
    space the literal selects ZERO seeds, the Lloyd step averages an
    empty assignment and the whole index (and result) comes out empty.
    Planted near-identical pairs pin recall: each query's rank-1
    neighbor must be its planted partner, which the probed cells can
    only contain if the index actually got built."""
    import pandas as pd

    from economic_data_project_spark.similarity import ann

    rng = np.random.RandomState(23)
    n, dim = 60, 8
    base = rng.normal(size=(n // 2, dim))
    vecs = []
    for i in range(n // 2):
        vecs.append(base[i])
        vecs.append(base[i] + 0.01 * rng.normal(size=dim))
    off = 1_000_000  # every id >> the fixed K=16
    pd.DataFrame(
        {
            "vec_id": [off + i for i in range(n)],
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [i % 3 for i in range(n)],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    # the probe-set bound is a module constant tuned to the driver's
    # dense ids; lift it over the offset so 10 queries exist
    monkeypatch.setattr(ann, "_N_QUERIES", off + 10)
    rows = (
        all_queries()["ann_ivf_topk"](spark, str(tmp_path))
        .orderBy("query_id", "rank")
        .collect()
    )
    assert len(rows) == 10 * ann._TOP_K, "sparse ids emptied the index"
    top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    for qi in range(10):
        partner = off + (qi + 1 if qi % 2 == 0 else qi - 1)
        assert top1[off + qi] == partner


def test_emb_plane_signatures_skip_null_and_ragged_rows(spark, tmp_path):
    """ADVICE r11 #1: the plane-signature Arrow kernel np.stack()s the
    batch, so a null or shorter-than-dim embedding used to kill the
    stage. Such rows must simply drop out of signature generation (they
    cannot verify as near-dups anyway), leaving the full-dim pairs
    identical to brute force."""
    import pandas as pd

    from economic_data_project_spark.catalog import load_table
    from economic_data_project_spark.text.dedup import (
        _COSINE_THRESHOLD,
        _emb_lsh_pairs,
    )

    rng = np.random.RandomState(5)
    n, dim = 40, 8
    vecs = [rng.normal(size=dim) for _ in range(n)]
    emb_col = [list(map(float, v)) for v in vecs]
    vecs.append(vecs[0] + 0.01 * rng.normal(size=dim))  # one near-dup
    emb_col.append(list(map(float, vecs[-1])))
    emb_col.append(None)  # null embedding
    emb_col.append([1.0, 2.0])  # ragged (short) embedding
    pd.DataFrame(
        {"vec_id": range(len(emb_col)), "embedding": emb_col}
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    emb = load_table(spark, str(tmp_path), "embeddings")
    got = sorted(
        (r.vec_a, r.vec_b)
        for r in _emb_lsh_pairs(
            emb, dim, len(emb_col), params=(8, 6)
        ).collect()
    )
    assert (0, n) in got  # the planted near-identical pair survives
    V = np.stack(vecs).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 9)
    full_dim_ok = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if cos[i, j] >= _COSINE_THRESHOLD
    }
    assert set(got) <= full_dim_ok  # no pair touches a dropped row


def test_emb_lsh_plane_scheme_equals_brute_on_colliding_pairs(
    spark, tmp_path
):
    """The scale-tier band scheme (seeded random hyperplanes, bits ~
    log2(n)) must return EXACTLY the brute-force pairs whose vectors
    collide in >= 1 hyperplane band — bits recomputed here with the
    same deterministic H and the same float64 GEMM the kernel uses.
    Forced small so the whole lattice is checkable; the auto route
    engages this scheme above _EMB_LSH_MIN vectors."""
    import pandas as pd

    from economic_data_project_spark.text.dedup import (
        _COSINE_THRESHOLD,
        _emb_hyperplanes,
        _emb_lsh_pairs,
        _plane_policy,
    )

    # policy sanity: 32 bands, bits = ceil(log2(n)) clamped to [10, 24]
    assert _plane_policy(2) == (32, 10)
    assert _plane_policy(250_000) == (32, 18)
    assert _plane_policy(10**9) == (32, 24)

    rng = np.random.RandomState(11)
    n, dim, bands, bits = 300, 16, 8, 10
    base = rng.normal(size=(n // 2, dim))
    vecs = []
    for i in range(n // 2):
        vecs.append(base[i])
        vecs.append(base[i] + 0.12 * rng.normal(size=dim))
    pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [list(map(float, v)) for v in vecs],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    from economic_data_project_spark.catalog import load_table

    emb = load_table(spark, str(tmp_path), "embeddings")
    got = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in _emb_lsh_pairs(
            emb, dim, n, params=(bands, bits)
        ).collect()
    )

    V = np.stack(vecs).astype(np.float64)
    H = _emb_hyperplanes(bands, bits, dim).T  # (dim, bands*bits)
    bitmat = (V @ H) >= 0
    packed = bitmat.reshape(n, bands, bits) @ (
        (1 << np.arange(bits)).astype(np.int64)
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 9)
    expected = sorted(
        (i, j, float(cos[i, j]))
        for i in range(n)
        for j in range(i + 1, n)
        if cos[i, j] >= _COSINE_THRESHOLD
        and bool((packed[i] == packed[j]).any())
    )
    assert got == expected
    assert len(expected) >= int(0.9 * (n // 2))  # planted dups recalled
