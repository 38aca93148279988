"""Semantic golden tests for the round-12 selection/dedup additions:
DSIR importance weights, the NB quality classifier, and SemDeDup.

The oracle sweep proves cross-engine parity; these prove the
*semantics* against independent pure-Python/NumPy reimplementations on
crafted fixtures (the test_kernel_golden.py discipline) — a bug
present in both the Spark query and its oracle SQL passes the sweep
but fails here."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from economic_data_project_spark.registry import all_oracles, all_queries

B = 4096  # text/dsir.py bucket count
EPS = 0.40  # similarity/semdedup.py threshold
K = 16  # similarity/semdedup.py cluster count


def _write_docs(tmp_path, rows):
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    return str(tmp_path)


def _grams(text: str) -> list[str]:
    toks = re.findall(r"[a-z]+", text.lower())
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B


# ---------------------------------------------------------------- DSIR


def _dsir_reference(rows):
    """Pure-Python DSIR: hashed-n-gram importance log-weights with the
    engine's per-term DECIMAL(28,6) quantization."""
    inst = {}  # doc_id -> Counter(bucket)
    tgt = {}
    for doc_id, text, lang, _src, _n in rows:
        inst[doc_id] = Counter(_bucket(g) for g in _grams(text))
        tgt[doc_id] = lang == "en"
    c_r, c_t = Counter(), Counter()
    for doc_id, cnts in inst.items():
        c_r.update(cnts)
        if tgt[doc_id]:
            c_t.update(cnts)
    n_r, n_t = sum(c_r.values()), sum(c_t.values())
    lw = {}
    for doc_id, cnts in inst.items():
        if not cnts:
            lw[doc_id] = None
            continue
        s = sum(
            round(
                cnt
                * math.log(
                    ((c_t[b] + 1.0) * (n_r + B))
                    / ((c_r[b] + 1.0) * (n_t + B))
                ),
                6,
            )
            for b, cnt in cnts.items()
        )
        lw[doc_id] = s / sum(cnts.values())
    scored = [v for v in lw.values() if v is not None]
    mean = sum(round(v, 6) for v in scored) / len(scored)
    sel = {
        d: (None if v is None else round(v, 6) > round(mean, 6))
        for d, v in lw.items()
    }
    return lw, sel


def test_dsir_matches_pure_python_reference(spark, tmp_path):
    rows = [
        (0, "alpha beta alpha beta alpha", "en", "s", 1),
        (1, "alpha beta gamma alpha beta", "en", "s", 1),
        (2, "gamma delta gamma delta gamma", "fr", "s", 1),
        (3, "delta gamma delta delta gamma", "fr", "s", 1),
        (4, "alpha beta alpha gamma delta", "zh", "s", 1),
        (5, "omega omega omega", "en", "s", 1),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in all_queries()["dsir_importance_weights"](
            spark, sf
        ).collect()
    }
    lw, sel = _dsir_reference(rows)
    for doc_id, _t, _l, _s, _n in rows:
        assert got[doc_id].dsir_logweight == pytest.approx(
            lw[doc_id], abs=2e-6
        )
        assert got[doc_id].selected == sel[doc_id]
    # the estimator's point: target-shaped docs outrank raw-shaped
    assert got[0].dsir_logweight > got[2].dsir_logweight
    assert got[1].dsir_logweight > got[3].dsir_logweight


def test_dsir_gumbel_topk_matches_pure_python(spark, tmp_path):
    rows = [
        (i, t, lang, "s", 1)
        for i, (t, lang) in enumerate(
            [
                ("alpha beta alpha beta alpha", "en"),
                ("alpha beta gamma alpha beta", "en"),
                ("gamma delta gamma delta gamma", "fr"),
                ("delta gamma delta delta gamma", "fr"),
                ("alpha beta alpha gamma delta", "zh"),
                ("omega omega omega", "en"),
                ("beta alpha beta alpha beta", "en"),
                ("delta delta gamma gamma delta", "fr"),
                ("alpha gamma beta delta alpha", "zh"),
                ("omega alpha omega beta omega", "en"),
            ]
        )
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        all_queries()["dsir_gumbel_topk"](spark, sf).collect()
    )
    lw, _sel = _dsir_reference(rows)

    def gumbel(doc_id):
        h = hashlib.md5(f"{doc_id}:gumbel0".encode()).hexdigest()
        u = (int(h[:13], 16) + 0.5) / 2**52
        return -math.log(-math.log(u))

    scores = {
        d: round(round(w, 6) + gumbel(d), 4)
        for d, w in lw.items()
        if w is not None
    }
    k = len(scores) // 5
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:k]
    assert [r.doc_id for r in got] == expect
    for r in got:
        assert r.gumbel_score == pytest.approx(
            scores[r.doc_id], abs=2e-4
        )
        assert r.sample_budget == k
    assert [r.pick_rank for r in got] == list(range(1, k + 1))


def test_dsir_tokenless_doc_has_null_weight(spark, tmp_path):
    rows = [
        (0, "alpha beta alpha", "en", "s", 1),
        (1, "gamma delta", "fr", "s", 1),
        (2, "12345 !!!", "en", "s", 1),  # no [a-z]+ tokens
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in all_queries()["dsir_importance_weights"](
            spark, sf
        ).collect()
    }
    assert got[2].n_feats == 0
    assert got[2].dsir_logweight is None
    assert got[2].selected is None


# ------------------------------------------------- NB quality classifier


def _nb_reference(rows, curated=("src0", "src1", "src2", "src3")):
    inst, pos = {}, {}
    for doc_id, text, _lang, src, _n in rows:
        inst[doc_id] = Counter(_grams(text))
        pos[doc_id] = src in curated
    c_p, c_n = Counter(), Counter()
    for doc_id, cnts in inst.items():
        (c_p if pos[doc_id] else c_n).update(cnts)
    n_p, n_n = sum(c_p.values()), sum(c_n.values())
    v = len(set(c_p) | set(c_n))
    dp = sum(1 for x in pos.values() if x)
    dn = len(pos) - dp
    prior = round(math.log(dp / dn), 6)
    out = {}
    for doc_id, cnts in inst.items():
        s = sum(
            round(
                cnt
                * math.log(
                    ((c_p[g] + 1.0) * (n_n + v))
                    / ((c_n[g] + 1.0) * (n_p + v))
                ),
                6,
            )
            for g, cnt in cnts.items()
        )
        out[doc_id] = round(prior + s, 6)
    return out


def test_nb_matches_pure_python_reference(spark, tmp_path):
    rows = [
        (0, "good clean prose good clean", "en", "src0", 1),
        (1, "clean good prose clean good", "en", "src1", 1),
        (2, "spam junk spam junk spam", "en", "srcX", 1),
        (3, "junk spam junk junk spam", "en", "srcY", 1),
        (4, "good clean prose prose good", "en", "srcZ", 1),
        (5, "spam junk good clean spam", "en", "src2", 1),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in all_queries()["nb_quality_classifier"](
            spark, sf
        ).collect()
    }
    ref = _nb_reference(rows)
    for doc_id, _t, _l, src, _n in rows:
        assert got[doc_id].nb_logodds == pytest.approx(
            ref[doc_id], abs=2e-6
        )
        assert got[doc_id].is_curated == (
            src in ("src0", "src1", "src2", "src3")
        )
        assert got[doc_id].nb_label == (
            "keep" if got[doc_id].nb_logodds > 0 else "drop"
        )
    # curated-vocabulary doc 4 classifies keep despite a raw source;
    # raw-vocabulary docs 2/3 classify drop
    assert got[4].nb_label == "keep"
    assert got[2].nb_label == "drop" and got[3].nb_label == "drop"


def test_nb_empty_doc_scores_exactly_the_prior(spark, tmp_path):
    rows = [
        (0, "good clean good", "en", "src0", 1),
        (1, "spam junk spam", "en", "srcX", 1),
        (2, "junk junk spam", "en", "srcY", 1),
        (3, "###", "en", "srcZ", 1),  # tokenless
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in all_queries()["nb_quality_classifier"](
            spark, sf
        ).collect()
    }
    assert got[3].n_grams == 0
    assert got[3].nb_logodds == pytest.approx(
        round(math.log(1 / 3), 6), abs=1e-6
    )
    assert got[3].nb_label == "drop"


@pytest.mark.parametrize(
    "src",
    ["srcX", "src0"],
    ids=["all_raw_dp0", "all_curated_dn0"],
)
def test_nb_empty_class_is_null_in_both_engines(
    spark, tmp_path, src
):
    """An empty training class (no curated docs, or ONLY curated docs)
    has no defined prior: every row must get NULL log-odds in BOTH
    engines. The all-raw case is the sharp one — unguarded, DuckDB's
    oracle evaluates ln(0.0) and raises while Spark returns NULL
    (VERDICT r12 ADVICE #1); the symmetric CASE guard keeps the two
    engines on the same NULL answer, which this test proves by running
    the full cross-engine compare on the degenerate fixture."""
    from .conftest import compare_with_oracle, duckdb_connect

    rows = [
        (0, "good clean good", "en", src, 1),
        (1, "spam junk spam", "en", src, 1),
    ]
    sf = _write_docs(tmp_path, rows)
    ok, msg = compare_with_oracle(
        spark,
        all_queries()["nb_quality_classifier"],
        all_oracles()["nb_quality_classifier"],
        sf,
        con=duckdb_connect(sf),
    )
    assert ok, msg
    got = {
        r.doc_id: r
        for r in all_queries()["nb_quality_classifier"](
            spark, sf
        ).collect()
    }
    for doc_id in (0, 1):
        assert got[doc_id].nb_logodds is None
        assert got[doc_id].nb_label == "drop"


# ----------------------------------------------------------- SemDeDup


def _write_vecs(tmp_path, vecs):
    pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [
                None if v is None else list(map(float, v)) for v in vecs
            ],
            "label": [i % 3 for i in range(len(vecs))],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)
    return str(tmp_path)


def _semdedup_reference(vecs, k=K, eps=EPS):
    """NumPy SemDeDup mirroring the engine's deterministic k-means
    (seed = first k ids, one Lloyd step with 6dp-quantized means,
    ties on smaller cluster id) and dominated-row duplicate rule.
    Returns (assignment, cc, is_dup) and margin diagnostics so the
    caller can assert the fixture sits nowhere near a tie/threshold
    boundary (which would make float-vs-decimal drift meaningful)."""
    X = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    n = len(X)

    def assign(cents, cnorms):
        cos = (X @ cents.T) / np.outer(norms, cnorms)
        a = cos.argmax(axis=1)  # first max = smallest cluster index
        top2 = np.sort(cos, axis=1)[:, -2:]
        return a, float(np.min(top2[:, 1] - top2[:, 0]))

    seeds = X[:k]
    a0, margin0 = assign(seeds, norms[:k])
    cents = np.stack(
        [
            np.round(X[a0 == c], 6).sum(axis=0) / max((a0 == c).sum(), 1)
            for c in range(k)
        ]
    )
    cnorms = np.linalg.norm(cents, axis=1)
    a1, margin1 = assign(cents, cnorms)
    cc = (X * cents[a1]).sum(axis=1) / (norms * cnorms[a1])
    pair_cos = (X @ X.T) / np.outer(norms, norms)
    same = a1[:, None] == a1[None, :]
    eye = np.eye(n, dtype=bool)
    near = same & ~eye & (pair_cos >= eps)
    ids = np.arange(n)
    better = (cc[:, None] > cc[None, :]) | (
        (cc[:, None] == cc[None, :]) & (ids[:, None] < ids[None, :])
    )
    is_dup = (near & better).any(axis=0)
    thresh_margin = float(
        np.min(np.abs(pair_cos[same & ~eye] - eps))
    )
    return a1, cc, is_dup, min(margin0, margin1), thresh_margin


def test_semdedup_matches_numpy_reference(spark, tmp_path):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(34, 32))
    # planted duplicates: exact copies (ids 34, 35) and a near-copy
    # (id 36, tiny perturbation -> cosine ~0.9999)
    vecs = list(base) + [
        base[5].copy(),
        base[20].copy(),
        base[9] + 1e-3 * rng.normal(size=32),
    ]
    a1, cc, is_dup, assign_margin, thresh_margin = _semdedup_reference(
        vecs
    )
    # fixture robustness: no assignment tie or eps-boundary pair is
    # close enough for decimal-vs-float drift to flip a decision
    assert assign_margin > 1e-4 and thresh_margin > 1e-3
    sf = _write_vecs(tmp_path, vecs)
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert len(got) == len(vecs)
    for i in range(len(vecs)):
        assert got[i].is_dup == bool(is_dup[i]), i
        # engine cluster ids are the SEED vec_ids; with dense 0-based
        # ids the seeds are vec_ids 0..K-1, identical to the numpy
        # positional cluster index
        assert got[i].cluster == int(a1[i]), i
        assert got[i].cos_centroid == pytest.approx(
            float(cc[i]), abs=1e-4
        )
    # exact copies tie on centroid cosine -> the original (smaller id)
    # survives and the copy is the duplicate
    assert got[34].is_dup and not got[5].is_dup
    assert got[35].is_dup and not got[20].is_dup
    # the near-copy pair keeps whichever member is CLOSER to the
    # centroid (here the perturbed copy) — exactly one survives
    assert got[36].is_dup != got[9].is_dup


def test_semdedup_keeps_exactly_one_of_identical_clique(
    spark, tmp_path
):
    rng = np.random.RandomState(11)
    base = rng.normal(size=(20, 16))
    # ids 20, 21: exact copies of id 2 -> a 3-clique of cosine-1.0
    vecs = list(base) + [base[2].copy(), base[2].copy()]
    _a, _cc, is_dup, assign_margin, thresh_margin = (
        _semdedup_reference(vecs)
    )
    assert assign_margin > 1e-4 and thresh_margin > 1e-3
    sf = _write_vecs(tmp_path, vecs)
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    # identical vectors tie on centroid cosine -> smallest vec_id wins
    assert not got[2].is_dup
    assert got[20].is_dup and got[21].is_dup


def test_semdedup_gemm_tier_equals_hof_path(
    spark, tmp_path, monkeypatch
):
    """The scale tier's per-cluster GEMM kernel must agree with the
    oracle-exact HOF self-join away from the eps boundary (GEMM
    reduction order differs in the last ulp — the declared trade).
    Forced by dropping the cutover below the fixture size; the margin
    guard proves no within-cluster pair sits close enough to eps for
    that ulp to matter on this corpus."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(37)
    base = rng.normal(size=(40, 32))
    vecs = list(base) + [base[3].copy(), base[11].copy(),
                         base[25] + 1e-3 * rng.normal(size=32)]
    _a, _cc, ref_dup, assign_margin, thresh_margin = (
        _semdedup_reference(vecs)
    )
    assert assign_margin > 1e-4 and thresh_margin > 1e-3
    sf = _write_vecs(tmp_path, vecs)
    hof = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 3)  # K = len//3 > 16
    forced = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    # different K -> different clustering; equality vs the HOF output
    # needs the SAME K, so re-run numpy at the forced K for the flags
    k_forced = sd.semdedup_k(len(vecs))
    _a2, cc2, dup2, m0, m1 = _semdedup_reference(vecs, k=k_forced)
    assert m0 > 1e-4 and m1 > 1e-3
    for i in range(len(vecs)):
        assert forced[i].is_dup == bool(dup2[i]), i
        assert forced[i].cos_centroid == pytest.approx(
            float(cc2[i]), abs=1e-4
        )
    # and at the DEFAULT K the engine (HOF path) matched the same
    # reference machinery already (test_semdedup_matches_numpy_reference)
    assert {i for i in hof if hof[i].is_dup} == {
        int(i) for i in np.where(ref_dup)[0]
    }


def test_semdedup_two_level_tier_behavior(spark, tmp_path, monkeypatch):
    """The two-level quantizer tier (relational coarse cells + NumPy
    sub-clustering) has no oracle — its contract is behavioral: full
    row coverage, planted exact copies flagged with exactly the
    smallest id of each identical clique surviving (identical vectors
    co-assign at BOTH levels: identical cosine rows take the same
    argmax), and synthetic cluster ids decomposing as
    (coarse << 20 | sub)."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(37)
    base = rng.normal(size=(60, 16))
    vecs = list(base) + [base[7].copy(), base[7].copy(),
                         base[30].copy()]
    sf = _write_vecs(tmp_path, vecs)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TWO_LEVEL_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 4)  # K=15, K1=3
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert len(got) == len(vecs)
    # an exact copy ties its original on centroid cosine and loses the
    # id tie-break, so every planted copy is GUARANTEED dropped (the
    # originals may themselves be dominated by third vectors on this
    # dense forced-tiny-cluster fixture — that is legitimate, see
    # test_semdedup_matches_numpy_reference's near-copy note)
    assert got[60].is_dup and got[61].is_dup and got[62].is_dup
    # identical vectors co-assign at both levels
    assert got[7].cluster == got[60].cluster == got[61].cluster
    assert got[30].cluster == got[62].cluster
    for r in got.values():
        coarse, sub = r.cluster >> 20, r.cluster & ((1 << 20) - 1)
        assert 0 <= coarse < 60 and sub >= 0
        assert r.cos_centroid is not None


def test_semdedup_cross_engine_on_planted_fixture(spark, tmp_path):
    """Full driver-style compare on the planted-duplicate corpus —
    the sf0.01 oracle run never sees a true near-dup pair, this does.
    A NULL and a wrong-length embedding ride along: NULL cosine to every
    centroid, so both engines put them in the smallest cluster."""
    from tests.conftest import compare_with_oracle, duckdb_connect

    rng = np.random.RandomState(13)
    base = rng.normal(size=(30, 16))
    vecs = list(base) + [base[4].copy(), base[17].copy()]
    vecs += [None, base[9][:11].copy()]
    sf = _write_vecs(tmp_path, vecs)
    con = duckdb_connect(sf)
    try:
        ok, msg = compare_with_oracle(
            spark,
            all_queries()["dedup_semantic_semdedup"],
            all_oracles()["dedup_semantic_semdedup"],
            sf,
            con=con,
        )
    finally:
        con.close()
    assert ok, msg


def test_semdedup_gemm_tiling_equals_one_shot(
    spark, tmp_path, monkeypatch
):
    """The row-tiled pair GEMM (skew guard: O(tile*c) kernel memory,
    VERDICT r12 ADVICE #2) must emit exactly the one-shot kernel's
    verdicts. Forced to the degenerate tile=1 regime — every row block
    is a single row, maximally exercising the OR-accumulation and the
    diagonal handling across tile boundaries — and compared against
    the same fixture's untiled output (tile covers the whole cluster
    when _GEMM_TILE_ELEMS is huge, the production shape at the 1024
    target)."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(23)
    base = rng.normal(size=(40, 16))
    vecs = list(base) + [base[6].copy(), base[15].copy(),
                         base[6].copy()]
    sf = _write_vecs(tmp_path, vecs)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)  # force the GEMM tier
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 3)  # K = len//3
    monkeypatch.setattr(sd, "_GEMM_TILE_ELEMS", 1)  # tile = 1 row
    tiled = {
        r.vec_id: (r.is_dup, r.cluster)
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    monkeypatch.setattr(sd, "_GEMM_TILE_ELEMS", 1 << 40)  # one shot
    oneshot = {
        r.vec_id: (r.is_dup, r.cluster)
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert tiled == oneshot
    # the planted copies are dropped under both
    assert tiled[40][0] and tiled[41][0] and tiled[42][0]


def test_semdedup_two_level_sparse_vec_ids(
    spark, tmp_path, monkeypatch
):
    """Sparse/offset vec_id spaces through the TWO-LEVEL tier: coarse
    cell ids come from kmeans_once, which labels clusters by their
    SEED's vec_id — with ids offset past 2^43 an un-remapped
    ``coarse << 20`` overflows int64 (VERDICT r12 ADVICE #3). The
    dense remap must keep every composite id non-negative with
    coarse < k1, and planted exact copies must still be flagged."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(41)
    base = rng.normal(size=(50, 16))
    vecs = list(base) + [base[8].copy(), base[8].copy()]
    offset = 1 << 44
    pd.DataFrame(
        {
            "vec_id": [offset + 3 * i for i in range(len(vecs))],
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [i % 3 for i in range(len(vecs))],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TWO_LEVEL_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 4)
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == len(vecs)
    k = len(vecs) // 4
    k1 = max(2, int(np.sqrt(k)))
    for r in got.values():
        assert r.cluster >= 0
        assert 0 <= (r.cluster >> 20) < k1
        assert r.cos_centroid is not None
    orig = offset + 3 * 8
    copies = [offset + 3 * 50, offset + 3 * 51]
    assert got[copies[0]].is_dup and got[copies[1]].is_dup
    assert got[orig].cluster == got[copies[0]].cluster


def test_semdedup_two_level_invalid_embedding_is_null(
    spark, tmp_path, monkeypatch
):
    """A null embedding through the two-level tier must surface as
    NULL centroid-cosine (None, not NaN — the one-level path's NULL
    semantics, VERDICT r12 ADVICE #3) and never be flagged a dup."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(29)
    base = rng.normal(size=(30, 16))
    vecs = [list(map(float, v)) for v in base] + [None]
    pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": vecs,
            "label": [i % 3 for i in range(len(vecs))],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TWO_LEVEL_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 4)
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == len(vecs)
    bad = got[len(vecs) - 1]
    assert bad.cos_centroid is None
    assert not bad.is_dup
    for i in range(len(vecs) - 1):
        assert got[i].cos_centroid is not None


def test_semdedup_two_level_zero_seed_matches_one_level(
    spark, tmp_path, monkeypatch
):
    """A zero vector among one cell's sub-cluster seeds. Each cell of
    the two-level tier must split exactly as the one-level relational
    k-means (ann.kmeans_once) splits the same vectors: a cosine with a
    zero-norm side ranks below every real cosine (ann._CENT_CMP), so
    the zero seed attracts no row, and the zero vector itself takes
    the smallest cluster with a NULL centroid cosine. A NaN cosine
    would rank FIRST under argmax and pull the whole cell to the zero
    seed. The cells must hold >= 2 * 1024 vectors for the sub-cluster
    kernel (which runs in a Python worker, at the module's
    _TARGET_CLUSTER) to pick more than one seed."""
    from pyspark.sql import functions as F

    from economic_data_project_spark.similarity import semdedup as sd
    from economic_data_project_spark.similarity.ann import (
        ivf_corpus,
        kmeans_once,
    )

    rng = np.random.RandomState(37)
    vecs = list(rng.normal(size=(7000, 8)))
    zero_id = 2  # past the K1=2 coarse seeds: a sub-cluster seed only
    vecs[zero_id] = np.zeros(8)
    sf = _write_vecs(tmp_path, vecs)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TWO_LEVEL_MIN", 1)  # K=6, K1=2
    two = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert len(two) == len(vecs)
    cells: dict[int, list[int]] = {}
    for r in two.values():
        cells.setdefault(r.cluster >> 20, []).append(r.vec_id)
    corpus = ivf_corpus(spark, sf)

    def groups(ids, label):
        out: dict[int, set] = {}
        for i in ids:
            out.setdefault(label[i], set()).add(i)
        return {frozenset(g) for g in out.values()}

    zero_seeded = False
    for ids in cells.values():
        ids.sort()
        k2 = max(1, len(ids) // sd._TARGET_CLUSTER)
        zero_seeded |= k2 > 2 and zero_id in ids[1 : k2 - 1]
        _c, assign = kmeans_once(
            corpus.where(F.col("vec_id").isin(ids)), k2
        )
        one = {r.vec_id: r for r in assign.collect()}
        assert groups(ids, {i: two[i].cluster for i in ids}) == groups(
            ids, {i: one[i].cluster for i in ids}
        )
        for i in ids:
            if i == zero_id:
                assert two[i].cos_centroid is None and one[i].c is None
                assert not two[i].is_dup
            else:
                assert two[i].cos_centroid == pytest.approx(
                    one[i].c, abs=1e-4
                )
    # the zero vector is a middle seed, so real seeds sit on both sides
    assert zero_seeded, "fixture no longer seeds a cell with the zero row"
    # the pair GEMM: the zero row is near nothing, with no 0/0
    v = vecs[7]
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [np.zeros(8), v, v],
            "vnorm": [0.0, np.linalg.norm(v), np.linalg.norm(v)],
            "cc": [np.nan, 0.9, 0.9],
        }
    )
    with np.errstate(all="raise"):
        assert list(sd._dominated_ids(pdf, pdf)) == [2]


def test_index_sizing_rules():
    """The above-cutover sizing rules, which no driver-scale corpus
    reaches: IVF (K, nprobe) shared by both IVF builders, and the
    SemDeDup cluster count."""
    from economic_data_project_spark.similarity import semdedup as sd
    from economic_data_project_spark.similarity.ann import ivf_sizing

    assert ivf_sizing(2_000) == (16, 4)
    assert ivf_sizing(200_000) == (16, 4)
    assert ivf_sizing(250_000) == (500, 15)
    assert ivf_sizing(10**10) == (65_536, 2_048)
    assert sd.semdedup_k(2_000) == K
    assert sd.semdedup_k(16_384) == K
    assert sd.semdedup_k(60_000) == 58
    assert sd.semdedup_k(10**10) == 65_536


def test_semdedup_k_cap_regime(spark, tmp_path, monkeypatch):
    """Behavior AT the K cap (module-header contract): past
    n = cap * target the sizing pins K at the cap and clusters re-grow
    past the target instead of multiplying — K must equal the cap
    exactly, the output must still cover every row, and planted exact
    copies must still lose their id tie-break. Forced by shrinking the
    cap far below the fixture's natural K."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(53)
    base = rng.normal(size=(60, 16))
    vecs = list(base) + [base[12].copy(), base[33].copy()]
    sf = _write_vecs(tmp_path, vecs)
    cap = 4  # natural K would be len(vecs)//3 = 20 clusters
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 3)
    monkeypatch.setattr(sd, "_IVF_K_CAP", cap)
    got = {
        r.vec_id: r
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert len(got) == len(vecs)
    clusters = {r.cluster for r in got.values()}
    # K pinned at the cap: exactly `cap` seeds exist, every row lands
    # in one of them (mean cluster size re-grows to len/cap ~ 15)
    assert len(clusters) <= cap
    sizes = Counter(r.cluster for r in got.values())
    assert max(sizes.values()) > 3  # re-grown past the target
    # the re-grown clusters still carry exact dominated-row semantics
    assert got[60].is_dup and got[61].is_dup
    assert got[12].cluster == got[60].cluster
    assert got[33].cluster == got[61].cluster
    # equality against the numpy reference at the pinned K
    _a, cc2, dup2, m0, m1 = _semdedup_reference(vecs, k=cap)
    assert m0 > 1e-4 and m1 > 1e-3
    for i in range(len(vecs)):
        assert got[i].is_dup == bool(dup2[i]), i
        assert got[i].cos_centroid == pytest.approx(
            float(cc2[i]), abs=1e-4
        )


def test_semdedup_cap_split_equals_unsplit(spark, tmp_path, monkeypatch):
    """The hot-cluster 2-D salt decomposition (VERDICT r13 #3: bounds
    per-task TIME, not just memory) must emit exactly the unsplit
    kernel's verdicts: every ordered pair (i, j) lands in exactly one
    (salt_i, salt_j) group, the dot products are computed by the same
    GEMM expression, and the dominated-row predicate OR-decomposes
    over groups. Forced by dropping _SPLIT_CAP below the cluster size
    (splits >= 3 so diagonal AND off-diagonal salt groups both carry
    real pairs), compared against the same fixture with the split
    disabled."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(53)
    base = rng.normal(size=(48, 16))
    # plant copies + a near-copy so cross-salt dominations exist
    vecs = list(base) + [base[1].copy(), base[2].copy(),
                         base[9].copy(), base[9].copy(),
                         base[20] + 1e-3 * rng.normal(size=16)]
    sf = _write_vecs(tmp_path, vecs)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)  # force the GEMM tier
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 27)  # K=2 -> big clusters
    # arm 1: n (53) <= _SPLIT_CAP -> the job-free SHORT-CIRCUIT path
    # (r15: no size agg, no salt machinery)
    unsplit = {
        r.vec_id: (r.is_dup, r.cluster)
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    # arm 2: cap between max cluster size (~27) and n -> the GENERAL
    # declarative path with every cluster degenerating to splits=1
    monkeypatch.setattr(sd, "_SPLIT_CAP", 40)
    general = {
        r.vec_id: (r.is_dup, r.cluster)
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert general == unsplit
    # arm 3: cap below cluster size -> the 2-D salt split engages
    monkeypatch.setattr(sd, "_SPLIT_CAP", 9)  # ~27-row clusters -> 3+ salts
    split = {
        r.vec_id: (r.is_dup, r.cluster)
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, sf
        ).collect()
    }
    assert split == unsplit
    # the planted exact copies are dropped under both paths
    for copy_id in (48, 49, 50, 51):
        assert split[copy_id][0], copy_id
    # sanity: the split path genuinely engaged (clusters exceed the cap)
    sizes = {}
    for _vid, (_d, cl) in split.items():
        sizes[cl] = sizes.get(cl, 0) + 1
    assert max(sizes.values()) > 9


def test_two_level_remap_window_is_partitioned(spark, tmp_path, monkeypatch):
    """The dense coarse-id remap's ranking window must keep a partition
    key THROUGH optimization: partitionBy(lit(1)) gets constant-folded
    to an empty spec (WindowExec then logs 'No Partition Defined' —
    observed 30x per 600k probe run before the r14 fix), so the key
    must be non-foldable (series_window's spark_partition_id()*0).
    Same detection as test_signal_series_windows_are_partitioned: a
    sort order as windowspecdefinition's first argument means the
    partition keys vanished."""
    import re

    from economic_data_project_spark.similarity import semdedup as sd
    from economic_data_project_spark.similarity.ann import ivf_corpus

    rng = np.random.RandomState(5)
    _write_vecs(tmp_path, list(rng.normal(size=(40, 8))))
    member = sd._member_two_level(ivf_corpus(spark, str(tmp_path)), 9)
    jvm = member.sparkSession._jvm
    phys = (
        member._jdf.queryExecution()
        .explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        .split("== Physical Plan ==", 1)[1]
    )
    saw_window = False
    for line in phys.splitlines():
        if " Window [" not in f" {line}":
            continue
        saw_window = True
        m = re.search(r"windowspecdefinition\(([^,]+),", line)
        if m:
            first = m.group(1)
            assert "ASC" not in first and "DESC" not in first, line.strip()[:160]
    assert saw_window, "remap window missing from the two-level plan"


def test_cap_split_salt_survives_strided_ids(spark, tmp_path, monkeypatch):
    """The split salts on xxhash64(vec_id), not the raw id: with ids
    all congruent mod splits (stride 8, the ann.py sparse-id contract
    makes such layouts legal) a raw modulo would land the whole hot
    cluster back in ONE salt group and defeat the time bound. Planted
    copies must still be flagged and the verdicts must equal the
    unsplit kernel's."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(59)
    base = rng.normal(size=(40, 16))
    vecs = list(base) + [base[2].copy(), base[2].copy()]
    # stride-8 ids: every vec_id % 4 == 0 for splits in {2,4}
    pd.DataFrame(
        {
            "vec_id": [8 * i for i in range(len(vecs))],
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [i % 3 for i in range(len(vecs))],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 23)  # K=1 -> one cluster
    unsplit = {
        r.vec_id: r.is_dup
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, str(tmp_path)
        ).collect()
    }
    monkeypatch.setattr(sd, "_SPLIT_CAP", 11)  # 42-row cluster -> 4 salts
    split = {
        r.vec_id: r.is_dup
        for r in all_queries()["dedup_semantic_semdedup"](
            spark, str(tmp_path)
        ).collect()
    }
    assert split == unsplit
    assert split[8 * 40] and split[8 * 41]


def test_cap_split_mixed_dim_cluster_matches_unsplit(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14: on a CONTRACT-VIOLATING mixed-dim cluster the salt
    groups' per-group max dim can differ from the cluster's, so the
    split path must share the unsplit kernel's per-CLUSTER max-dim
    exclusion (now a pre-filter in _dups_gemm). Fixture: one cluster
    holding 3 sixteen-dim rows and 20 eight-dim rows (including exact
    copies) — with a small cap most salt groups contain ONLY
    eight-dim rows, exactly the layout where a per-group exclusion
    diverges. All three paths (short-circuit / general / split) must
    agree, and every below-max-dim row must be excluded from the pair
    compare (never flagged dup) on each of them."""
    from economic_data_project_spark.similarity import semdedup as sd

    rng = np.random.RandomState(61)
    low = list(rng.normal(size=(14, 8)))
    low += [low[0].copy()] * 4 + [low[3].copy()] * 2  # planted low copies
    high = list(rng.normal(size=(3, 16)))
    vecs = low + high  # 20 low + 3 high = 23 rows
    sf = _write_vecs(tmp_path, vecs)
    monkeypatch.setattr(sd, "_SCALE_MIN", 1)  # force the GEMM tier
    monkeypatch.setattr(sd, "_TARGET_CLUSTER", 23)  # K=1 -> one cluster
    q = all_queries()["dedup_semantic_semdedup"]
    arms = {}
    arms["short"] = {r.vec_id: r.is_dup for r in q(spark, sf).collect()}
    # the single cluster IS the corpus (csize == n), so every non-
    # short-circuit arm necessarily splits; two granularities cover
    # both coarse and fine salt layouts
    monkeypatch.setattr(sd, "_SPLIT_CAP", 12)  # 23-row cluster -> 2 salts
    arms["split2"] = {r.vec_id: r.is_dup for r in q(spark, sf).collect()}
    monkeypatch.setattr(sd, "_SPLIT_CAP", 6)  # 23-row cluster -> 4 salts
    arms["split4"] = {r.vec_id: r.is_dup for r in q(spark, sf).collect()}
    assert arms["split2"] == arms["short"]
    assert arms["split4"] == arms["short"]
    # the cluster-wide exclusion: low-dim rows never enter the pair
    # compare, so the planted low-dim copies must NOT be flagged
    for vid in range(20):
        assert not arms["split4"][vid], vid
