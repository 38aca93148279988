"""Property tests for the connected-components machinery.

The driver union-find fast path is pure Python, so hypothesis can hit
it with hundreds of adversarial graphs per run (chains, stars, dense
blobs, duplicate and self edges); the distributed loop is checked
against it on one seeded random graph per session (Spark examples are
seconds each, so exhaustive search stays on the pure function and the
cross-path agreement test samples)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from economic_data_project_spark.text.dedup import _driver_union_find


def _reference_components(edges):
    """Naive BFS reference: component = min node id reachable."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    seen: set[int] = set()
    for start in sorted(adj):
        if start in seen:
            continue
        comp = []
        stack = [start]
        seen.add(start)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        rep = min(comp)
        for x in comp:
            out[x] = rep
    return sorted(out.items())


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_union_find_matches_bfs_reference(edges):
    # mirror the caller's shape: both edge directions present
    sym = edges + [(v, u) for u, v in edges]
    assert _driver_union_find(sym) == _reference_components(sym)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_union_find_representative_is_component_min(edges):
    sym = edges + [(v, u) for u, v in edges]
    labels = dict(_driver_union_find(sym))
    # a representative labels itself, and every label IS a member's id
    for node, rep in labels.items():
        assert labels[rep] == rep
        assert rep <= node
    # idempotence: relabeling the contracted graph changes nothing
    contracted = [(labels[u], labels[v]) for u, v in sym]
    again = dict(_driver_union_find(contracted))
    assert all(again[r] == r for r in set(labels.values()))


def test_loop_agrees_with_union_find_on_random_graph(spark, monkeypatch):
    import random

    from economic_data_project_spark.text import dedup
    from economic_data_project_spark.text.dedup import (
        connected_components,
    )

    rng = random.Random(0xC0FFEE)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    loop = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    assert fast == loop and len(fast) > 0
