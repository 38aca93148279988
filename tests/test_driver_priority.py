"""Driver re-verification priority machinery (__spark_entry__)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ast_changed_ignores_comment_and_whitespace(
    tmp_path, monkeypatch
):
    se = _load_entry()
    monkeypatch.setattr(se, "_HERE", str(tmp_path))
    (tmp_path / "m.py").write_text(
        "# a new comment\nx = 1\n\n\ndef f():\n    return x\n"
    )
    monkeypatch.setattr(
        se, "_git", lambda *a: "x = 1\ndef f():\n    return x\n"
    )
    assert se._ast_changed("m.py", "deadbeef") is False


def test_ast_changed_flags_code_edits(tmp_path, monkeypatch):
    se = _load_entry()
    monkeypatch.setattr(se, "_HERE", str(tmp_path))
    (tmp_path / "m.py").write_text("x = 2\n")
    monkeypatch.setattr(se, "_git", lambda *a: "x = 1\n")
    assert se._ast_changed("m.py", "deadbeef") is True


def test_ast_changed_fails_stale(tmp_path, monkeypatch):
    se = _load_entry()
    monkeypatch.setattr(se, "_HERE", str(tmp_path))
    # missing current file -> OSError -> stale (over-verify, never skip)
    monkeypatch.setattr(se, "_git", lambda *a: "x = 1\n")
    assert se._ast_changed("gone.py", "deadbeef") is True
    # unparseable old blob -> stale
    (tmp_path / "m.py").write_text("x = 1\n")
    monkeypatch.setattr(se, "_git", lambda *a: "def (broken\n")
    assert se._ast_changed("m.py", "deadbeef") is True


def test_priority_order_fresh_then_direct_stale_then_age():
    se = _load_entry()
    # d never verified -> first; then DIRECT-stale b jumps the age queue
    # (an edited builder must not ship driver-unverified behind
    # merely-older unchanged rows); then age: c (r1) before a (r2)
    assert se._priority_order(
        ["a", "b", "c", "d"], {"a": 2, "b": 3, "c": 1}, {"b"}, 3
    ) == ["d", "b", "c", "a"]


def test_priority_order_direct_stale_ordered_by_age():
    se = _load_entry()
    # both direct-stale -> age still ranks within the direct tier
    assert se._priority_order(
        ["a", "b"], {"a": 2, "b": 3}, {"a", "b"}, 3
    ) == ["a", "b"]


def test_priority_order_stale_first_within_round():
    se = _load_entry()
    # same record age -> the changed query outranks the unchanged one
    assert se._priority_order(["a", "b"], {"a": 3, "b": 3}, {"b"}, 3) == [
        "b",
        "a",
    ]


def test_priority_order_over_age_rows_lead():
    """A row at the age limit would exceed it next round: it leads the
    prefix, ahead of never-verified and direct-stale rows."""
    se = _load_entry()
    limit = se.MAX_ROW_AGE_ROUNDS
    last = {"a": 9, "b": 9 - limit, "c": 9 - limit + 1}
    assert se._priority_order(["a", "b", "c", "d"], last, {"a"}, 9) == [
        "b",
        "d",
        "a",
        "c",
    ]


def test_direct_stale_quota_is_the_prefix_slack():
    """Direct-stale rows get only the prefix slots the age rotation does
    not need: PREFIX_ROWS - ceil(n / (MAX_ROW_AGE_ROUNDS + 1))."""
    import math

    se = _load_entry()
    names = [f"q{i:03d}" for i in range(200)]
    quota = se.PREFIX_ROWS - math.ceil(200 / (se.MAX_ROW_AGE_ROUNDS + 1))
    assert 0 < quota < 30
    # the 30 freshest rows are all stale; the rest are one round older
    last = {n: (10 if i >= 170 else 9) for i, n in enumerate(names)}
    order = se._priority_order(names, last, set(names[170:]), 10)
    assert order[:quota] == names[170 : 170 + quota]
    assert order[quota:quota + 170] == names[:170]
    # a registry too large for the prefix leaves no quota at all
    big = [f"q{i:04d}" for i in range(1000)]
    last = {n: 10 if i else 9 for i, n in enumerate(big)}
    assert se._priority_order(big, last, {big[-1]}, 10)[:2] == big[:2]


def test_direct_stale_reads_only_the_defining_module(monkeypatch):
    from types import SimpleNamespace

    se = _load_entry()

    class _Reg:
        @staticmethod
        def all_queries():
            return {
                "edited": SimpleNamespace(__module__="pkg.a"),
                "older_tree": SimpleNamespace(__module__="pkg.a"),
                "other": SimpleNamespace(__module__="pkg.b"),
                "pkg_init": SimpleNamespace(__module__="pkg.c"),
                "unknown_tree": SimpleNamespace(__module__="pkg.b"),
                "never_verified": SimpleNamespace(__module__="pkg.a"),
            }

    monkeypatch.setattr(se, "registry", _Reg)
    changed = {3: {"pkg/a.py", "pkg/c/__init__.py"}, 2: set(), 1: None}
    monkeypatch.setattr(se, "_changed_since", changed.get)
    last = {
        "edited": 3,
        "older_tree": 2,
        "other": 3,
        "pkg_init": 3,
        "unknown_tree": 1,
    }
    # an unknown tree (no tracked record) counts as stale
    assert se._direct_stale(last) == {"edited", "pkg_init", "unknown_tree"}


def test_rows_only_records_age_out_of_fresh(tmp_path, monkeypatch):
    """A rows-only query with a recorded driver run must NOT sit in the
    'fresh' bucket forever: it sorts with the stale queries by record
    age (VERDICT r5 'What's wrong' #1 — 7 permanently-fresh queries
    consumed prefix slots every round while 54 stale queries waited)."""
    import json

    se = _load_entry()
    monkeypatch.setattr(se, "_HERE", str(tmp_path))

    class _Reg:
        @staticmethod
        def all_queries():
            return {"green_q": None, "rows_only_q": None, "new_q": None}

        @staticmethod
        def all_oracles():
            return {"green_q": "SELECT 1", "new_q": "SELECT 1"}

    monkeypatch.setattr(se, "registry", _Reg)
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps(
            {
                "rows_only_q": {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": 37,
                    "oracle_rows": None,
                    "err": "no_oracle",
                }
            }
        )
    )
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps(
            {
                "green_q": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "spark_rows": 9,
                    "oracle_rows": 9,
                    "err": None,
                }
            }
        )
    )
    checked = se._last_checked_round()
    assert checked == {"green_q": 4, "rows_only_q": 3}
    names = ["green_q", "rows_only_q", "new_q"]
    # both recorded queries stale -> never-verified first, then the
    # rows-only record (r3) BEFORE the newer green row (r4)
    stale = {"green_q", "rows_only_q"}
    assert se._priority_order(names, checked, stale, 4) == [
        "new_q",
        "rows_only_q",
        "green_q",
    ]
    # nothing stale -> recorded rows-only query still ages by its
    # driver-run round (r3 before r4), never back into the fresh bucket
    assert se._priority_order(names, checked, set(), 4) == [
        "new_q",
        "rows_only_q",
        "green_q",
    ]


def test_rows_only_failed_record_stays_fresh(tmp_path, monkeypatch):
    """A rows-only query whose recorded run ERRORED (no row count, or a
    non-no_oracle error) has never been driver-checked — it must keep
    its fresh-bucket priority."""
    import json

    se = _load_entry()
    monkeypatch.setattr(se, "_HERE", str(tmp_path))

    class _Reg:
        @staticmethod
        def all_queries():
            return {"rows_only_q": None}

        @staticmethod
        def all_oracles():
            return {}

    monkeypatch.setattr(se, "registry", _Reg)
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps(
            {
                "rows_only_q": {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": "exception: boom",
                }
            }
        )
    )
    assert se._last_checked_round() == {}


@pytest.mark.parametrize("start", ["live", "60_stale_every_round"])
def test_rotation_simulation_keeps_max_age(start):
    """Eight simulated driver rounds of the pure ordering — each stamps
    its PREFIX_ROWS prefix with the new round number — leave no row past
    the age limit after any round. Start states: (a) the committed
    records, where a row re-verified in the simulation is no longer
    stale; (b) an adversarial r16-like state where the 60 most recently
    verified rows are direct-stale in EVERY round (each round edits the
    same builders again): the quota keeps them from starving the tail."""
    se = _load_entry()
    spec = importlib.util.spec_from_file_location(
        "driver_sim", _ENTRY.parent / "tools" / "driver_sim.py"
    )
    sim = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sim)
    records = se._records()
    assert records, "driver records missing"
    names = list(se.registry.all_queries())
    start_last = se._last_checked_round(records)
    current = records[-1][0]
    if start == "live":
        stale0 = se._direct_stale(start_last)

        def stale(now):
            return {n for n in stale0 if now.get(n) == start_last.get(n)}

    else:
        freshest = sorted(names, key=lambda n: -start_last.get(n, 0))[:60]

        def stale(_now):
            return set(freshest)

    last = {n: start_last[n] for n in names if n in start_last}
    for _ in range(8):
        order = se._priority_order(names, last, stale(last), current)
        current += 1
        for name in order[: se.PREFIX_ROWS]:
            last[name] = current
        assert sim.rotation_health(last, current) == [], current
    assert set(last) == set(names)
