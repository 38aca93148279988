"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``economic_data_project_spark``; this module is
a thin adapter over its query registry. The one policy it owns is the ROW
ORDER of both dicts, a rotation over the driver's bounded prefix
(:func:`_priority_order`).
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import math
import os
import subprocess
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from economic_data_project_spark import registry  # noqa: E402
from economic_data_project_spark.session import tune_session  # noqa: E402

#: rows of ``queries()`` the driver re-verifies per round
PREFIX_ROWS = 50
#: max rounds a row's newest driver evidence may trail the newest record
MAX_ROW_AGE_ROUNDS = 4


def _git(*args: str) -> str:
    try:
        res = subprocess.run(["git", *args], cwd=_HERE, capture_output=True,
                             text=True, timeout=15)
        return res.stdout if res.returncode == 0 else ""
    except Exception:
        return ""


def _records() -> list[tuple[int, str, dict]]:
    """(round, file name, {query: row}) of every parseable driver
    record, ascending by round."""
    out = []
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        name = os.path.basename(path)
        try:
            with open(path) as fh:
                rows = json.load(fh)
            out.append((int(name[len("CORRECTNESS_r"):-5]), name, rows))
        except (OSError, ValueError):
            continue
    return sorted(out, key=lambda r: r[0])


def _last_checked_round(records=None) -> dict[str, int]:
    """Newest round in which the driver verified each query: a full
    rows+schema+hash green or, for a query with no oracle in the CURRENT
    registry, a rows-only run that returned a row count (so rows-only
    queries age like the rest instead of staying never-verified)."""
    no_oracle = set(registry.all_queries()) - set(registry.all_oracles())
    last: dict[str, int] = {}
    for rnd, _file, rows in _records() if records is None else records:
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (row.get("rows_match") and row.get("schema_match")
                     and row.get("hash_match"))
            rows_only = (name in no_oracle and row.get("err") == "no_oracle"
                         and row.get("spark_rows") is not None)
            if green or rows_only:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _ast_changed(path: str, ref: str) -> bool:
    """True when a file's ABSTRACT SYNTAX differs from the tree at
    ``ref``: comment/whitespace-only edits re-verify nothing, so they
    must not consume the driver's bounded prefix. Fail-stale on any
    read/parse trouble (deleted file, syntax error in an old tree):
    over-verifying is safe, under-verifying is not."""
    try:
        old = _git("show", f"{ref}:{path}")
        with open(os.path.join(_HERE, path)) as fh:
            new = fh.read()
        if old == new:  # rename/mode-only diff entries
            return False
        return ast.dump(ast.parse(old)) != ast.dump(ast.parse(new))
    except (OSError, SyntaxError, ValueError):
        return True


def _pkg_files(git_out: str) -> set[str]:
    return {f for f in git_out.splitlines()
            if f.endswith(".py") and f.startswith(registry.__package__ + "/")}


@functools.cache
def _changed_since(rnd: int) -> set[str] | None:
    """Package files whose abstract syntax changed since the tree the
    driver verified in round ``rnd``; None = unknown tree (all stale).

    The reference is the commit of the newest TRACKED record at or
    before ``rnd`` (an older fallback widens the diff, never narrows
    it). Record and edits of a round land in one commit, so the files
    that commit touched are also compared against its parent."""
    refs = (_git("log", "-n", "1", "--format=%H", "--", file).strip()
            for rr, file, _rows in reversed(_records()) if rr <= rnd)
    ref = next((r for r in refs if r), "")
    if not ref:
        return None
    touched = _pkg_files(_git("show", "--name-only", "--format=", ref))
    diffed = _pkg_files(_git("diff", "--name-only", ref))
    return {f for f in diffed | touched
            if _ast_changed(f, ref)
            or (f in touched and _ast_changed(f, ref + "^"))}


def _direct_stale(last: dict[str, int]) -> set[str]:
    """Verified queries whose DEFINING module changed since their own
    newest driver round."""
    out = set()
    for name, fn in registry.all_queries().items():
        if name in last:
            changed = _changed_since(last[name])
            base = fn.__module__.replace(".", "/")
            files = {base + ".py", base + "/__init__.py"}
            if changed is None or files & changed:
                out.add(name)
    return out


def _priority_order(names: list[str], last_round: dict[str, int],
                    direct_stale: set[str], current_round: int) -> list[str]:
    """Pure driver rotation over ``names``; registry order breaks ties.

    1. rows that would exceed the age limit next round
       (age >= ``MAX_ROW_AGE_ROUNDS``), oldest first;
    2. never-verified rows;
    3. direct-stale rows, oldest first, capped at a quota;
    4. everything else, oldest first.

    Quota: oldest-first picks must cover the registry once every
    ``MAX_ROW_AGE_ROUNDS + 1`` rounds, i.e. take ``ceil(len(names) /
    (MAX_ROW_AGE_ROUNDS + 1))`` of the ``PREFIX_ROWS`` slots; edited
    builders get the rest, so they can never starve the tail."""
    cycle = math.ceil(len(names) / (MAX_ROW_AGE_ROUNDS + 1))
    quota = max(0, PREFIX_ROWS - cycle)
    checked = sorted((n for n in names if n in last_round), key=last_round.get)
    due = [n for n in checked
           if current_round - last_round[n] >= MAX_ROW_AGE_ROUNDS]
    fresh = [n for n in names if n not in last_round]
    stale = [n for n in checked if n in direct_stale and n not in due][:quota]
    taken = set(due) | set(stale)
    return due + fresh + stale + [n for n in checked if n not in taken]


def _driver_order() -> list[str]:
    records = _records()
    last = _last_checked_round(records)
    current = records[-1][0] if records else 0
    stale = _direct_stale(last)
    return _priority_order(list(registry.all_queries()), last, stale, current)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary report) on /root/testdata/sf0.001."""
    tune_session(spark)
    qs = registry.all_queries()
    return qs["pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    base = registry.all_queries()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(base[name]) for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted = rows-only)."""
    oracles = registry.all_oracles()
    return {name: oracles[name] for name in _driver_order() if name in oracles}
