"""Output check: every op's result against an independent DuckDB answer.

Built on the test suite's order-insensitive comparison
(``tests/conftest.py``: ``duckdb_connect`` views over the same parquet
files, ``normalize_rows`` for the column-sorted, row-sorted cell
rendering). Registry oracles must match exactly, and their answers are
cached in memory and on disk per input hash, so repeated ops and repeated
runs of one seed query DuckDB once. NL->SQL answers run plain SQL whose
floating-point sums and means depend on summation order, so their floats
match within a relative tolerance.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from tests.conftest import duckdb_connect, normalize_rows

REL_TOL = 1e-9


def _is_float(v) -> bool:
    return isinstance(v, float) and math.isfinite(v)


def _cell(v) -> str:
    return normalize_rows(["c"], [(v,)])[1][0][0]


def _tolerant_rows(columns, rows):
    """Columns sorted by name, rows sorted on a rendering that rounds
    floats to 6 significant digits; cells kept raw for the comparison."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple(f"{v:.6g}" if _is_float(v) else _cell(v) for v in r))
    return [columns[i] for i in order], out


def _cells_match(a, b) -> bool:
    if _is_float(a) and _is_float(b):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return _cell(a) == _cell(b)


class Checker:
    def __init__(self, sf_dir: str, cache_dir: str, input_hash: str):
        self.con = duckdb_connect(sf_dir)
        self.cache_dir = cache_dir
        self.input_hash = input_hash
        self._memo: dict[str, tuple] = {}
        os.makedirs(cache_dir, exist_ok=True)

    def view(self, name: str, parquet_dir: str) -> None:
        """(Re)point a DuckDB view at a warehouse table directory."""
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM"
            f" read_parquet('{parquet_dir}/*.parquet')"
        )

    def _oracle(self, sql: str):
        key = hashlib.sha1(f"{self.input_hash}|{sql}".encode()).hexdigest()
        if key in self._memo:
            return self._memo[key]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            ans = (cols, [tuple(r) for r in rows])
        else:
            res = self.con.execute(sql)
            ans = normalize_rows([d[0] for d in res.description], res.fetchall())
            with open(path, "w") as fh:
                json.dump(ans, fh)
        self._memo[key] = ans
        return ans

    def compare(self, columns, rows, sql: str) -> str | None:
        """Exact order-insensitive match against the cached oracle answer;
        None when the rows match, else a short reason."""
        return _diff(normalize_rows(list(columns), rows), self._oracle(sql), str.__eq__)

    def compare_close(self, columns, rows, sql: str) -> str | None:
        """Like ``compare``, with floats equal within ``REL_TOL`` and the
        oracle run fresh (its tables may have changed since last time)."""
        res = self.con.execute(sql)
        want = _tolerant_rows([d[0] for d in res.description], res.fetchall())
        return _diff(_tolerant_rows(list(columns), rows), want, _cells_match)


def _diff(got, want, same) -> str | None:
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for a, b in zip(got[1], want[1]):
        if not all(same(x, y) for x, y in zip(a, b)):
            return f"value mismatch, first differing row {a} != {b}"
    return None


def input_hash(paths: list[str]) -> str:
    h = hashlib.sha1()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
