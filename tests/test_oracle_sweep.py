"""tools/oracle_sweep.sweep: the one MATCH / ROWS / FAIL loop shared by
the oracle sweep and the driver simulation."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from economic_data_project_spark.registry import all_oracles, all_queries

from .conftest import SF_DIR_ORACLE

_REPO = Path(__file__).resolve().parents[1]


def _load_sweep():
    spec = importlib.util.spec_from_file_location(
        "oracle_sweep", _REPO / "tools" / "oracle_sweep.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.sweep


def test_sweep_tags_match_rows_and_fail(spark, capsys):
    registered = all_queries()
    queries = {
        n: registered[n]
        for n in (
            "economic_regime_classification",  # oracle-backed
            "window_lag_lead",  # oracle-backed
            "signal_turbulence",  # rows-only
        )
    }

    def broken(spark, sf_dir):
        raise ValueError("boom")

    queries["broken"] = broken
    tags = _load_sweep()(spark, queries, all_oracles(), SF_DIR_ORACLE)
    assert tags == {
        "economic_regime_classification": "MATCH",
        "window_lag_lead": "MATCH",
        "signal_turbulence": "ROWS",
        "broken": "FAIL",
    }
    out = capsys.readouterr().out
    assert "FAIL  broken: EXC ValueError: boom" in out
    assert "ROWS  signal_turbulence: rows-only (" in out
    assert "TOTAL 4 queries: 2 MATCH, 1 rows-only, 1 FAIL in" in out
