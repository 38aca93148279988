"""tools/scale_probe.py is the only runner of the engine's above-cutover
tiers, so nothing else notices when it stops matching the engine. Run
every family once at a tiny size on the shared session and require
each family's check to pass."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parent.parent


def _probe():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", _REPO / "tools" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


PROBE = _probe()


@pytest.mark.parametrize("family", sorted(PROBE.FAMILIES))
def test_family_runs_and_checks_pass(spark, family):
    fam = PROBE.FAMILIES[family]
    records = PROBE.run(spark, family, (600,))
    assert [(r["corpus"], r["op"]) for r in records] == [
        (c, op) for c in fam.corpora for op in fam.ops
    ]
    for r in records:
        assert r["sec"] > 0
        if fam.check is not None:
            assert r["ok"], r
