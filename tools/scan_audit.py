"""Audit every registered query's COLD plan for the three plan budgets
the registry gates pin (tests/test_plans.py): fact tables read multiple
times outside caches (the union-fan-out anti-pattern — free at sf0.1,
N full IO passes at 100 TB), wide text/embedding scan nodes (cache
fills included), and Spark jobs run at builder CONSTRUCTION (eager
probes).

Usage: python tools/scan_audit.py [min_fact_scans] [sf_dir]
(sf_dir also via $SPARK_GRAFT_SF_DIR; default /root/testdata/sf0.001)

One sweep, one plan build per query: everything comes from
economic_data_project_spark.plans.audit.registry_audit — the optimized
-plan TREE WALK for fact scans (NEVER count scans in the rendered plan
string: it duplicates shared DAG nodes — one shingle subtree
re-rendered 24x in the manifest plan — and executed-AQE cached children
reset indentation, breaking line-based IMR scoping), formatted-explain
node ids for the wide-column count, and a per-builder job group for
construction jobs. Builders run exactly as in production: they return
lazy plans, so only the documented probes, fits and the one iterative
builder (connected components — its localCheckpoint truncation is
load-bearing) run jobs at construction.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from economic_data_project_spark.plans.audit import (  # noqa: E402
    registry_audit,
)
from economic_data_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    threshold = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        )
    )
    spark = get_spark(app_name="scan-audit")
    audit = registry_audit(spark, sf_dir)

    for name, a in sorted(audit.items()):
        if a["error"]:
            print(f"ERR {name}: {a['error']}", file=sys.stderr)

    rows = []
    for name, a in audit.items():
        if a["error"]:
            continue
        hot = {f: n for f, n in a["fact_scans"].items() if n >= threshold}
        if hot:
            rows.append((max(hot.values()), name, hot))
    rows.sort(reverse=True)
    for worst, name, hot in rows:
        print(f"{worst:3}x  {name:40} {hot}")
    if not rows:
        print(
            f"clean: no query reads a fact table >= {threshold}x"
            " outside caches"
        )

    wide = [
        (max(a["wide_scans"].values()), name, a["wide_scans"])
        for name, a in audit.items()
        if not a["error"] and a.get("wide_scans")
        and max(a["wide_scans"].values()) > 2
    ]
    for worst, name, w in sorted(wide, reverse=True):
        print(f"WIDE {worst:3}x  {name:40} {w}")

    jobs = {
        name: a["build_jobs"]
        for name, a in audit.items()
        if a["build_jobs"] > 0
    }
    if jobs:
        print("builders running jobs at construction"
              " (gate-exempt set in tests/test_plans.py):")
        for name, n in sorted(jobs.items(), key=lambda kv: -kv[1]):
            print(f"JOBS {n:3}  {name}")


if __name__ == "__main__":
    main()
