"""Per-query optimization harness (r15): time individual registry
queries with the bench's exact methodology (noop sink, cache-cold lane
isolation) and optionally dump .explain("formatted") plans.

Usage:
  python tools/qbench.py [-n REPS] [--plans DIR] [--sf DIR] name [name...]
  python tools/qbench.py --all            # every HEADLINE query
  python tools/qbench.py --longdoc name   # time against the longdoc corpus

Prints one line per query per rep (seconds and generated-code compiles)
plus a median summary. This is a measurement tool only — the driver
contract lives in bench.py.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as bench_mod  # noqa: E402
from economic_data_project_spark import registry  # noqa: E402
from economic_data_project_spark.caches import (  # noqa: E402
    free_session_caches,
    lazy_builds,
)
from economic_data_project_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def _timed_rep(spark, build, label: str, sink=None) -> float:
    """One cache-cold rep: free the data caches, build and sink through
    the noop writer (or ``sink``), and print the rep's seconds beside
    its generated-code compiles — an A/B whose arms differ only in
    compile reuse shows it here. Returns the seconds."""
    free_session_caches()
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(label)
    c0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    df = build()
    if sink is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        sink(df)
    secs = round(time.perf_counter() - t0, 3)
    print(
        f"{label}: {secs:.3f}s compiles={codegen_compiles(spark) - c0}",
        flush=True,
    )
    return secs


def alternating_ab(spark, arms, n: int = 9, sink=None):
    """Reusable alternating-arm A/B protocol (VERDICT r15 #7): the
    same-process, cache-cold, arm-order-flipped-per-rep measurement
    every r15/r16 adjudication used, as one entry point.

    ``arms`` maps arm name -> thunk returning a DataFrame (the thunk
    may monkeypatch module bindings before building). Each rep runs
    every arm once, flipping arm order on odd reps so slow-box drift
    hits both arms symmetrically; every timing starts cache-cold
    (session caches + SQL cache freed) and executes through the noop
    sink. The BUILD is inside the timed region, exactly like bench.py
    (construction-reduction changes must show up here too). Prints
    every rep's seconds and compiles, returns {arm: [seconds...]} and
    prints medians.

    This box fabricates 1.5-2.5x swings on identical code between
    COLD runs (BENCH r13-r15 run_totals) — never adjudicate a code
    change from two separate cold processes when this protocol fits.
    """
    names = list(arms)
    res = {a: [] for a in names}
    for rep in range(n):
        order = names if rep % 2 == 0 else list(reversed(names))
        for arm in order:
            res[arm].append(
                _timed_rep(spark, arms[arm], f"ab:{arm}#{rep}", sink)
            )
    for a in names:
        print(
            f"{a}: median={statistics.median(res[a]):.3f} runs={res[a]}",
            flush=True,
        )
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for <name>_<tag>.txt plan dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--longdoc", action="store_true")
    args = ap.parse_args()

    qs = registry.all_queries()
    names = list(bench_mod.HEADLINE) if args.all else args.names
    # ADVICE r15: empty names crashed at the warm-up indexing; unknown
    # names raised a bare KeyError mid-run. Validate before the JVM.
    if not names:
        ap.error("pass query names or --all")
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark(app_name="qbench-r15")
    sf_dir = args.sf
    if args.longdoc:
        sf_dir = bench_mod._gen_longdoc_dir(spark)

    # warm the JVM once, as bench does (excluded from timings)
    qs[names[0]](spark, sf_dir).limit(1).collect()

    for name in names:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            free_session_caches()
            spark.catalog.clearCache()
            # ADVICE r15: suppress builders' warm() fills during plan
            # capture so the dumped plan is the cold shape being
            # compared, not a cache-warm InMemoryTableScan variant.
            with lazy_builds():
                df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        if args.n <= 0:  # plans-only mode
            continue
        ts = [
            _timed_rep(
                spark, lambda: qs[name](spark, sf_dir), f"qbench:{name}#{rep}"
            )
            for rep in range(args.n)
        ]
        print(f"{name}: median={statistics.median(ts):.3f} runs={ts}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
