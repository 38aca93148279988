"""Benchmark entry point.

    python3 perfbench/run.py --workload econ_build --seed 1 --seconds 15 --trace 0

Runs one workload (econ_build, corpus_longdoc or analyst_mix) on
``local[N]`` (N = min(4, cores)) with one client thread, checks every
output against DuckDB outside the timed region, and prints one JSON
object as its last line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Every file it writes lives under
``.perfbench_work/`` in the checkout; the JVM it starts is stopped and
waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = min(4, os.cpu_count() or 1)
# Set-ups per run; setup_s is their median. The first launches the JVM
# and the second pays for the first session's teardown, so with five the
# median falls among the later, steady ones.
SETUPS = 5
# Untimed analyst_mix warm-up passes: the first pass in the JVM compiles
# and loads everything, and the second still runs about a fifth slower
# than the ones after it.
WARMUPS = 2
# Measured analyst_mix passes: one per PASS_S seconds of ``--seconds``
# (a warm pass takes about that long on 4 cores), at least PASSES. The
# count does not depend on how fast the passes run: pass times still fall
# slowly after the warm-up, so a time budget would let fast runs measure
# later, faster passes and widen the run-to-run spread.
PASSES = 3
PASS_S = 5.0

# Count metrics that must repeat exactly between two traced passes.
COUNTS = ["registry.py4j_calls", "registry.build_jobs", "exec.jobs", "exec.stages", "exec.tasks"]


def _isolate_process() -> None:
    """Point every temp, scratch and warehouse path of Python, Spark and
    the JVM into the work directory before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={WORK}/spark-warehouse",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Dderby.system.home={WORK}/derby'",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, args):
        from perfbench.trace import Tracer

        self.args = args
        self.run_dir = os.path.join(WORK, "run")
        self.spark = None
        self.tracer = Tracer(enabled=False)
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    # ---------------------------------------------------------------- set-up

    def setup(self, k: int) -> float:
        """One set-up: start a session (the first also launches the JVM),
        generate the seeded inputs, load them. Returns its seconds."""
        from economic_data_project_spark.session import get_spark
        from perfbench.check import Checker, input_hash
        from perfbench.workloads import WORKLOADS

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", cpus=CORES, shuffle_partitions=CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        work = os.path.join(self.run_dir, f"setup{k}")
        self.wl = WORKLOADS[self.args.workload](self.spark, work, self.args.seed)
        in_dir = os.path.join(work, "inputs")
        self.wl.generate(in_dir)
        files = [os.path.join(in_dir, f) for f in os.listdir(in_dir)]
        self.checker = Checker(in_dir, os.path.join(WORK, "oracle_cache"), input_hash(files))
        self.wl.prepare(self.checker)
        return time.perf_counter() - t0

    # --------------------------------------------------------------- passes

    def run_pass(self, pass_no: int, check: bool, status=None, py4j=None):
        """Run every op of one pass; returns (position, kind, name,
        seconds) per op that did not raise.
        ``check`` compares each output to its oracle right after the op,
        outside its timed span. With a status reader, per-layer figures
        accumulate in ``self.layer``."""
        from economic_data_project_spark.caches import free_session_caches
        from perfbench.trace import BUILD, EXEC, PLAN

        if self.wl.build:
            free_session_caches()
            self.spark.catalog.clearCache()
        ops = self.wl.ops(pass_no)
        tr = self.tracer
        out = []
        for i, op in enumerate(ops):
            self.attempted += 1
            group = f"pb{pass_no}.{i}"
            try:
                with tr.span("op", op.name) as root:
                    if status:
                        status.set_group(group + ".build")
                    with tr.span(BUILD, op.name), (py4j.counting("registry") if py4j else nullcontext()):
                        df = op.build()
                    if status:
                        status.set_group(group + ".exec")
                        with tr.span(PLAN, op.name):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span(EXEC, op.name) as ex:
                        result = op.sink(df)
                    if status:
                        status.set_group(None)
                out.append((i, op.kind, op.name, root.seconds))
                if status:
                    with py4j.paused():
                        self._record_layers(status, group, op, ex.seconds)
                err = op.check(result) if check else None
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                if status:
                    status.set_group(None)
                err = f"{type(e).__name__}: {str(e)[:300]}"
            if err:
                self.failed += 1
                self.failures.append(f"{op.name}: {err}")
        return out

    def _record_layers(self, status, group: str, op, exec_s: float) -> None:
        from perfbench.trace import dir_stats

        status.drain()
        lay = self.layer
        lay["registry.build_jobs"] += len(status.tracker.getJobIdsForGroup(group + ".build"))
        for k, v in status.stage_stats(group + ".exec").items():
            lay[f"exec.{k}"] += v
        for k, v in status.python_stats().items():
            lay[f"python.{k}"] += v
        mb, n = status.storage()
        lay["caches.cached_mb"] = max(lay["caches.cached_mb"], mb)
        lay["caches.cached_rdds"] = max(lay["caches.cached_rdds"], n)
        if op.write_dir:
            lay["warehouse.write_s"] += exec_s
            files, size = dir_stats(op.write_dir)
            lay["warehouse.files_written"] += files
            lay["warehouse.bytes_written_mb"] += size / (1024.0 * 1024.0)

    # ------------------------------------------------------------- measure

    def measure(self, seconds: float) -> list:
        """The measured passes, untraced. A build measures its first pass
        in the process: one cold build, checked. The analyst mix measures
        ``seconds / PASS_S`` passes after the warm-up (at least
        ``PASSES``), checking every request. Returns one ``run_pass``
        result per pass."""
        if self.wl.build:
            return [self.run_pass(0, check=True)]
        n = max(PASSES, round(seconds / PASS_S))
        return [self.run_pass(k, check=True) for k in range(1, n + 1)]

    def traced(self):
        """The traced run's passes. A build traces its cold pass first;
        then four passes run in the order untraced, traced, traced,
        untraced, so that a linear drift in pass times cancels, the first
        of them checked. Returns the per-layer metrics of the first traced
        pass (with the tracing overhead: mean traced minus mean untraced
        seconds of the four), the count metrics that differed between the
        two traced passes of the four, and the untraced passes."""
        from economic_data_project_spark.sources import nl_sql
        from perfbench.trace import GENERATE, HINT, Py4jCounter, StatusReader, Tracer

        status = StatusReader(self.spark)
        py4j = Py4jCounter(self.spark)
        hint = nl_sql.schema_hint

        def traced_pass(pass_no: int) -> dict[str, float]:
            self.tracer = Tracer(enabled=True)
            self.wl.generator = lambda fn: self.tracer.timed(GENERATE, py4j.wrap("nl_sql", fn))
            nl_sql.schema_hint = self.tracer.timed(HINT, py4j.wrap("nl_sql", hint))
            py4j.counts.clear()
            self.layer = lay = _zero_layers()
            jvm0 = self.jvm_counters()
            status.python_stats()  # skip executions from before the pass
            try:
                res = self.run_pass(pass_no, False, status, py4j)
            finally:
                nl_sql.schema_hint = hint
                del self.wl.generator
            spans = self.tracer.self_times()
            self.tracer.dump(os.path.join(WORK, f"spans_{self.args.workload}_{pass_no}.jsonl"))
            self.tracer = Tracer(enabled=False)
            jvm1 = self.jvm_counters()
            lay["plan.codegen_compiles"] = jvm1["codegen_compiles"] - jvm0["codegen_compiles"]
            # the driver and the local executors share one JVM; the tasks'
            # own GC figure misses collections that fall between tasks
            lay["exec.gc_s"] = jvm1["gc_s"] - jvm0["gc_s"]
            lay["registry.py4j_calls"] = py4j.counts["registry"]
            lay["nl_sql.py4j_calls"] = py4j.counts["nl_sql"]
            lay["registry.build_s"] = spans["build"]
            lay["plan.plan_s"] = spans["plan"]
            lay["exec.exec_s"] = spans["exec"]
            lay["exec.cores_busy"] = lay["exec.executor_run_s"] / max(spans["exec"], 1e-9)
            lay["unaccounted_s"] = spans["unaccounted"]
            lay["pass_s"] = _pass_s(res)
            return lay

        layers, plain = [], []
        try:
            cold = traced_pass(0) if self.wl.build else None
            for i, traced in enumerate((False, True, True, False), start=1):
                if traced:
                    layers.append(traced_pass(i))
                else:
                    plain.append(self.run_pass(i, check=i == 1))
        finally:
            py4j.close()
        unstable = [k for k in COUNTS if layers[0][k] != layers[1][k]]
        out = dict(cold or layers[0])
        out["trace.overhead_s"] = (
            statistics.mean(x["pass_s"] for x in layers)
            - statistics.mean(_pass_s(r) for r in plain)
        )
        out["trace.unstable_counts"] = len(unstable)
        del out["pass_s"]
        return out, unstable, plain

    # ----------------------------------------------------------------- main

    def main(self) -> dict:
        from perfbench.trace import RssSampler

        a = self.args
        shutil.rmtree(self.run_dir, ignore_errors=True)
        t0 = time.perf_counter()
        setups = [self.setup(k) for k in range(1 if a.trace else SETUPS)]
        t1 = time.perf_counter()
        warmups = []
        for _ in range(0 if self.wl.build else WARMUPS):  # JIT and cache warm-up, not timed
            w0 = time.perf_counter()
            self.run_pass(0, check=False)
            warmups.append(time.perf_counter() - w0)
        t2 = time.perf_counter()
        jvm0 = self.jvm_counters()
        if not a.trace:
            passes = self.measure(a.seconds)
        else:
            # sampled over the traced run's passes, and over the JVM and its
            # Python workers only (the output checks run DuckDB in this process)
            with RssSampler(self.jvm_pid()) as rss:
                layers, unstable, passes = self.traced()
        ops = [op for res in passes for op in res]
        by_pos: dict[tuple, list[float]] = {}
        for i, _k, n, s in ops:
            by_pos.setdefault((i, n), []).append(s)
        print("inputs: " + json.dumps(self.wl.sizes.as_dict()), flush=True)
        info = {
            "workload": a.workload, "seed": a.seed, "cores": CORES,
            "setups_s": setups, "warmups_s": warmups,
            "passes_s": [_pass_s(r) for r in passes], "ops": len(ops),
            "phases_s": {"setup": t1 - t0, "warmup": t2 - t1,
                         "measure": time.perf_counter() - t2},
            "failed_ops_frac": self.failed / max(self.attempted, 1),
            "jvm_measured": {k: v - jvm0[k] for k, v in self.jvm_counters().items()},
            "op_s": {f"{i}:{n}": v for (i, n), v in by_pos.items()},
        }
        print("info: " + json.dumps(info), flush=True)
        for f in self.failures[:20]:
            print("failure: " + f, file=sys.stderr, flush=True)
        if not a.trace:
            # each op of the pass at its median latency over the passes
            op_s = [statistics.median(v) for v in by_pos.values()]
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "pass_s": (sum(op_s), "s"),
                "op_gmean_s": (statistics.geometric_mean(op_s), "s"),
            }
        else:
            if unstable:
                print("unstable counts: " + ", ".join(unstable), flush=True)
            # JVM launch, session, inputs, and the analyst mix's first (cold) pass
            layers["setup.cold_start_s"] = setups[0] + sum(warmups[:1])
            layers["mem.peak_rss_mb"] = rss.peak_mb
            metrics = {k: (v, LAYER_UNITS[k]) for k, v in sorted(layers.items())}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def jvm_counters(self) -> dict[str, float]:
        """The JVM's cumulative GC and JIT-compile seconds, loaded classes
        and Spark code-generation compiles (cache misses) so far."""
        jvm = self.spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {
            "gc_s": gc_ms / 1000.0,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "classes": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
            "codegen_compiles": _codegen_compiles(jvm),
        }

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench.trace import descendants

        workers = descendants()
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — escalate, then wait for real
                proc.kill()
                proc.wait()
        _wait_gone(workers)


def _wait_gone(pids: set[int], timeout: float = 20.0) -> None:
    """Wait until every process in ``pids`` has exited; kill stragglers."""
    import signal

    deadline = time.monotonic() + timeout
    while pids:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


LAYER_UNITS = {
    "registry.build_s": "s", "registry.build_jobs": "count", "registry.py4j_calls": "count",
    "caches.cached_mb": "MB", "caches.cached_rdds": "count",
    "plan.plan_s": "s", "plan.codegen_compiles": "count",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.cores_busy": "cores", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "python.sent_mb": "MB", "python.rows": "count",
    "warehouse.write_s": "s", "warehouse.bytes_written_mb": "MB",
    "warehouse.files_written": "count",
    "nl_sql.py4j_calls": "count",
    "unaccounted_s": "s", "trace.overhead_s": "s", "trace.unstable_counts": "count",
    "setup.cold_start_s": "s", "mem.peak_rss_mb": "MB",
}


def _pass_s(res) -> float:
    """Summed op seconds of one ``run_pass`` result."""
    return sum(s for _i, _k, _n, s in res)


def _codegen_compiles(jvm) -> int:
    """Whole-stage and expression code compiled so far in this JVM: one
    per miss of Spark's generated-code cache."""
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _zero_layers() -> dict[str, float]:
    return {k: 0.0 for k in LAYER_UNITS if not k.startswith(("trace.", "setup.", "mem."))}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    bench = Bench(args)
    try:
        result = bench.main()
    finally:
        bench.close()
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    _isolate_process()
    sys.exit(main())
