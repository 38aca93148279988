"""Benchmark-side instrumentation: spans, py4j call counts, Spark status
reads and the process-tree memory sampler.

Nothing here changes what the engine does. Spans are recorded around
calls into the engine's public entry points; job, stage and task
figures come from Spark's own status store (``AppStatusStore``, which
works with the UI disabled), and the Python-worker figures from the SQL
status store's per-node metrics. A traced run forces physical planning
before each sink so plan time can be split out; that extra planning is
part of the reported tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# Span names per layer; ``op`` is the root of every request.
BUILD, PLAN, EXEC, HINT, GENERATE = "build", "plan", "exec", "nl_sql.hint", "nl_sql.generate"


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory when enabled; a disabled tracer only
    times the ``op`` root, which every run needs for its latencies."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled and name != "op":
            yield None
            return
        s = Span(name, op, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def timed(self, name: str, fn):
        """Wrap ``fn`` so each call records a span named ``name``."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self) -> dict[str, float]:
        """Total and self seconds per span name; ``unaccounted`` is the op
        roots' time not covered by any child span."""
        covered = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.seconds
            if s.name == "op":
                out["unaccounted"] += s.seconds - covered[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's send.

    ``paused()`` excludes the tracer's own status reads; ``counting(key)``
    attributes calls made inside it to ``key``."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.counts: dict[str, int] = defaultdict(int)
        self._key: str | None = None

        def send(command, *args, **kwargs):
            # py4j also sends a release command whenever Python garbage-
            # collects a JVM handle; its timing is the collector's, so it
            # is not counted
            if self._key is not None and not command.startswith("m\nd\n"):
                self.counts[self._key] += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = send

    @contextlib.contextmanager
    def counting(self, key: str):
        prev, self._key = self._key, key
        try:
            yield
        finally:
            self._key = prev

    def wrap(self, key: str, fn):
        """``fn`` with its calls counted under ``key``."""

        def wrapper(*args, **kwargs):
            with self.counting(key):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def paused(self):
        prev, self._key = self._key, None
        try:
            yield
        finally:
            self._key = prev

    def close(self) -> None:
        self._client.send_command = self._orig


_UNIT = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric: a plain count, or the ``total``
    figure of a size metric (``"total (min, med, max ...)\\n1.2 MiB
    (...)"``) in bytes."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"(-?[\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


class StatusReader:
    """Per-op job/stage/task and Python-node figures from Spark's status
    stores, attributed by job group (one group per op phase)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self.sql_store.executionsCount()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def stage_stats(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and task metrics of every job in ``group``
        (skipped stages are not counted)."""
        store = self.jsc.statusStore()
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        out: dict[str, float] = defaultdict(float)
        stage_ids: set[int] = set()
        for job_id in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids.update(conv.asJava(store.job(job_id).stageIds()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never-run (skipped) stages have no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def python_stats(self) -> dict[str, float]:
        """Python-worker node metrics of the SQL executions since the last
        call. A node is a Python node when it carries the
        ``data sent to Python workers`` metric (ArrowEvalPython,
        MapInPandas, FlatMapGroupsInPandas, ...)."""
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        n = self.sql_store.executionsCount()
        out: dict[str, float] = defaultdict(float)
        if n <= self._seen_exec:
            return out
        execs = conv.asJava(self.sql_store.executionsList(self._seen_exec, n - self._seen_exec))
        self._seen_exec = n
        wanted = {
            "data sent to Python workers": "sent_mb",
            "number of output rows": "rows",
        }
        for ex in execs:
            eid = ex.executionId()
            ids: list[tuple[int, str]] = []
            for node in conv.asJava(self.sql_store.planGraph(eid).allNodes()):
                metrics = [(m.name(), m.accumulatorId()) for m in conv.asJava(node.metrics())]
                if not any(name == "data sent to Python workers" for name, _ in metrics):
                    continue
                ids += [(acc, wanted[name]) for name, acc in metrics if name in wanted]
            if not ids:
                continue
            values = self.sql_store.executionMetrics(eid)
            for acc, key in ids:
                v = values.get(acc)
                if v.isDefined():
                    x = parse_metric(v.get())
                    out[key] += x / MB if key == "sent_mb" else x
        return out

    def storage(self) -> tuple[float, int]:
        """(cached MB, cached RDD count) from the block manager's storage
        status (CacheManager fills and registry caches alike)."""
        infos = self.jsc.getRDDStorageInfo()
        mb, n = 0.0, 0
        for info in infos:
            if info.numCachedPartitions() > 0:
                n += 1
                mb += (info.memSize() + info.diskSize()) / MB
        return mb, n


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


class RssSampler:
    """Peak resident set (MB) of process ``root`` and all its descendants,
    sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.sample())
            self._stop.wait(self.interval)

    def sample(self) -> float:
        tree = _tree(self.root)
        total = 0
        for pid, (ppid, comm) in tree.items():
            # of the JVM's children only the Python workers are counted: a
            # helper it forks (Hadoop shells out for file permissions)
            # reports the whole JVM's pages as its own until it execs
            if tree.get(ppid, (0, ""))[1] == "java" and not comm.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / MB


def _tree(root: int) -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for process ``root`` and every
    live descendant."""
    info: dict[int, tuple[int, str]] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except OSError:
            continue
        ppid = int(rest.split()[1])
        info[int(entry)] = (ppid, head.split("(", 1)[1])
        children[ppid].append(int(entry))
    out = {root: info.get(root, (0, ""))}
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out[pid] = info[pid]
        stack.extend(children.get(pid, ()))
    return out


def descendants() -> set[int]:
    """Process ids of every live descendant of this process."""
    return set(_tree(os.getpid())) - {os.getpid()}
