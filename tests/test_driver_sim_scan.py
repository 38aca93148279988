"""driver_sim's stderr-incident attribution (VERDICT r12 'What's wrong'
#5): every exception block in a captured sim log must be reported by
its HEADLINE with the nearest query context, classified against the
streaming-teardown allowlist — a saved log can then never confuse
benign teardown noise with a real failure."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]


def _load_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", _REPO / "tools" / "driver_sim.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_import_is_side_effect_free():
    # loading the module must not start Spark or run the sweep
    mod = _load_sim()
    assert callable(mod._inner) and callable(mod._outer)


def test_state_store_teardown_trace_is_attributed():
    sim = _load_sim()
    lines = [
        "[165/167] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/15 10:00:00 ERROR Executor: Exception in task 3.0",
        "java.lang.IllegalStateException: store unloaded",
        "\tat org.apache.spark.sql.execution.streaming.state."
        "package$StateStoreOps.$anonfun$mapPartitionsWithStateStore"
        "$2(package.scala:72)",
        "\tat org.apache.spark.TaskContext$$anon$1.onTaskCompletion"
        "(TaskContext.scala:146)",
        "[166/167] MATCH vocab_top_terms: ok (31 rows)",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 1
    headline, ctx, rule = incidents[0]
    assert headline.startswith("26/08/15 10:00:00 ERROR")
    assert "stream_neardup_census" in ctx
    assert rule is not None  # attributed: state-store allowlist


def test_unrelated_trace_is_unattributed():
    sim = _load_sim()
    lines = [
        "[ 10/167] MATCH nation_revenue: ok (25 rows)",
        "Traceback (most recent call last):",
        '  File "x.py", line 1, in <module>',
        "ZeroDivisionError: division by zero",
    ]
    incidents = sim._scan_incidents(lines)
    assert [r for _h, _c, r in incidents] == [None]
    assert "nation_revenue" in incidents[0][1]


def test_aborting_job_is_attributed():
    sim = _load_sim()
    lines = [
        "[100/167] MATCH stream_dedup_census: ok (40 rows)",
        "26/08/15 10:00:01 ERROR FileFormatWriter: Aborting job"
        " 5a2b-44.",
        "org.apache.spark.SparkException: Job aborted.",
        "\tat org.apache.spark.sql.execution.datasources."
        "FileFormatWriter$.write(FileFormatWriter.scala:100)",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 1
    assert incidents[0][2] is not None


def test_task_attempt_abort_notice_is_attributed():
    """The third shape of the same streaming-stop abort event (caught
    UNATTRIBUTED by the r13 sim's first wrapper run): the per-job task
    attempt notice logged alongside the allowed 'Aborting job <uuid>'
    within the same second."""
    sim = _load_sim()
    lines = [
        "[165/171] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/16 08:45:55 ERROR FileFormatWriter: Job:"
        " job_202608160845541306778388975417089_2896, Task:"
        " task_202608160845541306778388975417089_2896_m_000014,"
        " Task attempt attempt_202608160845541306778388975417089"
        "_2896_m_000014_0 aborted.",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 1
    assert incidents[0][2] is not None


def test_bare_task_abort_line_is_attributed_inside_window():
    """Two-worker interleaving can detach a per-task abort headline
    from its (attributable) stack block; the bare line is a documented
    shape of the streaming-stop abort event (r13 final-sim
    observation: the whole cluster lands in the SAME SECOND as the
    stream-signed job abort). ADVICE r13 tightening: the bare line
    attributes via the teardown WINDOW — a stream-signed neighbour
    within ±3 s — not unconditionally."""
    sim = _load_sim()
    lines = [
        "[165/171] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/16 09:40:21 ERROR FileFormatWriter: Aborting job"
        " 20f1f608-c5e6-4bc4-9a72-2b2e8f04ed32.",
        "26/08/16 09:40:21 ERROR Utils: Aborting task",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 2
    assert incidents[0][2] is not None  # stream-signed job abort
    assert incidents[1][2] is not None  # bare task abort: window
    assert "teardown-window" in incidents[1][2]


def test_bare_abort_outside_teardown_window_is_unattributed():
    """ADVICE r13: a rows-only query's check is count() >= 0, so an
    abort Spark transparently retried there stays green — a bare abort
    with NO stream-signed neighbour inside the window must therefore
    fail the scan rather than be rubber-stamped ALLOWED."""
    sim = _load_sim()
    lines = [
        "[ 50/171] ROWS  signal_mst_network: rows-only (11 rows)",
        "26/08/16 09:40:21 ERROR Utils: Aborting task",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 1
    assert incidents[0][2] is None


def test_bare_abort_with_distant_stream_neighbour_is_unattributed():
    """A stream-signed incident ten seconds away does NOT vouch for a
    bare abort — both lines are timestamped, so the ±3 s rule decides
    and the line-distance fallback must not apply."""
    sim = _load_sim()
    lines = [
        "[165/171] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/16 09:40:10 ERROR FileFormatWriter: Aborting job"
        " 20f1f608-c5e6-4bc4-9a72-2b2e8f04ed32.",
        "26/08/16 09:40:21 ERROR Utils: Aborting task",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 2
    assert incidents[0][2] is not None
    assert incidents[1][2] is None


def test_outer_flags_unattributed_incident_in_clean_run(tmp_path):
    """End-to-end: a clean-exit inner run whose log carries an
    unattributed trace must fail the wrapper (rc 1) and print the
    attribution summary."""
    fake_inner = tmp_path / "fake_sim.py"
    fake_inner.write_text(
        "import sys\n"
        "sys.path.insert(0, '/root/repo/tools')\n"
        "import driver_sim\n"
        "if '--inner' in sys.argv:\n"
        "    print('[  1/1] MATCH q: ok (1 rows)')\n"
        "    print('Traceback (most recent call last):')\n"
        "    print('  File \"q.py\", line 9, in f')\n"
        "    print('ValueError: boom')\n"
        "    print('TOTAL 1 queries: 1 MATCH, 0 rows-only, 0 FAIL')\n"
        "    sys.exit(0)\n"
        "driver_sim.__file__ = __file__\n"
        "sys.exit(driver_sim._outer())\n"
    )
    res = subprocess.run(
        [sys.executable, str(fake_inner)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert res.returncode == 1
    assert "UNATTRIBUTED" in res.stdout
    assert "ValueError: boom" in res.stdout
    assert "FAIL: unattributed" in res.stdout


def test_adjacent_distinct_incidents_do_not_share_attribution():
    """An allowed teardown line logged in the same second as an
    UNRELATED failure must not attribute it: a timestamped ERROR (or a
    fresh Traceback) always opens a NEW block (review finding r13 —
    the old scanner absorbed it as a continuation and one allowlist
    match tagged the merged block ALLOWED)."""
    sim = _load_sim()
    lines = [
        "[165/171] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/16 09:40:21 ERROR FileFormatWriter: Aborting job"
        " 20f1f608-c5e6-4bc4-9a72-2b2e8f04ed32.",
        "26/08/16 09:40:21 ERROR Utils: Aborting task",
        "26/08/16 09:40:21 ERROR Executor: Exception in task 1.0",
        "java.lang.NullPointerException: boom",
        "\tat com.example.RealBug.run(RealBug.java:5)",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 3
    assert incidents[0][2] is not None  # job abort: stream-signed
    assert incidents[1][2] is not None  # bare abort: teardown window
    # the NPE shares the second with an allowed teardown cluster but is
    # NOT abort-shaped — the window never attributes it
    assert incidents[2][2] is None


def test_rotation_health_flags_over_age_rows():
    """VERDICT r13 #5: the scheduler keeps max row age <= 4 rounds by
    construction; the sim CHECKS it so an r8-style tail can't silently
    re-accumulate."""
    sim = _load_sim()
    last = {"fresh_row": 13, "edge_row": 9, "stale_row": 8}
    violations = sim.rotation_health(last, current_round=13)
    assert violations == [("stale_row", 5)]
    # age == max_age is the allowed edge (r9 rows at r13 were legal)
    assert sim.rotation_health({"edge_row": 9}, 13) == []
    assert sim.MAX_ROW_AGE_ROUNDS == 4


def test_rotation_health_on_live_records():
    """The part of the age invariant the repo controls, checked on its
    committed records: every row at or over the age limit sits in the
    first PREFIX_ROWS of queries(), so the next driver round brings it
    back under the limit. (Whether rows are ALREADY past the limit
    depends on how earlier driver rounds sampled; rotation_health
    reports that, and the rotation simulation in
    tests/test_driver_priority.py shows the ordering clears it.)"""
    sim = _load_sim()
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", _REPO / "__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    records = entry._records()
    assert records, "driver records missing"
    current = records[-1][0]
    last = entry._last_checked_round(records)
    order = list(entry.queries())
    assert sim.prefix_violations(order, last, current) == []


def test_interrupted_broadcast_store_is_attributed():
    """The streaming stop's job-group cancel can interrupt an in-flight
    broadcast write; TorrentBroadcast logs the store failure on its own
    timestamped ERROR line (a single-line block under the same-second
    split), followed by separate abort/interrupt blocks — all three
    shapes of the one documented cancel event must attribute."""
    sim = _load_sim()
    lines = [
        "[140/171] MATCH stream_dedup_census: ok (40 rows)",
        "26/08/16 10:50:38 ERROR TorrentBroadcast: Store broadcast"
        " broadcast_2050 fail, remove all pieces of the broadcast",
        "26/08/16 10:50:38 ERROR FileFormatWriter: Aborting job"
        " 20f1f608-c5e6-4bc4-9a72-2b2e8f04ed32.",
        "java.lang.InterruptedException",
        "\tat java.base/java.util.concurrent.locks."
        "AbstractQueuedSynchronizer.tryAcquireSharedNanos"
        "(AbstractQueuedSynchronizer.java:1081)",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 2
    assert all(rule is not None for _h, _c, rule in incidents)


def test_teardown_window_spans_month_boundary():
    """ADVICE r14: the epoch ordinal folded only day/hour/min/sec, so
    a sim run crossing a month boundary compared epochs ~days apart
    and missed the ±3 s co-match. With a real calendar conversion the
    stream-signed job abort at 23:59:59 on the month's last day must
    vouch for the bare task abort 2 s later at 00:00:01 on the 1st."""
    sim = _load_sim()
    lines = [
        "[165/171] MATCH stream_neardup_census: ok (22 rows)",
        "26/08/31 23:59:59 ERROR FileFormatWriter: Aborting job"
        " 20f1f608-c5e6-4bc4-9a72-2b2e8f04ed32.",
        "26/09/01 00:00:01 ERROR Utils: Aborting task",
    ]
    incidents = sim._scan_incidents(lines)
    assert len(incidents) == 2
    assert incidents[0][2] is not None
    assert incidents[1][2] is not None, "month-boundary co-match missed"
    assert "teardown-window" in incidents[1][2]
    # and a genuinely distant pair still does NOT co-match
    far = [
        lines[0],
        "26/08/31 23:59:59 ERROR FileFormatWriter: Aborting job x.",
        "26/09/01 00:10:00 ERROR Utils: Aborting task",
    ]
    incidents = sim._scan_incidents(far)
    assert incidents[1][2] is None
