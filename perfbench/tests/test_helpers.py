"""Tests for the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import procstat, stats
from perfbench.layers import executor_totals, layer_of
from perfbench.oracle import ReplayOracle, diff_counts, mismatches
from perfbench.trace import Job, Span, Trace, Tracer, attribute, covered, parse_event_log


# ---- tail percentile -------------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    pct, val = stats.tail([float(i) for i in range(11)])
    assert (pct, val) == (100.0 / 11, 0.0)  # one sample with ten above it


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(100, 0, -1)]  # unsorted input
    pct, val = stats.tail(values)
    assert pct == 90.0 and val == 90.0
    assert sum(v > val for v in values) == 10


# ---- warm-up drift ---------------------------------------------------------


def _meter(cycle_walls):
    from perfbench.run import Meter

    m = Meter()
    # two ops per cycle: the drift check works on whole-cycle wall
    m.ops = [
        {"cycle": c, "kind": kind, "wall": w / 2}
        for c, w in enumerate(cycle_walls)
        for kind in ("write", "read")
    ]
    return m


def test_warmup_drift_compares_last_warmup_cycle_and_window_halves():
    from perfbench.run import warmup_drift

    # warm-up cycles 0-4, timed cycles 5-10 still falling inside the window
    m = _meter([5.0, 3.0, 2.4, 2.2, 2.4, 2.0, 2.0, 2.0, 1.0, 1.0, 1.0])
    drift, trend = warmup_drift(m, 5, set(range(5, 11)))
    assert drift == pytest.approx(2.4 / 1.5)
    assert trend == pytest.approx(2.0)


def test_warmup_drift_is_one_on_a_flat_window():
    from perfbench.run import warmup_drift

    m = _meter([5.0, 3.0, 1.0, 1.0, 1.0, 1.0, 1.0])
    assert warmup_drift(m, 2, set(range(2, 7))) == pytest.approx((3.0, 1.0))
    assert warmup_drift(m, 5, set(range(5, 7))) == pytest.approx((1.0, 1.0))


# ---- spans, self time and attribution --------------------------------------


def _span(i, name, parent, start, end, op=0):
    return Span(i, name, parent, op, start, end)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6), (9, 12)], 0, 10) == pytest.approx(3 + 1 + 1)
    assert covered([], 0, 1) == 0.0
    assert covered([(2, 1)], 0, 5) == 0.0  # empty interval


def test_self_time_subtracts_children_and_direct_jobs():
    spans = [
        _span(0, "op.write", None, 100.0, 110.0),
        _span(1, "sources.lake.upsert", 0, 101.0, 105.0),
        _span(2, "sources.lake.staging_write", 1, 102.0, 104.0),
    ]
    jobs = {
        0: Job(0, 106.0, 108.0),  # directly in op.write
        1: Job(1, 102.5, 103.5),  # inside staging_write
        2: Job(2, 104.2, 104.8),  # in upsert, after staging_write
    }
    t = Trace(spans, jobs)
    assert t.job_span == {0: 0, 1: 2, 2: 1}
    # op.write: 10 s minus child upsert (4 s) minus its own job (2 s)
    assert t.self_time(0) == pytest.approx(4.0)
    # upsert: 4 s minus staging_write (2 s) minus job 2 (0.6 s)
    assert t.self_time(1) == pytest.approx(1.4)
    # driver time: wall minus the time any job under the span ran
    assert t.driver_time(0) == pytest.approx(10.0 - 2.0 - 1.0 - 0.6)
    assert sorted(j.id for j in t.jobs_under(1)) == [1, 2]


def test_attribution_picks_innermost_open_span_and_ignores_setup():
    spans = [
        _span(0, "op.write", None, 10.0, 20.0),
        _span(1, "plans.pipeline.apply_epoch", 0, 10.5, 19.0),
        _span(2, "sources.lake.upsert", 1, 12.0, 18.0),
        _span(3, "op.read", None, 20.5, 21.0),
    ]
    jobs = {
        0: Job(0, 5.0),  # before any span: set-up
        1: Job(1, 11.0),
        2: Job(2, 12.0),  # submitted the millisecond the upsert opened
        3: Job(3, 19.5),
        4: Job(4, 20.75),
    }
    assert attribute(jobs, spans) == {0: None, 1: 1, 2: 2, 3: 0, 4: 3}


def test_attribution_tolerates_millisecond_floor_of_event_log():
    # the span opened at 12.0004 s; the event log floors the job to 12.000
    spans = [_span(0, "a.b", None, 10.0, 20.0), _span(1, "a.c", 0, 12.0004, 13.0)]
    assert attribute({0: Job(0, 12.000)}, spans) == {0: 1}


def _event_log_lines():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 200_000_000, "JVM GC Time": 10,
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
                          "Output Metrics": {"Bytes Written": 0, "Records Written": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 lists stage 1 again (skipped, reused) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "perfbench-0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Failed": False},
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 50, "Output Metrics": {"Bytes Written": 4096, "Records Written": 12}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 1800},
    ]
    return [json.dumps(e) + "\n" for e in events]


def test_event_log_jobs_metrics_and_group_cross_check():
    jobs = parse_event_log(_event_log_lines())
    j0, j1 = jobs[0], jobs[1]
    assert (j0.submit, j0.end, j0.stages, j0.group) == (1.0, 1.5, [0, 1], "perfbench-1")
    assert (j0.tasks, j0.failed_tasks) == (2, 1)
    assert j0.run_s == pytest.approx(0.4) and j0.cpu_s == pytest.approx(0.2)
    assert j0.gc_s == pytest.approx(0.01)
    assert (j0.spill_bytes, j0.shuffle_write_bytes) == (12, 1000)
    # the reused stage 1 stays with job 0; job 1 only ran stage 2
    assert (j1.tasks, j1.output_bytes, j1.output_records) == (1, 4096, 12)

    spans = [_span(0, "op.write", None, 0.9, 2.0), _span(1, "sources.lake.upsert", 0, 0.95, 1.55)]
    t = Trace(spans, jobs)
    assert t.job_span == {0: 1, 1: 0}
    assert t.group_mismatches({"perfbench-1": [0], "perfbench-0": [1]}) == 0
    assert t.group_mismatches({"perfbench-0": [0, 1]}) == 1


def test_executor_totals_are_inclusive_per_layer():
    spans = [
        _span(0, "op.write", None, 0.0, 10.0),
        _span(1, "plans.pipeline.apply_epoch", 0, 0.5, 9.0),
        _span(2, "sources.lake.upsert", 1, 1.0, 8.0),
    ]
    jobs = {0: Job(0, 0.7, 0.9, cpu_s=1.0), 1: Job(1, 2.0, 3.0, cpu_s=2.0)}
    totals = executor_totals(Trace(spans, jobs), [0])
    assert totals["plans.pipeline"]["executor_cpu_s"] == 3.0
    assert totals["sources.lake"]["executor_cpu_s"] == 2.0
    assert totals["plans.replicate"]["executor_cpu_s"] == 0.0
    assert layer_of("op.write") is None and layer_of("sources.lake.upsert") == "sources.lake"


def test_tracer_wraps_and_restores():
    class Lake:
        def upsert(self, x):
            return x + 1

    lake, tracer = Lake(), Tracer()
    tracer.op = 7
    tracer.wrap(lake, "upsert", "sources.lake.upsert")
    with tracer.span("op.write"):
        assert lake.upsert(1) == 2
    assert [(s.name, s.parent, s.op) for s in tracer.spans] == [
        ("op.write", None, 7),
        ("sources.lake.upsert", 0, 7),
    ]
    assert all(s.end >= s.start for s in tracer.spans)
    tracer.restore()
    assert "upsert" not in vars(lake)


def test_tracer_wrap_result_traces_the_returned_objects_method():
    class Frame:
        def collect(self):
            return [1]

    class Module:
        @staticmethod
        def lineage_metrics():
            return Frame()

    tracer = Tracer()
    tracer.wrap_result(Module, "lineage_metrics", "collect", "plans.checkpoint.bookkeeping")
    frame = Module.lineage_metrics()
    assert tracer.spans == []  # building the frame is not the job
    assert frame.collect() == [1]
    assert [s.name for s in tracer.spans] == ["plans.checkpoint.bookkeeping"]


# ---- /proc readers ---------------------------------------------------------


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, start=0):
    rest = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 4 + [start] + [0] * 10
    return f"{pid} ({comm}) " + " ".join(str(v) for v in rest) + "\n"


def _fake_proc(tmp_path, procs, hwm=None, threads=None):
    for pid, comm, ppid, ut, st, cut in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, comm, ppid, ut, st, cut))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{(hwm or {}).get(pid, 0)} kB\n")
        for tid, tcomm, tut, tst in (threads or {}).get(pid, ()):
            t = d / "task" / str(tid)
            t.mkdir(parents=True)
            (t / "stat").write_text(_stat_line(tid, tcomm, ppid, tut, tst))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_parse_stat_handles_parentheses_and_spaces_in_comm():
    ppid, ticks, start = procstat.parse_stat(_stat_line(5, "java (x) y", 4, 10, 20, 3, 4, start=777))
    assert (ppid, ticks, start) == (4, 37, 777)


def test_tree_cpu_sums_descendants_and_splits_out_jit(tmp_path):
    jvm_threads = [(11, "java", 500, 100), (13, "C2 CompilerThread0", 300, 0), (14, "C1 CompilerThread0", 80, 20)]
    proc = _fake_proc(
        tmp_path,
        [
            (10, "python3", 1, 100, 50, 0),  # the driver
            (11, "java", 10, 1000, 200, 0),  # the JVM, all threads included
            (12, "python3 -m pyspark.daemon", 11, 30, 5, 40),  # daemon, reaped workers
            (20, "unrelated", 1, 9999, 9999, 0),
        ],
        threads={11: jvm_threads},
    )
    assert procstat.tree_pids(10, proc) == [10, 11, 12]
    assert procstat.tree_pids(99, proc) == []
    cpu = procstat.TreeCpu(10, proc)
    total, jit = cpu.sample()
    assert total == pytest.approx((150 + 1200 + 75) / procstat.CLK_TCK)
    assert jit == pytest.approx(400 / procstat.CLK_TCK)
    # HotSpot retires an idle compiler thread: its time stays counted as JIT
    # (the process total keeps it too)
    import shutil

    shutil.rmtree(tmp_path / "11" / "task" / "14")
    assert cpu.sample()[1] == pytest.approx(400 / procstat.CLK_TCK)


def test_peak_rss_sums_per_process_peaks(tmp_path):
    proc = _fake_proc(
        tmp_path,
        [(10, "python3", 1, 0, 0, 0), (11, "java", 10, 0, 0, 0), (20, "other", 1, 0, 0, 0)],
        hwm={10: 1024, 11: 4096, 20: 1 << 20},
    )
    peak = procstat.PeakRss(10, proc)
    peak.sample()
    (tmp_path / "11" / "status").write_text("VmHWM:\t2048 kB\n")  # never lowers a peak
    peak.sample()
    assert peak.mb() == pytest.approx(5.0)
    assert procstat.vm_hwm_kb("Name:\tkthreadd\n") == 0


def test_host_steal_and_load(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3\nbtime 1\n")
    (tmp_path / "loadavg").write_text("1.25 0.5 0.1 1/100 42\n")
    before = procstat.host_cpu_ticks(str(tmp_path))
    assert before == (1000, 35)
    (tmp_path / "stat").write_text("cpu  200 0 60 1500 10 0 5 135 0 0\n")
    after = procstat.host_cpu_ticks(str(tmp_path))
    assert procstat.steal_share(before, after) == pytest.approx(100 / 910)
    assert procstat.loadavg1(str(tmp_path)) == 1.25


def test_process_age_against_this_process():
    age = procstat.process_age_s(os.getpid())
    assert 0.0 < age < 24 * 3600


# ---- oracle ----------------------------------------------------------------


def test_oracle_lww_delete_and_noop_suppression():
    import pandas as pd

    base = pd.DataFrame(
        [("r", "a", "c0", "py", "x"), ("r", "b", "c0", "py", "y")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    o = ReplayOracle(base)
    ev = pd.DataFrame(
        [
            ("r", "a", "c2", "py", "new", "UPDATE", 2),
            ("r", "a", "c1", "py", "old", "UPDATE", 1),  # older: loses
            ("r", "b", "c3", "None", None, "DELETE", 3),
            ("r", "c", "c4", "", "z", "ADD", 4),
            ("r", "b", "c5", "py", "y", "UPDATE", 0),  # beats the DELETE: commit c5 > c3
        ],
        columns=["repo", "path", "commit", "lang", "content", "op", "event_seq"],
    )
    assert o.apply_epoch(ev) == (5, 3)
    # b's winner re-writes identical content: suppressed, keeps commit c0
    assert o.state == {
        ("r", "a"): ("c2", "py", "new"),
        ("r", "b"): ("c0", "py", "y"),
        ("r", "c"): ("c4", None, "z"),
    }
    assert mismatches(o.state, dict(o.state)) == []
    assert len(mismatches(o.state, {("r", "a"): ("c2", "py", "new")})) == 2
    assert mismatches({("r", "a"): ("c1", "py", "x")}, {("r", "a"): ("c9", "py", "x")}, commit=False) == []


def test_oracle_diff_counts_treat_falsy_payloads_as_equal():
    old = {("r", "a"): ("c0", "py", "x"), ("r", "b"): ("c0", None, "y"), ("r", "d"): ("c0", "go", "z")}
    new = {
        ("r", "a"): ("c1", "py", "x2"),  # content changed
        ("r", "b"): ("c9", "", "y"),  # '' and NULL are the same canonical value
        ("r", "c"): ("c1", "md", "w"),  # added
    }
    assert diff_counts(new, old) == {"ADD": 1, "DELETE": 1, "UPDATE": 1}

