"""CDC engine benchmark: one workload per invocation, one Spark JVM per run.

    python3 perfbench/run.py --workload {backfill,trickle} \\
        --seed N --seconds S --trace {0,1}

Runs from the repository root. Set-up (session, inputs, lakes, warm-up
cycles) is followed by closed-loop cycles for ``--seconds`` seconds, then
by the correctness gates. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. Earlier lines print every metric by name with its
unit, plus the diagnostics (host steal and load per run). Exits 1 when a
correctness gate fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procstat, stats  # noqa: E402  (needs ROOT on sys.path)

WORKLOAD_NAMES = ("backfill", "trickle")
DRIVER_MEMORY = "1g"
#: a run whose warm-up drift or timed-window trend exceeds this is flagged
DRIFT_FLAG = 1.15
#: iterations of the host-speed probe: ~15 ms of interpreter work
PROBE_N = 200_000
#: probes taken before the Spark session starts and again after it stopped
PROBE_REPS = 9


def host_speed_probe() -> float:
    """CPU milliseconds this process spends on a fixed piece of interpreter
    work. A VM's CPU speed moves with its neighbours' load, by 1.5x and more
    between runs minutes apart with no steal recorded; this probe shows that
    beside the metrics. Steal is not in it: CPU time excludes stolen time."""
    t0 = time.process_time()
    acc = 0
    for i in range(PROBE_N):
        acc += i * i % 7
    return (time.process_time() - t0) * 1000.0


def probe_host() -> float:
    """Median of ``PROBE_REPS`` probes. Taken while no process of the run
    is alive besides this one, so the engine under test cannot move it."""
    return stats.median([host_speed_probe() for _ in range(PROBE_REPS)])


class Meter:
    """Times closed-loop ops: wall clock, process-tree CPU, host steal."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.tracing = tracer is not None
        self.cpu = procstat.TreeCpu(os.getpid())
        self.cycle = 0
        self.ops: list[dict] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def op(self, kind: str):
        (cpu0, jit0), host0 = self.cpu.sample(), procstat.host_cpu_ticks()
        with self.span(f"op.{kind}"):
            t0 = time.perf_counter()
            yield
            wall = time.perf_counter() - t0
        (cpu1, jit1), host1 = self.cpu.sample(), procstat.host_cpu_ticks()
        self.ops.append(
            {
                "cycle": self.cycle,
                "kind": kind,
                "wall": wall,
                "cpu": (cpu1 - jit1) - (cpu0 - jit0),
                "jit": jit1 - jit0,
                "steal": procstat.steal_share(host0, host1),
                "load1": procstat.loadavg1(),
            }
        )

    def walls(self, kind: str, cycles: set[int]) -> list[float]:
        return [o["wall"] for o in self.ops if o["kind"] == kind and o["cycle"] in cycles]

    def per_cycle(self, field: str, cycles: set[int]) -> list[float]:
        return [sum(o[field] for o in self.ops if o["cycle"] == c) for c in sorted(cycles)]


def start_session(workload: str, work: str, event_log: str | None):
    from bcdc2bcdc_spark import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(f"perfbench-{workload}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, close the JVM's stdin (its gateway exits on EOF) and wait
    until no process started by this run is left."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    me = os.getpid()
    while True:
        left = [p for p in procstat.tree_pids(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout_s
        time.sleep(0.1)


def end_to_end(meter: Meter, timed: set[int], setup_s: float, peak_mb: float) -> dict[str, float]:
    return {
        "write_p50_s": stats.median(meter.walls("write", timed)),
        "read_p50_s": stats.median(meter.walls("read", timed)),
        "sync_p50_s": stats.median(meter.walls("sync", timed)),
        "cpu_s_per_op": stats.median(meter.per_cycle("cpu", timed)),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
    }


def named_metrics(name: str, meter: Meter, timed: set[int], w) -> list[tuple[str, object, str]]:
    """The workload's metrics under the names users know them by."""
    out = []

    def timing(label: str, kind: str) -> None:
        walls = meter.walls(kind, timed)
        out.append((f"{label}_p50_s", stats.median(walls), "s"))
        t = stats.tail(walls)
        out.append(
            (f"{label}_tail_s", f"p{t[0]:.0f}={t[1]:.4f}" if t else f"n/a (n={len(walls)} <= {stats.TAIL_BEYOND})", "s")
        )

    if name == "backfill":
        rates = [w.events[o["cycle"]] / o["wall"] for o in meter.ops if o["kind"] == "write" and o["cycle"] in timed]
        out.append(("events_per_s", stats.median(rates), "1/s"))
        timing("epoch", "write")
        timing("replay_check", "read")
    else:
        timing("epoch", "write")
        timing("lookup", "read")
    timing("replica_sync", "sync")
    out.append(("cycle_p50_s", stats.median(meter.per_cycle("wall", timed)), "s"))
    return out


def warmup_drift(meter: Meter, warmup: int, timed: set[int]) -> tuple[float, float]:
    """(wall of the last warm-up cycle ÷ median timed cycle wall, median
    wall of the first half of the timed cycles ÷ that of the second half).
    Both are near 1 when warm-up was long enough; the second one catches
    drift that is still going on inside the window."""
    warm = meter.per_cycle("wall", {warmup - 1})
    walls = meter.per_cycle("wall", timed)
    half = len(walls) // 2
    drift = stats.median(warm) / stats.median(walls) if warm and walls else 0.0
    trend = stats.median(walls[:half]) / stats.median(walls[-half:]) if half else 0.0
    return drift, trend


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the engine (the Arrow digest UDF lives
    # in it) from whatever directory the JVM forks them in
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        try:
            from perfbench.workloads import WORKLOADS
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        return _run(args, WORKLOADS[args.workload], work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it


def _run(args, workload_cls, work: str, out_dir: str) -> int:
    pid = os.getpid()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    probe_ms = [probe_host()]
    t0 = time.perf_counter()
    spark = start_session(args.workload, work, event_log)
    session_start_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark.sparkContext)
    meter = Meter(tracer)
    peak = procstat.PeakRss(pid)
    errors: dict[str, list[str]] = {}
    failed = attempted = 0
    extras: dict = {}
    groups: dict[str, list[int]] = {}

    def run_cycle(i: int) -> bool:
        """One cycle with its gates; False when it raised."""
        nonlocal attempted, failed
        meter.cycle = i
        if tracer:
            tracer.op = i
        n_before = len(meter.ops)
        try:
            bad = w.cycle(i, meter)
        except Exception:
            attempted += len(meter.ops) - n_before + 1
            failed += 1
            errors[f"cycle {i} raised"] = [traceback.format_exc()]
            return False
        attempted += len(meter.ops) - n_before
        if bad:
            failed += 1
            errors[f"cycle {i} lookup/replay"] = bad
        peak.sample()
        return True

    try:
        w = workload_cls(spark, os.path.join(work, "data"), args.seed)
        t0 = time.perf_counter()
        w.setup(tracer)
        inputs_s = time.perf_counter() - t0
        ok = all(run_cycle(i) for i in range(w.warmup))
        i = w.warmup
        setup_s = procstat.process_age_s(pid)
        host0 = procstat.host_cpu_ticks()
        loop0 = time.perf_counter()
        while ok and time.perf_counter() - loop0 < args.seconds and w.has_input(i):
            if not run_cycle(i):
                break
            i += 1
        loop_s = time.perf_counter() - loop0
        run_steal = procstat.steal_share(host0, procstat.host_cpu_ticks())
        timed = set(range(w.warmup, i))
        if tracer and timed:
            extras = w.traced_extras(tracer, w.warmup)
        try:
            gates = w.final_checks()
        except Exception:
            gates = {"final checks raised": [traceback.format_exc()]}
        for gate, bad in gates.items():
            attempted += 1
            if bad:
                failed += 1
                errors[gate] = bad[:5] + ([f"... {len(bad)} mismatches"] if len(bad) > 5 else [])
        peak.sample()
        if tracer:
            st = spark.sparkContext.statusTracker()
            for s in tracer.spans:
                groups[s.group] = list(st.getJobIdsForGroup(s.group))
            tracer.restore()
    finally:
        stop_session(spark)
    probe_ms.append(probe_host())

    if not timed:
        failed, attempted = failed + 1, attempted + 1
        errors["no timed cycle completed"] = []
    trace = None
    if tracer:
        from perfbench.trace import Trace, parse_event_log

        logs = [os.path.join(event_log, f) for f in os.listdir(event_log)]
        with open(logs[0]) as fh:
            jobs = parse_event_log(fh)
        trace = Trace(tracer.spans, jobs)
        # time-based attribution must agree with the job groups the spans set
        mismatched = trace.group_mismatches(groups)
        attempted += 1
        if mismatched:
            failed += 1
            errors["job attribution vs statusTracker job groups"] = [f"{mismatched} jobs disagree"]
    drift, trend = warmup_drift(meter, w.warmup, timed)
    e2e = end_to_end(meter, timed, setup_s, peak.mb()) if timed else {}

    tag = f"perfbench {args.workload} seed={args.seed} trace={args.trace}"
    for gate, bad in errors.items():
        print(f"{tag}: FAILED {gate}", *("    " + b for b in bad), sep="\n")
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        print(f"{tag}: {k} = {v:.4f} {units[k]}")
    if timed:
        for k, v, unit in named_metrics(args.workload, meter, timed, w):
            print(f"{tag}: {k} = {v if isinstance(v, str) else f'{v:.4f}'} {unit}")
    steals = [o["steal"] for o in meter.ops if o["cycle"] in timed]
    print(
        f"{tag}: op_error_ratio = {failed / max(attempted, 1):.4f} 1 ({failed}/{attempted}); "
        f"timed cycles = {len(timed)} in {loop_s:.1f} s; session.start_s = {session_start_s:.3f} s; "
        f"inputs and lakes {inputs_s:.3f} s; warm-up {w.warmup} cycles; "
        f"session.warmup_drift = {drift:.3f}; timed-window trend = {trend:.3f}"
    )
    if max(drift, trend) > DRIFT_FLAG:
        print(
            f"{tag}: WARNING: cycle wall still falling (drift {drift:.3f}, trend {trend:.3f} > "
            f"{DRIFT_FLAG}): warm-up too short for this host phase, or steal moved the window"
        )
    print(
        f"{tag}: host steal share = {run_steal:.4f} over the run, per-op max "
        f"{max(steals, default=0.0):.4f}; loadavg1 = {procstat.loadavg1():.2f}; "
        f"host.speed_probe_ms = {stats.median(probe_ms):.3f} (before {probe_ms[0]:.3f}, after {probe_ms[1]:.3f})"
    )

    metrics = dict(e2e)
    if trace:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(trace, timed, w, extras)
        metrics.update(
            {
                "session.start_s": session_start_s,
                "session.warmup_drift": drift,
                "session.timed_trend": trend,
                "jvm.jit_cpu_s_per_op": stats.median(meter.per_cycle("jit", timed)),
                "trace.write_p50_s": e2e.get("write_p50_s", 0.0),
                "trace.read_p50_s": e2e.get("read_p50_s", 0.0),
                "trace.sync_p50_s": e2e.get("sync_p50_s", 0.0),
                "trace.cpu_s_per_op": e2e.get("cpu_s_per_op", 0.0),
                "trace.group_mismatch_jobs": float(mismatched),
                "host.steal_share": run_steal,
                "host.speed_probe_ms": stats.median(probe_ms),
                "host.loadavg1": procstat.loadavg1(),
            }
        )
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            spans = [
                {**vars(s), "self_s": trace.self_time(s.id), "driver_s": trace.driver_time(s.id)}
                for s in tracer.spans
            ]
            jobs_out = [{**vars(j), "span": trace.job_span[j.id]} for j in jobs.values()]
            json.dump({"spans": spans, "jobs": jobs_out, "ops": meter.ops, "metrics": metrics}, fh)
        for k, v in metrics.items():
            print(f"{tag}: {k} = {v:.6g} {units[k]}")

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if args.trace else "end_to_end"]
        }
        if timed
        else {},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
