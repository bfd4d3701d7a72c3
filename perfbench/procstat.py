"""Readers for ``/proc``: process-tree CPU time, peak RSS, host steal and load.

Every function takes the proc root as an argument so the parsers can be
tested against a fake tree. The process tree of a benchmark run is the
driver Python process, the Spark JVM it launches and the Python workers the
JVM forks; summing over it is what ``cpu_s_per_op`` and ``peak_rss_mb``
report.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(text: str) -> list[str]:
    # comm (field 2) may contain spaces and parentheses: split after the
    # LAST ')' so the remaining fields are positional again
    return text[text.rindex(")") + 2 :].split()


def parse_stat(text: str) -> tuple[int, int, int]:
    """``/proc/<pid>/stat`` → (ppid, cpu ticks, start ticks since boot).

    CPU ticks are utime + stime + cutime + cstime: a worker that exits and
    is reaped inside the tree moves its time into its parent's cutime, so
    the tree total stays monotone."""
    f = _stat_fields(text)
    # f[0] is field 3 (state); ppid is field 4, utime..cstime fields 14-17,
    # starttime field 22
    ppid = int(f[1])
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ppid, ticks, int(f[19])


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited between listing and reading


def _all_stats(proc: str) -> dict[int, tuple[int, int, int]]:
    out = {}
    for name in os.listdir(proc):
        if name.isdigit():
            text = _read(os.path.join(proc, name, "stat"))
            if text:
                out[int(name)] = parse_stat(text)
    return out


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant."""
    return sorted(_tree(root, _all_stats(proc)))


def _tree(root: int, stats: dict[int, tuple[int, int, int]]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
    return seen


#: thread names (``comm``, cut to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class TreeCpu:
    """Process-tree CPU time, split into JIT compilation and the rest.

    The JVM compiles hot code on background threads for minutes after it
    starts; that work is warm-up spread over a process's life, not a cost of
    the op it happens to overlap. HotSpot starts and stops compiler threads
    on demand, so each one's last-seen time is remembered after it exits."""

    def __init__(self, root: int, proc: str = "/proc"):
        self.root, self.proc = root, proc
        self.jit_ticks: dict[tuple[int, str], int] = {}

    def sample(self) -> tuple[float, float]:
        """(tree CPU seconds, of which JIT compiler threads) so far."""
        stats = _all_stats(self.proc)
        pids = _tree(self.root, stats)
        for pid in pids:
            tasks = os.path.join(self.proc, str(pid), "task")
            try:
                tids = os.listdir(tasks)
            except FileNotFoundError:
                continue
            for tid in tids:
                text = _read(os.path.join(tasks, tid, "stat"))
                if text and text[text.index("(") + 1 :].startswith(JIT_THREADS):
                    f = _stat_fields(text)
                    self.jit_ticks[(pid, tid)] = int(f[11]) + int(f[12])
        total = sum(stats[p][1] for p in pids)
        return total / CLK_TCK, sum(self.jit_ticks.values()) / CLK_TCK


def vm_hwm_kb(status_text: str) -> int:
    """Peak resident set (``VmHWM``) from ``/proc/<pid>/status``, in kB."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0  # kernel threads and zombies carry no memory lines


class PeakRss:
    """Tracks each tree process's ``VmHWM``; the sum over processes is the
    tree's peak. A process's own peak never falls, so sampling at op
    boundaries loses only processes that start and exit between samples."""

    def __init__(self, root: int, proc: str = "/proc"):
        self.root, self.proc = root, proc
        self.by_pid: dict[int, int] = {}

    def sample(self) -> None:
        for pid in tree_pids(self.root, self.proc):
            text = _read(os.path.join(self.proc, str(pid), "status"))
            if text:
                self.by_pid[pid] = max(self.by_pid.get(pid, 0), vm_hwm_kb(text))

    def mb(self) -> float:
        return sum(self.by_pid.values()) / 1024.0


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(total ticks, steal ticks) over all CPUs from ``/proc/stat``."""
    text = _read(os.path.join(proc, "stat")) or ""
    for line in text.splitlines():
        if line.startswith("cpu "):
            vals = [int(v) for v in line.split()[1:]]
            # user nice system idle iowait irq softirq steal guest guest_nice;
            # guest time is already inside user/nice
            return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg1(proc: str = "/proc") -> float:
    text = _read(os.path.join(proc, "loadavg")) or "0"
    return float(text.split()[0])


def process_age_s(pid: int, proc: str = "/proc") -> float:
    """Seconds since ``pid`` started, from ``/proc/uptime`` (10 ms
    resolution; ``btime`` in ``/proc/stat`` is whole seconds only)."""
    uptime = float((_read(os.path.join(proc, "uptime")) or "0").split()[0])
    return uptime - parse_stat(_read(os.path.join(proc, str(pid), "stat")))[2] / CLK_TCK
