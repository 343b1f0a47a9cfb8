"""Process-tree accounting for the benchmark: CPU seconds summed over
the driver, the JVM and every Python worker (exited children included,
through their parents' reaped-children counters), and the high-water
resident set of the Python workers alone."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command field may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the live tree plus every child its members
    have reaped (utime, stime, cutime, cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted after the ')'
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def unstolen(wall_s: float, stolen_s: float) -> float:
    """``wall_s`` less the time the hypervisor held this machine's CPUs
    for other guests during it. Steal accrues only on a CPU that had work
    to run, and it is summed over all of the machine's CPUs, so a program
    that keeps them busy waited ``stolen_s / cpus`` longer."""
    return wall_s - stolen_s / os.cpu_count()


class StealClock:
    """(time, steal) samples, to tell the steal inside any interval
    between the first and the last sample."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []

    def tick(self, now: float) -> None:
        self.samples.append((now, steal_s()))

    def between(self, a: float, b: float) -> float:
        return self._at(b) - self._at(a)

    def _at(self, t: float) -> float:
        """Steal at time ``t``, linear between the samples around it."""
        s = self.samples
        if t <= s[0][0]:
            return s[0][1]
        for (t0, v0), (t1, v1) in zip(s, s[1:]):
            if t <= t1:
                return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1
        return s[-1][1]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_worker_pids(root: int | None = None) -> list[int]:
    """PySpark's worker daemon and the workers it forked."""
    return [p for p in tree_pids(root) if "pyspark.daemon" in _cmdline(p)]


def jvm_pids(root: int | None = None) -> list[int]:
    return [
        p for p in tree_pids(root)
        if _cmdline(p).split(" ", 1)[0].endswith("java")
    ]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    return sum(_vm_hwm_mb(p) for p in pids)
