"""Host-speed calibration.

The benchmark runs on a few vCPUs of a shared host, which slows it in
two ways. The hypervisor takes the vCPUs away for other guests; that
shows as steal time and is taken out of every wall time the benchmark
reports (``procs.unstolen``). And the cores it does get run slower or
faster by tens of percent over minutes, as other guests load the caches
and cores they share, in wall time and in CPU time alike; the same code
gives times that differ that much from run to run.

A calibration round runs one fixed piece of pure-standard-library work
(regex tag stripping, word counting, zlib) in one process per Spark core
at once and times it: wall time less steal, and CPU time. Rounds run
next to the measured steps of a run; a run's time metrics are scaled by
``REF / median(rounds)``, i.e. reported at the speed the host has when a
round takes ``REF_WALL_S`` / ``REF_CPU_S``. The work shares nothing with
the package under test, so a change to the program moves the scaled
figures exactly as much as the raw ones.
"""

from __future__ import annotations

import multiprocessing as mp
import random
import re
import statistics
import time
import zlib

from perfbench.procs import steal_s, unstolen

# One round's time per process on an idle 4-vCPU Intel Xeon VM (3
# processes at once): the speed the scaled metrics are reported at.
REF_WALL_S = 0.140
REF_CPU_S = 0.140

_REPS = 50  # repetitions of the unit of work per round


def _text() -> str:
    rnd = random.Random(7)
    words = ["".join(rnd.choice("etaoinshrdlucmfw") for _ in range(rnd.randint(2, 9)))
             for _ in range(400)]
    parts = []
    for i in range(600):
        parts.append(f'<p class="c{i % 7}">' + " ".join(rnd.choices(words, k=12)) + "</p>")
    return "<html><body>" + "\n".join(parts) + "</body></html>"


_TEXT = _text()
_TAG = re.compile(r"<[^>]+>")


def _round(reps: int) -> tuple[float, float]:
    """(wall, CPU) seconds of ``reps`` units of work in this process."""
    w, c = time.perf_counter(), time.process_time()
    for _ in range(reps):
        body = _TAG.sub(" ", _TEXT)
        counts: dict[str, int] = {}
        for word in body.split():
            counts[word] = counts.get(word, 0) + 1
        zlib.decompress(zlib.compress(body.encode(), 1))
    return time.perf_counter() - w, time.process_time() - c


class Calibrator:
    """A pool of ``procs`` forked processes that run calibration rounds.

    Make it before the JVM starts (it forks); ``close`` waits for every
    process. ``cpu_spent`` is the CPU the rounds used, so a timed region
    that holds rounds can take it out of its own CPU account."""

    def __init__(self, procs: int) -> None:
        self.procs = procs
        self.pool = mp.get_context("fork").Pool(procs)
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.cpu_spent = 0.0

    def sample(self, rounds: int = 1) -> None:
        for _ in range(rounds):
            s = steal_s()
            r = self.pool.map(_round, [_REPS] * self.procs)
            stolen = steal_s() - s
            self.wall.append(unstolen(statistics.fmean(w for w, _ in r), stolen))
            self.cpu.append(statistics.fmean(c for _, c in r))
            self.cpu_spent += sum(c for _, c in r)

    def wall_scale(self) -> float:
        """Multiplier that brings a wall time to the reference speed."""
        return REF_WALL_S / statistics.median(self.wall)

    def cpu_scale(self) -> float:
        """Multiplier that brings a CPU time to the reference speed."""
        return REF_CPU_S / statistics.median(self.cpu)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()
