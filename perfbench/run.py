"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed
(cached under ``.bench_work/cache``), then starts a fresh Python process
that imports the package, starts a Spark session at ``local[nproc-1]``
and runs one warm-up pass; the time from its launch until it is ready is
``setup_s``. That process measures the workload for ``--seconds``
seconds and checks every output against its oracle; this one prints, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Wall times leave out the time the hypervisor took the machine's CPUs
for other guests (steal). Time metrics (set-up, closed-loop throughput,
CPU per doc, freshness) are reported at a reference host speed: each is
scaled by the median of the calibration rounds (``perfbench/calib.py``)
made in the same run, just before, inside (between passes or drain
calls) and just after its timed region. The raw figures go to the run
log on standard error.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` is a separate run with the Spark event log on that reports
every per-layer metric instead: single-process timings of each layer,
the workload's own engine counters and layer metrics, and miniature runs
of the other two workloads for the layer metrics only they produce.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a run that is not done by then exits with an error
READY = "PERFBENCH_READY"  # the measuring process's set-up is done
RESULT = "PERFBENCH_RESULT "  # prefixes its result line


def cores() -> int:
    return max(1, len(os.sched_getaffinity(0)) - 1)


def spark_conf(event_dir: str | None) -> dict[str, str]:
    """The program's own configuration (``get_spark``) plus console
    progress off and this checkout's scratch paths; nothing that changes
    how the engine plans or sizes work."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = f"file://{event_dir}"
    return conf


class Session:
    """One JVM per measuring process; ``stop`` ends the SparkContext
    (which flushes the event log), ``close`` ends the JVM and waits for
    every child."""

    def __init__(self, event_dir: str | None) -> None:
        self.event_dir = event_dir
        self.spark = None

    def start(self):
        from narowi_ocr_spark.config import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf=spark_conf(self.event_dir),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass  # killed below
            SparkContext._gateway = SparkContext._jvm = None
        _kill_children()


def _kill_children() -> None:
    from perfbench.procs import tree_pids

    me = os.getpid()
    for pid in tree_pids():
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while True:  # reap until no child is left
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error; standard output carries only the result."""
    sys.stderr.write(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}\n")


def _watchdog() -> None:
    sys.stderr.write(f"benchmark did not finish within {DEADLINE_S}s\n")
    _kill_children()
    os._exit(3)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result(metrics: dict[str, tuple[float, str]], kind: str,
           attempted: int, failed: int) -> dict:
    """The result object; refuses metrics that BENCHMARK.json does not
    declare under ``kind`` with the same unit, and any it omits."""
    want = {m["name"]: m["unit"] for m in declared()[kind]}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != want:
        raise ValueError(f"metrics differ from BENCHMARK.json {kind}: {got} != {want}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def engine_metrics(tasks: dict, docs: int, jvm_peak_mb: float) -> dict:
    return {
        "engine.shuffle_write_mb": (tasks["shuffle_write_mb"] * 1000.0 / docs, "MB/kdoc"),
        "engine.jvm_gc_s_per_kdoc": (tasks["jvm_gc_s"] * 1000.0 / docs, "s/kdoc"),
        "engine.task_skew": (tasks["task_skew"], "ratio"),
        "engine.jvm_peak_rss_mb": (jvm_peak_mb, "MB"),
    }


def traced(session: Session, calib, wl, m, args, run_dir: str) -> tuple[dict, int, int]:
    """Layer metrics for a traced run, and the oracle tallies of the
    miniature runs it makes of the other workloads."""
    from perfbench import layers
    from perfbench.procs import jvm_pids, peak_rss_mb
    from perfbench.stats import event_log_file, task_summary
    from perfbench.workloads import PROBE_SIZES, WORKLOADS

    spark = session.spark
    jvm_mb = peak_rss_mb(jvm_pids())
    runs = {wl.name: (wl, m)}
    metrics: dict = {}
    attempted = failed = 0
    for name, cls in WORKLOADS.items():
        if name in runs:
            continue
        probe = cls(WORK + "/cache", f"{run_dir}/probe-{name}", args.seed, **PROBE_SIZES[name])
        probe.prepare()
        probe.prepare_spark(spark)
        probe.warm(spark)
        pm = probe.measure(spark, 1.5, calib)
        a, f = probe.check(spark, pm)
        attempted, failed = attempted + a, failed + f
        runs[name] = (probe, pm)
        log(f"miniature {name}: {a} docs checked, {f} failed")
    for name, (w, wm) in runs.items():
        if name != "extract_html":
            metrics.update(w.layer_metrics(spark, wm))
    ext, em = runs["extract_html"]
    metrics.update(layers.probe(WORK + "/cache", args.seed, ext.pages))
    log("layer probes done")
    app = spark.sparkContext.applicationId
    session.stop()  # flushes the event log
    events = event_log_file(session.event_dir, app)
    # executor time of the extraction passes that the single-process
    # per-page cost does not explain: the JVM <-> Arrow <-> Python boundary
    page_s = metrics["plans.pipeline.page_us_per_doc"][0] * em.docs / 1e6
    ext_tasks = task_summary(events, em.t0, em.t1)
    metrics["plans.pipeline.boundary_share"] = (
        1.0 - page_s / ext_tasks["executor_run_s"], "ratio"
    )
    metrics.update(engine_metrics(task_summary(events, m.t0, m.t1), m.docs, jvm_mb))
    metrics["bench.traced_docs_per_s"] = m.end_to_end()["docs_per_s"]
    return metrics, attempted, failed


def measure(args) -> dict:
    """The measuring process: set up, say READY, measure, check; returns
    the result without ``setup_s``, which only the launcher can time,
    and the run's wall-time scale, which it is reported at."""
    from perfbench.calib import Calibrator
    from perfbench.workloads import WORKLOADS

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    events = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(events, exist_ok=True)
    session = Session(events if args.trace else None)
    calib = None
    try:
        wl = WORKLOADS[args.workload](os.path.join(WORK, "cache"), run_dir, args.seed)
        wl.prepare()
        calib = Calibrator(cores())  # forks, so before the JVM starts
        spark = session.start()
        wl.warm(spark)
        print(READY, flush=True)
        log("set-up done")
        calib.sample(3)
        wl.prepare_spark(spark)
        m = wl.measure(spark, args.seconds, calib)
        calib.sample(5)
        log(f"measured {m.docs} docs; host steal {m.steal_s:.2f} CPU-s; "
            f"calibration rounds {' '.join(f'{w:.3f}' for w in calib.wall)} s, "
            f"scale wall {calib.wall_scale():.3f} CPU {calib.cpu_scale():.3f}")
        attempted, failed = wl.check(spark, m)
        log(f"checked {attempted} docs, {failed} failed")
        log("freshness samples less steal (s): " + " ".join(f"{d:.2f}" for d in m.durations))
        out = {"wall_scale": calib.wall_scale()}
        if args.trace:
            metrics, a, f = traced(session, calib, wl, m, args, run_dir)
            return {**out, "metrics": metrics, "attempted": attempted + a, "failed": failed + f}
        log("raw: cpu_s_per_kdoc %.4f, freshness p50 %.3f s, less steal %.3f s" % (
            m.cpu_s * 1000.0 / m.docs, median(m.raw_durations), median(m.durations)))
        return {**out, "metrics": m.end_to_end(), "attempted": attempted, "failed": failed}
    finally:
        if calib is not None:
            calib.close()
        session.close()
        log("session closed")
        shutil.rmtree(run_dir, ignore_errors=True)


def launch(args) -> dict:
    """Build the inputs, then run the measuring process and time its
    set-up: from its launch (interpreter start, imports, JVM and session
    start, Python-worker spawn, warm-up pass) until it says READY, less
    steal. It is reported at the reference host speed by the calibration
    rounds of the whole run: the host's speed drifts over minutes, not seconds, and
    rounds made during set-up would slow it down."""
    from perfbench.procs import steal_s, unstolen
    from perfbench.workloads import WORKLOADS

    WORKLOADS[args.workload](os.path.join(WORK, "cache"), WORK, args.seed).prepare()
    log("inputs ready")
    cmd = [sys.executable, os.path.abspath(__file__), "--measure",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    setup_s = out = None
    t, stolen = time.perf_counter(), steal_s()
    with subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True) as p:
        for line in p.stdout:
            if line.rstrip("\n") == READY:
                setup_s = unstolen(time.perf_counter() - t, steal_s() - stolen)
                log(f"set-up: {setup_s:.2f}s less steal")
            elif line.startswith(RESULT):
                out = json.loads(line[len(RESULT):])
            else:
                sys.stderr.write(line)
    if p.returncode != 0 or out is None or setup_s is None:
        raise RuntimeError(f"measuring process failed (exit code {p.returncode})")
    metrics = {k: tuple(v) for k, v in out["metrics"].items()}
    kind = "per_layer" if args.trace else "end_to_end"
    if not args.trace:
        metrics["setup_s"] = (setup_s * out["wall_scale"], "s")
    return result(metrics, kind, out["attempted"], out["failed"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--measure", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import narowi_ocr_spark  # noqa: F401  (fail fast outside a checkout)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    for d in ("tmp", "spark-local", "cache"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    dog = threading.Timer(DEADLINE_S, _watchdog)
    dog.daemon = True
    dog.start()
    try:
        if args.measure:
            line = RESULT + json.dumps(measure(args))
        else:
            line = json.dumps(launch(args))
    finally:
        dog.cancel()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
