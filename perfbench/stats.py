"""Small statistics and event-log helpers shared by the workloads."""

from __future__ import annotations

import json
import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def p75(values: list[float]) -> float:
    """Upper quartile; a single sample is its own quartile."""
    if len(values) < 2:
        return float(values[0])
    return float(statistics.quantiles(values, n=4)[2])


def segment_freshness(
    placements: list[tuple[str, int]],
    batch_commit: dict[int, float],
    landing: dict[str, float],
) -> dict[str, float]:
    """Seconds from each segment's scheduled landing time to the commit of
    the micro-batch that holds its rows, given the distinct (segment,
    batch id) pairs found in the sink. A segment whose rows were split
    over several batches is fresh only when the last of them commits."""
    done: dict[str, float] = {}
    for seg, batch in placements:
        ts = batch_commit[batch]
        done[seg] = max(done.get(seg, ts), ts)
    return {seg: done[seg] - landing[seg] for seg in done}


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def task_summary(path: str, t0: float, t1: float) -> dict:
    """Aggregate the tasks that ran inside wall-clock window [t0, t1]
    (seconds since the epoch) from a Spark event log: executor run time,
    JVM GC time and shuffle bytes written, plus the task-time skew of
    the stage that took the most task time (max over median task time)."""
    run_ms = gc_ms = shuffle_b = 0
    per_stage: dict[int, list[int]] = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if info["Launch Time"] < t0 * 1000 or info["Finish Time"] > t1 * 1000:
                continue
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            per_stage.setdefault(ev["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
    skew = 1.0
    if per_stage:
        top = max(per_stage.values(), key=sum)
        if median(top) > 0:
            skew = max(top) / median(top)
    return {
        "tasks": sum(len(v) for v in per_stage.values()),
        "executor_run_s": run_ms / 1000.0,
        "jvm_gc_s": gc_ms / 1000.0,
        "shuffle_write_mb": shuffle_b / 1e6,
        "task_skew": skew,
    }
