"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import corpus, procs, run, stats  # noqa: E402
from perfbench.workloads import Measured  # noqa: E402


@pytest.fixture
def small_pool(monkeypatch):
    monkeypatch.setattr(corpus, "POOL_HTML", 60)
    monkeypatch.setattr(corpus, "POOL_PDF", 10)


def _segment_bytes(cache: str, seed: int) -> dict[str, bytes]:
    src = corpus.warc_segments(cache, seed, 3, 10)
    out = {}
    for name in sorted(os.listdir(f"{src}/segments")):
        out[name] = pq.read_table(f"{src}/segments/{name}").column("blob")[0].as_py()
    out["oracle"] = pq.read_table(f"{src}/oracle.parquet").to_pylist()
    return out


def test_generator_is_deterministic_per_seed(tmp_path, small_pool):
    a = _segment_bytes(str(tmp_path / "a"), seed=5)
    b = _segment_bytes(str(tmp_path / "b"), seed=5)
    c = _segment_bytes(str(tmp_path / "c"), seed=6)
    assert a == b
    assert a["oracle"] != c["oracle"]
    pa_ = pq.read_table(corpus.pages_corpus(str(tmp_path / "a"), 5, 20)).to_pylist()
    pb = pq.read_table(corpus.pages_corpus(str(tmp_path / "b"), 5, 20)).to_pylist()
    assert pa_ == pb and len(pa_) == 20


def test_segments_are_build_warc_blobs_with_oracle(tmp_path, small_pool):
    from narowi_ocr_spark.sources.warc import build_warc, parse_warc

    seg = _segment_bytes(str(tmp_path), seed=3)
    oracle = seg.pop("oracle")
    assert len(oracle) == 30
    for name, blob in seg.items():
        recs = parse_warc(blob)
        want = [r["url"] for r in oracle if r["segment"] == name[: -len(".parquet")]]
        assert [r["url"] for r in recs] == want
        # one PDF every 10 records, the rest HTML
        assert sum(r["html"].startswith(b"%PDF") for r in recs) == 1
        rebuilt = build_warc(
            [(r["url"], r["warc_date"], r["html"]) for r in recs], gzip_members=True
        )
        assert rebuilt == blob


def test_sample_ids_seeded():
    assert corpus.sample_ids(1, "x", 100, 10) == corpus.sample_ids(1, "x", 100, 10)
    assert corpus.sample_ids(1, "x", 100, 10) != corpus.sample_ids(2, "x", 100, 10)
    assert len(set(corpus.sample_ids(1, "x", 100, 100))) == 100


def test_segment_freshness_maps_segments_to_their_batch_commit():
    landing = {"s0": 10.0, "s1": 10.5, "s2": 11.0}
    commit = {0: 12.0, 1: 14.0}
    # s2's rows were split over both batches: fresh at the later commit
    fresh = stats.segment_freshness(
        [("s0", 0), ("s1", 0), ("s2", 0), ("s2", 1)], commit, landing
    )
    assert fresh == {"s0": 2.0, "s1": 1.5, "s2": 3.0}


def test_quartiles():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.p75([5.0]) == 5.0
    assert stats.p75([1.0, 2.0, 3.0, 4.0, 5.0]) == 4.5


def test_task_summary_reads_window_from_event_log(tmp_path):
    def task(stage, launch, finish, run_ms, gc_ms, shuffle):
        return json.dumps({
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        })

    log = tmp_path / "app-1"
    log.write_text("\n".join([
        json.dumps({"Event": "SparkListenerJobStart"}),
        task(0, 1000, 2000, 900, 10, 0),
        task(0, 1000, 1500, 400, 0, 0),
        task(0, 1000, 1500, 450, 0, 0),
        task(1, 1500, 1600, 90, 5, 2_000_000),
        task(2, 9000, 9500, 500, 0, 0),  # outside the window
    ]) + "\n")
    assert stats.event_log_file(str(tmp_path), "app-1") == str(log)
    s = stats.task_summary(str(log), 0.5, 3.0)
    assert s["tasks"] == 4
    assert s["executor_run_s"] == pytest.approx(1.84)
    assert s["jvm_gc_s"] == pytest.approx(0.015)
    assert s["shuffle_write_mb"] == pytest.approx(2.0)
    assert s["task_skew"] == pytest.approx(2.0)  # stage 0: 1000 / 500


def test_process_accounting_sees_this_process():
    assert os.getpid() in procs.tree_pids()
    assert procs.tree_cpu_s() > 0
    assert procs.peak_rss_mb([os.getpid()]) > 0
    assert procs.steal_s() >= 0


def test_steal_is_taken_out_of_wall_time(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    assert procs.unstolen(10.0, 2.0) == 9.5
    clock = procs.StealClock()
    clock.samples = [(100.0, 5.0), (101.0, 5.0), (102.0, 9.0)]
    assert clock.between(100.0, 101.0) == 0.0
    assert clock.between(100.5, 101.5) == pytest.approx(2.0)
    assert clock.between(99.0, 103.0) == 4.0  # clamped to the samples


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in run.declared()[kind]}


class _FixedCalib:
    """A host that runs at ``1 / scale`` times the reference speed."""

    cpu_spent = 0.0

    def __init__(self, scale: float = 1.0) -> None:
        self.scale = scale

    def wall_scale(self) -> float:
        return self.scale

    def cpu_scale(self) -> float:
        return self.scale


def test_end_to_end_metrics_match_benchmark_json():
    m = Measured(_FixedCalib())
    m.docs, m.cpu_s, m.docs_per_s, m.durations = 10, 1.0, 5.0, [1.0, 2.0]
    metrics = m.end_to_end()
    metrics["setup_s"] = (1.0, "s")
    assert {k: u for k, (_, u) in metrics.items()} == _declared("end_to_end")
    out = run.result(metrics, "end_to_end", attempted=10, failed=0)
    assert out["correct"] and set(out) == {"correct", "attempted", "failed", "metrics"}
    with pytest.raises(ValueError):
        run.result({**metrics, "extra": (1.0, "s")}, "end_to_end", 10, 0)
    with pytest.raises(ValueError):
        run.result({**metrics, "setup_s": (1.0, "ms")}, "end_to_end", 10, 0)


def test_time_metrics_are_scaled_to_reference_speed():
    m = Measured(_FixedCalib(0.5))
    m.docs, m.cpu_s, m.docs_per_s, m.durations = 1000, 4.0, 100.0, [2.0, 2.0]
    got = {k: v for k, (v, _) in m.end_to_end().items()}
    assert got["docs_per_s"] == 200.0
    assert got["cpu_s_per_kdoc"] == 2.0
    assert got["freshness_p50_s"] == got["freshness_p75_s"] == 1.0
    # an open loop's rate is its schedule's, whatever the host's speed
    m.open_loop = True
    assert m.end_to_end()["docs_per_s"][0] == 100.0


def test_calibration_rounds_leave_the_region_cpu():
    from perfbench.calib import Calibrator

    cal = Calibrator(1)
    try:
        m = Measured(cal)
        m.start()
        cal.sample(2)
        m.stop()
    finally:
        cal.close()
    assert len(cal.wall) == len(cal.cpu) == 2 and cal.cpu_spent > 0
    assert abs(m.cpu_s) < 0.5 * cal.cpu_spent
    assert cal.wall_scale() > 0 and cal.cpu_scale() > 0


def test_per_layer_metrics_match_benchmark_json():
    want = _declared("per_layer")
    tasks = {"shuffle_write_mb": 1.0, "jvm_gc_s": 0.5, "task_skew": 1.2}
    for name, (_, unit) in run.engine_metrics(tasks, 100, 900.0).items():
        assert want[name] == unit
    # every declared layer metric is produced somewhere in the benchmark
    # (run.result() checks the units of a real traced run)
    here = os.path.dirname(os.path.abspath(__file__))
    src = "".join(
        open(os.path.join(here, f)).read()
        for f in ("run.py", "workloads.py", "layers.py")
    )
    for name in want:
        assert f'"{name}"' in src, name


def test_benchmark_json_workloads_exist():
    from perfbench.workloads import WORKLOADS

    for w in run.declared()["workloads"]:
        assert w["name"] in WORKLOADS


def test_default_sizes_draw_distinct_pool_pages():
    from perfbench.workloads import ExtractHtml, WarcStream

    w = WarcStream("", "", 0)
    n_rec = w.n_seg * w.records
    assert n_rec // 10 <= corpus.POOL_PDF
    assert n_rec - n_rec // 10 <= corpus.POOL_HTML
    assert ExtractHtml("", "", 0).n <= corpus.POOL_HTML
