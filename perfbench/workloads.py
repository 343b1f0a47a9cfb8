"""The three benchmark workloads.

Each workload prepares its inputs from the seed (cached, untimed), warms
a fresh session once (part of set-up), measures for a given number of
seconds, checks every output against its oracle and, for the traced
run, derives its layer metrics from what it measured.

- ``extract_html``: closed loop of extraction passes over a parquet
  pages corpus into a noop sink (extraction kernels and the Arrow
  boundary; no WARC parsing, streaming or shuffle).
- ``warc_stream``: open loop; per-record-gzip WARC segments land on a
  fixed schedule and the main loop drains them with
  ``run_warc_extraction_stream`` into a parquet sink (WARC parsing,
  sniffing, PDF text, streaming, real sink writes).
- ``release_recurate``: the full-gate corpus release resumed past a
  committed extraction checkpoint (gates, dedup, components, shards,
  WET; no extraction).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import corpus
from perfbench.calib import Calibrator
from perfbench.procs import (
    StealClock,
    peak_rss_mb,
    python_worker_pids,
    steal_s,
    tree_cpu_s,
    unstolen,
)
from perfbench.stats import median, p75, segment_freshness

WARM_PAGES = 300  # pages in each set-up's warm-up pass
MIN_PASSES = 3  # extraction passes per timed region, however short
CALIB_GAP_S = 0.5  # least time to the next landing for a calibration round
STEAL_TICK_S = 0.1  # how often the open loop samples the host's steal


class Measured:
    """What one timed region produced. Its time metrics are reported at
    the calibrated reference host speed (``perfbench.calib``); an open
    loop's ``docs_per_s`` is set by its schedule, not by the host, and is
    reported as measured."""

    def __init__(self, calib: Calibrator, open_loop: bool = False) -> None:
        self.calib = calib
        self.open_loop = open_loop
        self.t0 = self.t1 = 0.0
        self.cpu_s = 0.0
        self.steal_s = 0.0  # CPU-s the hypervisor took inside the region
        self.docs = 0  # docs completed inside the region
        self.durations: list[float] = []  # freshness samples less steal, s
        self.raw_durations: list[float] = []  # the same with steal, for the log
        self.docs_per_s = 0.0
        self.worker_rss_mb = 0.0
        self.extra: dict = {}

    def start(self) -> None:
        """Calibration rounds made inside the region are not its CPU."""
        self.cpu_s = self.calib.cpu_spent - tree_cpu_s()
        self.steal_s = -steal_s()
        self.t0 = time.time()

    def stop(self) -> None:
        self.t1 = time.time()
        self.cpu_s += tree_cpu_s() - self.calib.cpu_spent
        self.steal_s += steal_s()
        self.worker_rss_mb = peak_rss_mb(python_worker_pids())

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        w, c = self.calib.wall_scale(), self.calib.cpu_scale()
        return {
            "docs_per_s": (self.docs_per_s * (1.0 if self.open_loop else 1.0 / w), "1/s"),
            "cpu_s_per_kdoc": (self.cpu_s * c * 1000.0 / self.docs, "s/kdoc"),
            "worker_peak_rss_mb": (self.worker_rss_mb, "MB"),
            "freshness_p50_s": (median(self.durations) * w, "s"),
            "freshness_p75_s": (p75(self.durations) * w, "s"),
        }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_failures(joined) -> int:
    """Docs that are missing on either side of an oracle ``text`` /
    ``extracted_text`` full outer join on ``url``, differ from the
    oracle, or come back more than once — counted in one job."""
    r = joined.agg(
        F.count("*").alias("rows"),
        F.countDistinct("url").alias("urls"),
        F.sum(
            F.when(
                F.col("text").isNull()
                | F.col("extracted_text").isNull()
                | (F.col("text") != F.col("extracted_text")),
                1,
            ).otherwise(0)
        ).alias("bad"),
    ).first()
    return int(r["bad"] or 0) + r["rows"] - r["urls"]


def _warm_extract(spark: SparkSession, pages_path: str) -> None:
    from narowi_ocr_spark.plans.pipeline import extract_pages

    _noop(extract_pages(spark.read.parquet(pages_path).limit(WARM_PAGES)))


class ExtractHtml:
    name = "extract_html"

    def __init__(self, cache: str, run_dir: str, seed: int, pages: int = 12_000):
        self.cache, self.run_dir, self.seed, self.n = cache, run_dir, seed, pages

    def prepare(self) -> None:
        self.pages = corpus.pages_corpus(self.cache, self.seed, self.n)

    def prepare_spark(self, spark: SparkSession) -> None:
        pass

    def warm(self, spark: SparkSession) -> None:
        _warm_extract(spark, self.pages)

    def measure(self, spark: SparkSession, seconds: float, calib: Calibrator) -> Measured:
        """One untimed pass (the first full pass after set-up is still
        warming the JIT), then whole extraction passes until ``seconds``
        have passed (at least MIN_PASSES), each followed by a calibration
        round. Each pass's input is available when it starts, so its
        duration is its freshness: on this closed loop the freshness
        quartiles restate ``docs_per_s``."""
        from narowi_ocr_spark.plans.pipeline import extract_pages

        _noop(extract_pages(spark.read.parquet(self.pages)))
        m = Measured(calib)
        m.start()
        while m.t0 + seconds > time.time() or len(m.durations) < MIN_PASSES:
            t, s = time.perf_counter(), steal_s()
            _noop(extract_pages(spark.read.parquet(self.pages)))
            m.raw_durations.append(time.perf_counter() - t)
            m.durations.append(unstolen(m.raw_durations[-1], steal_s() - s))
            calib.sample()
        m.stop()
        m.docs = self.n * len(m.durations)
        m.docs_per_s = self.n / median(m.durations)
        return m

    def check(self, spark: SparkSession, m: Measured) -> tuple[int, int]:
        """(docs attempted, docs failed): one more pass compared against
        the oracle text; every page must come back exactly once."""
        from narowi_ocr_spark.plans.pipeline import extract_pages

        pages = spark.read.parquet(self.pages)
        out = extract_pages(pages).select("url", "extracted_text")
        j = pages.select("url", "text").join(out, "url", "full_outer")
        return self.n, _oracle_failures(j)


class WarcStream:
    """Segments of 2,000 records, the size a crawler lands them at: the
    cost of ``parse_warc`` per record grows with the segment, so smaller
    segments would hide it. Five land evenly over the timed region, one
    every 4.8 s at the benchmark's 24 s. A drain call of one segment takes
    2.4-2.8 s on 3 cores here, and up to 4 s while the host is slow, so
    each call still finds one segment instead of a growing backlog. The
    set-up's warm-up drains one more segment of the same size on a
    checkpoint of its own."""

    name = "warc_stream"

    def __init__(
        self, cache: str, run_dir: str, seed: int,
        segments: int = 5, records: int = 2000,
    ):
        self.cache, self.run_dir, self.seed = cache, run_dir, seed
        self.n_seg, self.records = segments, records

    def prepare(self) -> None:
        self.src = corpus.warc_segments(
            self.cache, self.seed, self.n_seg, self.records
        )
        self.warm_src = corpus.warc_segments(self.cache, self.seed, 1, self.records)
        self.segs = sorted(os.listdir(f"{self.src}/segments"))

    def prepare_spark(self, spark: SparkSession) -> None:
        pass

    def _dirs(self, tag: str) -> dict[str, str]:
        base = os.path.join(self.run_dir, tag)
        shutil.rmtree(base, ignore_errors=True)
        d = {k: os.path.join(base, k) for k in ("land", "stage", "out", "ckpt")}
        for k in ("land", "stage"):
            os.makedirs(d[k])
        d["manifest"] = os.path.join(base, "manifest.jsonl")
        return d

    def _drain(self, spark: SparkSession, d: dict[str, str]) -> list[int]:
        from narowi_ocr_spark.streaming.stream import run_warc_extraction_stream

        return run_warc_extraction_stream(
            spark, d["land"], d["out"], d["ckpt"], d["manifest"], timeout_s=120
        )

    def warm(self, spark: SparkSession) -> None:
        d = self._dirs("warm")
        shutil.copy(f"{self.warm_src}/segments/seg-00000.parquet", d["land"])
        self._drain(spark, d)

    @staticmethod
    def _manifest(path: str) -> list[dict]:
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f]

    def measure(self, spark: SparkSession, seconds: float, calib: Calibrator) -> Measured:
        """Open loop: one segment lands every ``seconds / segments``
        seconds on a lander thread, whatever the engine is doing; the
        main loop drains whenever landed segments are not yet processed,
        and after a drain call makes one calibration round if the next
        landing is far enough off that the round cannot delay it. (More
        rounds per gap would compete with the engine's own work between
        drain calls and slow the next drain.)"""
        d = self.dirs = self._dirs("run")
        interval = seconds / self.n_seg
        names = [s[: -len(".parquet")] for s in self.segs]
        m = Measured(calib, open_loop=True)
        m.start()
        schedule = {n: m.t0 + k * interval for k, n in enumerate(names)}
        landed_at: dict[str, float] = {}
        new, end = threading.Event(), threading.Event()
        clock = StealClock()

        def lander() -> None:
            """Lands each segment on schedule and samples the host's steal
            every STEAL_TICK_S until the region ends."""
            pending = list(zip(self.segs, names))
            while not end.is_set():
                now = time.time()
                clock.tick(now)
                if pending and now >= schedule[pending[0][1]]:
                    seg, name = pending.pop(0)
                    shutil.copy(f"{self.src}/segments/{seg}", d["stage"])
                    os.replace(f"{d['stage']}/{seg}", f"{d['land']}/{seg}")
                    landed_at[name] = time.time()
                    new.set()
                    continue
                due = schedule[pending[0][1]] - now if pending else STEAL_TICK_S
                end.wait(min(STEAL_TICK_S, due))

        th = threading.Thread(target=lander, name="lander")
        calls: list[float] = []
        th.start()
        try:
            done = 0
            while done < len(names):
                new.wait(timeout=0.05)
                new.clear()
                if len(landed_at) <= done:
                    continue
                t = time.perf_counter()
                new_batches = self._drain(spark, d)
                calls.append(time.perf_counter() - t)
                if not new_batches and len(landed_at) == len(names):
                    break  # rows went missing; check() counts them
                rows = sum(e["rows"] for e in self._manifest(d["manifest"]))
                done = rows // self.records
                due = [schedule[n] for n in names if n not in landed_at]
                if due and min(due) - time.time() > CALIB_GAP_S:
                    calib.sample()
        finally:
            end.set()
            th.join(timeout=60)
        m.stop()
        clock.tick(time.time())
        m.docs = self.n_seg * self.records
        batches = self._manifest(d["manifest"])
        commit = {e["batch_id"]: e["ts"] for e in batches}
        m.extra = {
            "schedule": schedule,
            "landed_at": landed_at,
            "commit": commit,
            "calls": calls,
            "batches": batches,
            "steal": clock,
        }
        m.docs_per_s = m.docs / (max(commit.values()) - m.t0)
        return m

    def check(self, spark: SparkSession, m: Measured) -> tuple[int, int]:
        """Every landed record appears exactly once with its oracle text;
        fills the freshness samples from the segment -> batch mapping,
        each less the steal between its landing time and its commit."""
        oracle = spark.read.parquet(f"{self.src}/oracle.parquet")
        out = spark.read.parquet(self.dirs["out"]).select(
            "url", "extracted_text", "batch_id"
        )
        j = oracle.join(out, "url", "full_outer")
        failed = _oracle_failures(j)
        pairs = j.where(F.col("segment").isNotNull() & F.col("batch_id").isNotNull())
        pairs = pairs.select("segment", "batch_id").distinct().collect()
        fresh = segment_freshness(
            [(r.segment, int(r.batch_id)) for r in pairs],
            m.extra["commit"],
            m.extra["schedule"],
        )
        sched, clock = m.extra["schedule"], m.extra["steal"]
        m.raw_durations = sorted(fresh.values())
        m.durations = sorted(
            unstolen(f, clock.between(sched[seg], sched[seg] + f))
            for seg, f in fresh.items()
        )
        return len(self.segs) * self.records, failed

    def layer_metrics(self, spark: SparkSession, m: Measured) -> dict:
        """Drain-call costs from the run plus one idle drain call."""
        t = time.perf_counter()
        self._drain(spark, self.dirs)
        idle = time.perf_counter() - t
        x = m.extra
        lag = [x["landed_at"][s] - x["schedule"][s] for s in x["landed_at"]]
        return {
            "streaming.stream.idle_call_s": (idle, "s"),
            "streaming.stream.batch_s": (median(x["calls"]), "s"),
            "streaming.stream.segments_per_batch": (
                len(self.segs) / len(x["batches"]), "count"
            ),
            "bench.lander_lag_p75_s": (p75(lag), "s"),
        }


class ReleaseRecurate:
    name = "release_recurate"

    def __init__(self, cache: str, run_dir: str, seed: int, base_pages: int = 600):
        self.cache, self.run_dir, self.seed, self.n_base = cache, run_dir, seed, base_pages

    def prepare(self) -> None:
        self.warm_pages = corpus.pages_corpus(self.cache, self.seed, WARM_PAGES)

    def prepare_spark(self, spark: SparkSession) -> None:
        """The defect corpus and its committed ``00_docs`` checkpoint,
        written as several files so the resumed stages read it in
        parallel at this small scale."""
        from run_release_job import build_docs

        self.pages, self.expected = corpus.release_corpus(
            spark, self.cache, self.seed, self.n_base
        )
        self.docs = os.path.join(os.path.dirname(self.pages), "00_docs")
        if not os.path.isdir(self.docs):
            tmp = f"{self.docs}.tmp{os.getpid()}"
            build_docs(spark.read.parquet(self.pages)).repartition(
                2 * spark.sparkContext.defaultParallelism
            ).write.mode("overwrite").parquet(tmp)
            os.replace(tmp, self.docs)

    def warm(self, spark: SparkSession) -> None:
        _warm_extract(spark, self.warm_pages)

    def measure(self, spark: SparkSession, seconds: float, calib: Calibrator) -> Measured:
        """Whole release runs, each in a fresh output directory seeded
        with the committed extraction checkpoint, until ``seconds`` have
        passed (at least one)."""
        from run_release_job import run_release

        m = Measured(calib)
        self.outs: list[str] = []
        self.manifests: list[dict] = []
        m.start()
        while m.t0 + seconds > time.time() or not m.durations:
            out = os.path.join(self.run_dir, f"release-{len(self.outs)}")
            shutil.rmtree(out, ignore_errors=True)
            shutil.copytree(self.docs, f"{out}/checkpoints/00_docs")
            t, s = time.perf_counter(), steal_s()
            self.manifests.append(run_release(spark, self.pages, out, full_gates=True))
            m.raw_durations.append(time.perf_counter() - t)
            m.durations.append(unstolen(m.raw_durations[-1], steal_s() - s))
            self.outs.append(out)
            calib.sample()
        m.stop()
        n = self.expected["pages"]
        m.docs = n * len(m.durations)
        m.docs_per_s = n / median(m.durations)
        return m

    def check(self, spark: SparkSession, m: Measured) -> tuple[int, int]:
        """Every run resumed past extraction, its stage survivor counts
        match the planted-defect arithmetic, and no released text keeps
        the planted e-mail address."""
        failed = 0
        for out, man in zip(self.outs, self.manifests):
            failed += sum(
                abs(man["stages"].get(k, 0) - v) for k, v in self.expected.items()
            )
            if "00_docs" not in man["resumed_stages"]:
                failed += self.expected["pages"]
            failed += (
                spark.read.parquet(f"{out}/shards")
                .where(F.col("text").contains(corpus.PII_EMAIL))
                .count()
            )
        return self.expected["pages"] * len(self.outs), failed

    def layer_metrics(self, spark: SparkSession, m: Measured) -> dict:
        """Per-stage seconds per 1,000 stage-input docs from the release
        manifest, and the near-dedup candidate counts at the production
        LSH geometry on the exact-dedup survivors."""
        from narowi_ocr_spark.operators.dedup import (
            PROD_NUM_PERM,
            PROD_ROWS_PER_BAND,
            jaccard_pairs,
            lsh_candidate_pairs,
        )

        i = m.durations.index(sorted(m.durations)[len(m.durations) // 2])
        man, out = self.manifests[i], self.outs[i]
        st, sec = man["stages"], man["stage_seconds"]

        def per_kdoc(stage: str, n_in: int) -> tuple[float, str]:
            return sec[stage] * 1000.0 / n_in, "s/kdoc"

        docs = spark.read.parquet(f"{out}/checkpoints/00_docs")
        uniq = docs.join(spark.read.parquet(f"{out}/checkpoints/02_exact_ids"), "doc_id")
        cand = lsh_candidate_pairs(
            uniq, num_perm=PROD_NUM_PERM, rows_per_band=PROD_ROWS_PER_BAND,
            kernel="xxhash64",
        ).localCheckpoint(eager=True)
        n_cand = cand.count()
        n_ver = jaccard_pairs(uniq, cand, threshold=0.8).count()
        return {
            "functions.textstats.clean_s_per_kdoc": per_kdoc("01_clean_ids", st["extracted"]),
            "operators.dedup.exact_s_per_kdoc": per_kdoc("02_exact_ids", st["clean"]),
            "operators.dedup.near_s_per_kdoc": per_kdoc("03_near_ids", st["exact_unique"]),
            "operators.shards.s_per_kdoc": per_kdoc("shards", st["near_unique"]),
            "sources.wet.s_per_kdoc": per_kdoc("wet", st["train"]),
            "operators.dedup.lsh_candidates": (n_cand, "count"),
            "operators.dedup.verified_pairs": (n_ver, "count"),
            "operators.dedup.lsh_precision": (n_ver / n_cand if n_cand else 1.0, "ratio"),
        }


WORKLOADS = {w.name: w for w in (ExtractHtml, WarcStream, ReleaseRecurate)}

# Sizes for the miniature runs a traced run makes of the other two
# workloads, so every traced run reports every layer metric.
PROBE_SIZES = {
    "extract_html": {"pages": 3000},
    "warc_stream": {"segments": 3, "records": 100},
    "release_recurate": {"base_pages": 300},
}
