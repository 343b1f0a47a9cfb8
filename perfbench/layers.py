"""Single-process timings of each extraction layer's public functions on
the seed's own inputs, for the traced run. No Spark: these are the
per-document costs a Spark task pays inside its Python worker."""

from __future__ import annotations

import time
from datetime import timezone

import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.stats import median

SAMPLE_DOCS = 300
WARC_RECORDS = 2000  # one production-size segment: parse cost grows with it
REPEATS = 3


def _us_per_call(fn, args: list) -> float:
    """Median over REPEATS of the mean microseconds per ``fn(arg)``."""
    runs = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        for a in args:
            fn(a)
        runs.append((time.perf_counter() - t) * 1e6 / len(args))
    return median(runs)


def _sample(pages_path: str) -> dict[str, list]:
    t = pq.read_table(pages_path, columns=["html", "text"]).slice(0, SAMPLE_DOCS)
    return t.to_pydict()


def page_us_per_doc(pages_path: str) -> float:
    from narowi_ocr_spark.plans.pipeline import extract_page_py

    return _us_per_call(extract_page_py, _sample(pages_path)["html"])


def probe(cache: str, seed: int, pages_path: str) -> dict[str, tuple[float, str]]:
    from narowi_ocr_spark.functions.readings import extract_readings_py
    from narowi_ocr_spark.operators.blocks import tokenize_and_score_py
    from narowi_ocr_spark.operators.pdftext import tokenize_pdf_py
    from narowi_ocr_spark.sources.warc import build_warc, parse_warc

    sample = _sample(pages_path)
    pool = corpus.pool(cache, ["url", "warc_ts", "html"])
    pdf = pool["pdf"].take(
        corpus.sample_ids(seed, "probe-pdf", pool["pdf"].num_rows, SAMPLE_DOCS)
    ).column("html").to_pylist()
    html = pool["html"].take(
        corpus.sample_ids(seed, "probe-warc", pool["html"].num_rows, WARC_RECORDS)
    ).to_pylist()
    records = [
        (
            r["url"],
            r["warc_ts"].astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
            r["html"],
        )
        for r in html
    ]
    blobs = {
        gz: build_warc(records, gzip_members=gz) for gz in (True, False)
    }

    def parse_us(gz: bool) -> float:
        return _us_per_call(parse_warc, [blobs[gz]]) / WARC_RECORDS

    return {
        "sources.warc.parse_us_per_doc": (parse_us(True), "us"),
        "sources.warc.parse_us_per_doc_plain": (parse_us(False), "us"),
        "operators.blocks.tokenize_us_per_doc": (
            _us_per_call(tokenize_and_score_py, sample["html"]), "us"
        ),
        "operators.pdftext.tokenize_us_per_doc": (
            _us_per_call(tokenize_pdf_py, pdf), "us"
        ),
        "functions.readings.extract_us_per_doc": (
            _us_per_call(extract_readings_py, sample["text"]), "us"
        ),
        "plans.pipeline.page_us_per_doc": (page_us_per_doc(pages_path), "us"),
    }
