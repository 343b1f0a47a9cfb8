"""Deterministic benchmark inputs, made from the workload seed and cached
on disk per seed and size.

Every corpus draws its pages from a fixed pool rendered once per
checkout (``build_page`` / ``build_pdf_page`` ids ``[0, POOL_*)``): the
seed picks which pool pages a corpus holds and in which order, so the
same seed always gives the same inputs and a new seed costs a parquet
rewrite rather than a page render. The pool also keeps each page's
``.warc.gz`` member, made by ``sources.warc.build_warc``, so a WARC
segment is a concatenation of members — byte-identical to
``build_warc(records, gzip_members=True)`` on the whole segment.

Generation happens before set-up is timed and outside every timed
region. Nothing here may depend on the code under test beyond the page
builders and ``build_warc``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

POOL_HTML = 32_000
POOL_PDF = 2_000
VOCAB_SCALE = 64  # prose-mode pages: realistic inter-document diversity

# parquet layout of every pages corpus (PAGES_SCHEMA plus pool columns)
_TS = pa.timestamp("us", tz="UTC")


def _atomic_dir(path: str, build) -> str:
    """Run ``build(tmp_dir)`` once and publish it as ``path``."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _render(kind: str, n: int) -> pa.Table:
    from narowi_ocr_spark.sources.pages import build_page, build_pdf_page
    from narowi_ocr_spark.sources.warc import build_warc

    cols: dict[str, list] = {
        k: [] for k in ("url", "warc_ts", "html", "text", "lang", "gz")
    }
    for i in range(n):
        if kind == "pdf":
            url, ts, payload, text, lang = build_pdf_page(i)
        else:
            url, ts, payload, text, lang = build_page(i, VOCAB_SCALE, True)
        ts = ts.replace(tzinfo=timezone.utc)
        iso = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        for k, v in zip(cols, (url, ts, payload, text, lang)):
            cols[k].append(v)
        cols["gz"].append(
            build_warc([(url, iso, payload)], gzip_members=True, with_warcinfo=False)
        )
    return pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], _TS),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "gz": pa.array(cols["gz"], pa.binary()),
        }
    )


def pool(cache: str, columns: list[str] | None = None) -> dict[str, pa.Table]:
    """``columns`` of the rendered page pools, built on first use."""

    def build(tmp: str) -> None:
        pq.write_table(_render("html", POOL_HTML), f"{tmp}/html.parquet")
        pq.write_table(_render("pdf", POOL_PDF), f"{tmp}/pdf.parquet")

    d = _atomic_dir(os.path.join(cache, f"pool-{POOL_HTML}-{POOL_PDF}"), build)
    return {k: pq.read_table(f"{d}/{k}.parquet", columns=columns) for k in ("html", "pdf")}


def sample_ids(seed: int, salt: str, population: int, n: int) -> list[int]:
    """``n`` distinct pool ids in seeded order."""
    return random.Random(f"{seed}:{salt}").sample(range(population), n)


_PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


PAGE_FILES = 12  # equal files, one row group each: equal Spark input splits


def pages_corpus(cache: str, seed: int, n: int, salt: str = "pages") -> str:
    """Parquet pages table of ``n`` HTML pages (PAGES_SCHEMA columns) in
    PAGE_FILES files of equal row counts."""
    path = os.path.join(cache, f"seed-{seed}", f"{salt}-{n}-f{PAGE_FILES}")

    def build(tmp: str) -> None:
        html = pool(cache, _PAGE_COLS)["html"]
        t = html.take(sample_ids(seed, salt, html.num_rows, n)).select(_PAGE_COLS)
        step = -(-n // PAGE_FILES)
        for k in range(0, n, step):
            pq.write_table(
                t.slice(k, step), f"{tmp}/part-{k // step:03d}.parquet",
                row_group_size=step,
            )

    return _atomic_dir(path, build)


# ------------------------------------------------------------------ WARC

WARC_SCHEMA = pa.schema([("segment", pa.string()), ("blob", pa.binary())])


def warc_segments(
    cache: str, seed: int, n_segments: int, records: int, pdf_every: int = 10
) -> str:
    """``n_segments`` parquet files, each one row (segment, blob) holding
    a per-record-gzip WARC segment of ``records`` response records;
    every ``pdf_every``-th record is a PDF. ``oracle.parquet`` maps each
    record's url to its segment and expected text."""
    path = os.path.join(
        cache, f"seed-{seed}", f"warc-{n_segments}x{records}-pdf{pdf_every}"
    )

    def build(tmp: str) -> None:
        from narowi_ocr_spark.sources.warc import build_warc

        p = pool(cache)
        n_pdf = n_segments * (records // pdf_every)
        n_html = n_segments * records - n_pdf
        html = p["html"].take(sample_ids(seed, "warc", p["html"].num_rows, n_html))
        pdf = p["pdf"].take(sample_ids(seed, "warc-pdf", p["pdf"].num_rows, n_pdf))
        head = build_warc([], gzip_members=True)  # the warcinfo member
        oracle: dict[str, list] = {"url": [], "segment": [], "text": []}
        hi = pi = 0
        os.makedirs(f"{tmp}/segments")
        for s in range(n_segments):
            name = f"seg-{s:05d}"
            members = [head]
            for r in range(records):
                if r % pdf_every == pdf_every - 1:
                    src, j, pi = pdf, pi, pi + 1
                else:
                    src, j, hi = html, hi, hi + 1
                members.append(src.column("gz")[j].as_py())
                oracle["url"].append(src.column("url")[j].as_py())
                oracle["segment"].append(name)
                oracle["text"].append(src.column("text")[j].as_py())
            pq.write_table(
                pa.table([[name], [b"".join(members)]], schema=WARC_SCHEMA),
                f"{tmp}/segments/{name}.parquet",
            )
        pq.write_table(pa.table(oracle), f"{tmp}/oracle.parquet")

    return _atomic_dir(path, build)


# ------------------------------------------------------------- release

# Planted defect classes, each chosen by ``pmod(xxhash64(url), k)`` so
# negative hashes count too. Near-dups and PII copies are taken only
# from pages of at least LONG_WORDS words: the appended line then keeps
# shingle Jaccard above 0.93, where the production LSH geometry (16
# bands of 8 rows) misses a pair with odds below 1e-5 — the survivor
# arithmetic below stays exact on every seed.
LONG_WORDS = 200
NEAR_EXTRA = (
    "this mirror edition appends one full extra paragraph of "
    "fifteen plain words to the body content."
)
PII_LINE = (
    "contact the team of and with editors at "
    "alice.smith@mail.example for details."
)
PII_EMAIL = "alice.smith@mail.example"
REP_BODY = (
    "<html><body>"
    + "".join(
        "<p>" + ("buy cheap deals now " * 12).strip() + ".</p>" for _ in range(6)
    )
    + "</body></html>"
)


def release_corpus(spark, cache: str, seed: int, n_base: int) -> tuple[str, dict]:
    """Prose pages plus planted defects: exact mirrors (1 in 20 pages),
    near-dups and PII copies (1 in 20 long pages each) and repetitive
    boilerplate pages (1 in 40). Returns the parquet path and the stage
    survivor counts the planted defects imply:

    - every page extracts to non-empty text;
    - the repetitive pages die at the clean gates, every other page
      passes them (the prose generator is shaped for that);
    - each mirror dies at exact dedup against its original;
    - each near-dup and each PII copy joins its original's near-dup
      cluster, which keeps one representative.
    """
    from pyspark.sql import functions as F

    base_path = pages_corpus(cache, seed, n_base, salt="release")
    path = os.path.join(cache, f"seed-{seed}", f"release-{n_base}-defects")

    def build(tmp: str) -> None:
        base = spark.read.parquet(base_path)
        h = F.xxhash64("url")
        long_ = F.size(F.split("text", r"\s+")) >= LONG_WORDS

        def copy(where, prefix: str, html=F.col("html"), text=F.col("text")):
            return base.where(where).select(
                F.concat(F.lit(prefix), F.col("url")).alias("url"),
                "warc_ts",
                html.alias("html"),
                text.alias("text"),
                "lang",
            )

        def append_para(line: str):
            html = F.encode(
                F.regexp_replace(
                    F.decode("html", "utf-8"), "<footer>", f"<p>{line}</p><footer>"
                ),
                "utf-8",
            )
            return html, F.concat(F.col("text"), F.lit("\n" + line))

        mirror = copy(F.pmod(h, F.lit(20)) == 0, "https://mirror.example/x/")
        near = copy(
            (F.pmod(h, F.lit(20)) == 1) & long_,
            "https://near.example/x/",
            *append_para(NEAR_EXTRA),
        )
        rep = copy(
            F.pmod(h, F.lit(40)) == 2,
            "https://rep.example/x/",
            F.encode(F.lit(REP_BODY), "utf-8"),
            F.lit(None).cast("string"),
        )
        pii = copy(
            (F.pmod(h, F.lit(40)) == 3) & long_,
            "https://pii.example/x/",
            *append_para(PII_LINE),
        )
        n = {k: df.count() for k, df in
             dict(base=base, mirror=mirror, near=near, rep=rep, pii=pii).items()}
        (
            base.unionByName(mirror).unionByName(near).unionByName(rep)
            .unionByName(pii).coalesce(1)
            .write.parquet(f"{tmp}/pages")
        )
        pages = sum(n.values())
        clean = pages - n["rep"]
        exact = clean - n["mirror"]
        expected = {
            "pages": pages,
            "extracted": pages,
            "clean": clean,
            "exact_unique": exact,
            "near_unique": exact - n["near"] - n["pii"],
        }
        with open(f"{tmp}/expected.json", "w") as f:
            json.dump({"planted": n, "stages": expected}, f)

    _atomic_dir(path, build)
    with open(f"{path}/expected.json") as f:
        return f"{path}/pages", json.load(f)["stages"]
