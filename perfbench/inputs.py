"""Seeded input generators for the three workloads, cached on disk.

Every generator is a pure function of the seed. The program under test
sees only the parquet tables written here; the expected outputs are
written beside them and are derived from the generator's own knowledge of
each document, never by running the extraction kernel.

The cache lives under ``<checkout>/.perfbench_cache`` keyed by workload,
seed and a fingerprint of the generator sources, so a changed generator
never reuses a stale table. Generation is untimed set-up of the
benchmark, not of the program.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Document sizes: one timed round is a few seconds of extraction at
# local[4], so several rounds fit in one measured interval.
HTML_PAGES_DOCS = 24_000
HTML_PAGES_REPLICATION = 40  # distinct urls per generated base document
MIXED_FORMATS_URLS = 16_000
RECRAWL_URLS = 10_000
RECRAWL_VERSIONS = 4

INPUT_FILES = 8
KEEP_CACHED_PER_WORKLOAD = 3

_WORDS = (
    "data spark table query batch stream window filter join merge sort key "
    "value row column vector hash scan agg group order line part customer "
    "fast slow big small the a"
).split()

# Common-Crawl-shaped boilerplate around the main text: nav links, an
# article with one paragraph, a link footer.
_WRAP_PREFIX = (
    "<html><head><title>doc</title><script>q()</script></head><body>"
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">A</a></li>'
    '<li><a href="/b">B</a></li></ul></nav><article><p>'
)
_WRAP_SUFFIX = (
    '</p></article><footer><a href="/x">x</a> <a href="/y">y</a>'
    "<p>(c) footer</p></footer></body></html>"
)

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_TS = pa.timestamp("us", tz="UTC")


@dataclass(frozen=True)
class Inputs:
    """Paths of one generated workload input and its expected output."""

    pages: str  # directory of parquet files: the program's input table
    expected: str  # parquet file of expected output rows
    rows: int  # input rows
    docs: int  # distinct urls = documents the program must emit


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` paragraphs of 8..100 words (mean ~300 chars, as in the
    documents table the ROADMAP baseline used)."""
    counts = rng.integers(8, 101, size=n)
    words = rng.integers(0, len(_WORDS), size=int(counts.sum()))
    out, at = [], 0
    for c in counts:
        out.append(" ".join(_WORDS[w] for w in words[at : at + c]))
        at += c
    return out


def _write_pages(table: pa.Table, out_dir: str, rng: np.random.Generator) -> None:
    """Shuffle rows and split them over INPUT_FILES parquet files."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    os.makedirs(out_dir)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:02d}.parquet")
        )


def gen_html_pages(seed: int, out: str) -> Inputs:
    """Unique-url boilerplate-wrapped HTML pages; the extracted text of
    every page is its generated paragraph."""
    rng = np.random.default_rng([seed, 1])
    base = _texts(rng, HTML_PAGES_DOCS // HTML_PAGES_REPLICATION)
    urls, htmls, texts = [], [], []
    for b, text in enumerate(base):
        html = (_WRAP_PREFIX + text + _WRAP_SUFFIX).encode()
        for r in range(HTML_PAGES_REPLICATION):
            urls.append(f"https://bench.example.com/s{seed}/doc/{b}/{r}")
            htmls.append(html)
            texts.append(text)
    n = len(urls)
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([_EPOCH] * n, _TS),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["eng"] * n, pa.string()),
        }
    )
    _write_pages(pages, os.path.join(out, "pages"), rng)
    expected = pa.table(
        {
            "url": pages["url"],
            "extracted_text": pages["text"],
            "status": pa.array(["ok"] * n, pa.string()),
        }
    )
    pq.write_table(expected, os.path.join(out, "expected.parquet"))
    return Inputs(os.path.join(out, "pages"), os.path.join(out, "expected.parquet"), n, n)


def gen_mixed_formats(seed: int, out: str) -> Inputs:
    """The program's own 20-kind fixture mix (HTML variants, PDF, EML,
    tar.gz, zip, ipynb, PostScript, SRT/VTT, LaTeX, CJK, mock engine,
    empty payload, bad lang) with 10% re-crawls, checked against the
    generator's golden rows."""
    from open_ocr_spark.fixtures import generate_pages

    rows, golden = generate_pages(MIXED_FORMATS_URLS, seed)

    def col(k):
        return [r[k] for r in rows]

    pages = pa.table(
        {
            "url": pa.array(col("url"), pa.string()),
            "warc_ts": pa.array(col("warc_ts"), _TS),
            "html": pa.array(col("html"), pa.binary()),
            "text": pa.array(col("text"), pa.string()),
            "lang": pa.array(col("lang"), pa.string()),
            "engine": pa.array(col("engine"), pa.string()),
            "preprocessors": pa.array(col("preprocessors"), pa.list_(pa.string())),
            "preprocessor_args": pa.array(
                col("preprocessor_args"), pa.map_(pa.string(), pa.string())
            ),
        }
    )
    _write_pages(pages, os.path.join(out, "pages"), np.random.default_rng([seed, 2]))
    expected = pa.table(
        {
            k: pa.array([g[k] for g in golden], pa.string())
            for k in ("url", "extracted_text", "status")
        }
    )
    pq.write_table(expected, os.path.join(out, "expected.parquet"))
    return Inputs(
        os.path.join(out, "pages"), os.path.join(out, "expected.parquet"),
        len(rows), len(golden),
    )


def gen_recrawl(seed: int, out: str) -> Inputs:
    """RECRAWL_URLS urls x RECRAWL_VERSIONS crawl versions in shuffled
    order and with shuffled timestamps. Version ``v`` appends ``v + 1``
    revision words, so the html length identifies which version the
    dedupe kept: the expected ``n_bytes`` is that of the newest one."""
    rng = np.random.default_rng([seed, 3])
    base = _texts(rng, RECRAWL_URLS // HTML_PAGES_REPLICATION)
    urls, stamps, htmls = [], [], []
    newest_bytes = []
    day = dt.timedelta(days=1)
    for u in range(RECRAWL_URLS):
        url = f"https://recrawl.example.com/s{seed}/doc/{u}"
        order = rng.permutation(RECRAWL_VERSIONS)
        text = base[u % len(base)]
        best = None
        for v in range(RECRAWL_VERSIONS):
            html = (_WRAP_PREFIX + text + " rev" * (v + 1) + _WRAP_SUFFIX).encode()
            urls.append(url)
            stamps.append(_EPOCH + int(order[v]) * day)
            htmls.append(html)
            if order[v] == RECRAWL_VERSIONS - 1:
                best = len(html)
        newest_bytes.append(best)
    n = len(urls)
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(stamps, _TS),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array([None] * n, pa.string()),
            "lang": pa.array(["eng"] * n, pa.string()),
        }
    )
    _write_pages(pages, os.path.join(out, "pages"), rng)
    expected = pa.table(
        {
            "url": pa.array(urls[:: RECRAWL_VERSIONS], pa.string()),
            "n_bytes": pa.array(newest_bytes, pa.int64()),
            "status": pa.array(["ok"] * RECRAWL_URLS, pa.string()),
        }
    )
    pq.write_table(expected, os.path.join(out, "expected.parquet"))
    return Inputs(
        os.path.join(out, "pages"), os.path.join(out, "expected.parquet"),
        n, RECRAWL_URLS,
    )


GENERATORS = {
    "html_pages": gen_html_pages,
    "mixed_formats": gen_mixed_formats,
    "recrawl_resume": gen_recrawl,
}


def fingerprint(root: str) -> str:
    """Digest of every source file the generated tables depend on."""
    h = hashlib.sha256()
    for path in (__file__, os.path.join(root, "open_ocr_spark", "fixtures.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _inputs_at(path: str) -> Inputs:
    pages = os.path.join(path, "pages")
    expected = os.path.join(path, "expected.parquet")
    rows = sum(
        pq.read_metadata(os.path.join(pages, f)).num_rows
        for f in os.listdir(pages)
    )
    return Inputs(pages, expected, rows, pq.read_metadata(expected).num_rows)


def prepare(workload: str, seed: int, cache_dir: str, root: str) -> Inputs:
    """Return the workload's input for ``seed``, generating it once."""
    key = f"{workload}-s{seed}-{fingerprint(root)}"
    path = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return _inputs_at(path)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](seed, tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(cache_dir, workload, keep=path)
    return _inputs_at(path)


def _evict(cache_dir: str, workload: str, keep: str) -> None:
    """Keep only the most recently used entries of one workload."""
    entries = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(workload + "-s")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED_PER_WORKLOAD:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
