"""In-process, single-core timing of the Python kernel's public functions:
``kernels.dispatch.extract_document``, ``kernels.htmltree.parse_html`` and
``kernels.html_extract.extract_main_text``.

Each document is timed ``REPEATS`` times and its fastest time kept, which
strips most scheduler noise from a per-document cost of a few to a few
hundred microseconds.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

REPEATS = 3
SAMPLE_DOCS = 1000
KIND_SAMPLE_URLS = 600

# fixtures.generate_pages picks a document's kind from its index i as
# i % 20; index 13 is the reference's golden paragraph, an HTML page.
KIND_OF_INDEX = {
    0: "html", 1: "ps", 2: "subtitle", 3: "html", 4: "latex", 5: "ipynb",
    6: "zip", 7: "tar_gz", 8: "eml", 9: "entities", 10: "list_layout",
    11: "table_layout", 12: "cjk", 13: "html", 14: "non_utf8", 15: "pdf",
    16: "empty", 17: "mock", 18: "unknown_engine", 19: "bad_lang",
}
KINDS = sorted(set(KIND_OF_INDEX.values()))


def _best_us(fn, arg_list: list[tuple]) -> list[float]:
    """Fastest of REPEATS calls per argument tuple, in microseconds."""
    clock = time.perf_counter
    out = []
    for args in arg_list:
        best = float("inf")
        for _ in range(REPEATS):
            t = clock()
            fn(*args)
            best = min(best, clock() - t)
        out.append(best * 1e6)
    return out


def _dispatch_args(row: dict) -> tuple:
    return (
        row["html"], row.get("lang"), row.get("engine"), None,
        row.get("preprocessors"),
        dict(row["preprocessor_args"]) if row.get("preprocessor_args") else None,
    )


def sample_rows(pages_dir: str, seed: int, n: int = SAMPLE_DOCS) -> list[dict]:
    """``n`` input rows drawn by ``seed`` from the workload's input."""
    rows = pq.read_table(pages_dir).to_pylist()
    pick = np.random.default_rng([seed, 9]).choice(len(rows), size=min(n, len(rows)),
                                                   replace=False)
    return [rows[i] for i in sorted(pick)]


def workload_kernel_metrics(rows: list[dict]) -> dict[str, float]:
    """Per-document dispatch cost over the workload's own sample, and the
    HTML parse and main-text extraction cost over its HTML documents."""
    from open_ocr_spark.kernels.dispatch import extract_document
    from open_ocr_spark.kernels.html_extract import extract_main_text
    from open_ocr_spark.kernels.htmltree import parse_html

    dispatch = _best_us(extract_document, [_dispatch_args(r) for r in rows])
    parse, extract = [], []
    for r in rows:
        if r["html"] and r["html"][:5].lower() == b"<html":
            # parse and extract timed back to back, under the same load
            parse += _best_us(parse_html, [(r["html"],)])
            extract += _best_us(extract_main_text, [(r["html"],)])
    return {
        "dispatch.us_per_doc.p50": float(np.percentile(dispatch, 50)),
        "dispatch.us_per_doc.p99": float(np.percentile(dispatch, 99)),
        "htmltree.parse_us_per_doc": statistics.median(parse),
        "html_extract.us_per_doc": statistics.median(extract),
    }


def kind_metrics(seed: int) -> dict[str, float]:
    """Median dispatch cost per document kind over a fixed sample of the
    generator's mix (the same sample on every workload)."""
    from open_ocr_spark.fixtures import generate_pages
    from open_ocr_spark.kernels.dispatch import extract_document

    rows, _ = generate_pages(KIND_SAMPLE_URLS, seed)
    by_kind: dict[str, list[tuple]] = {k: [] for k in KINDS}
    for r in rows:
        i = int(r["url"].rsplit("/", 1)[1])
        by_kind[KIND_OF_INDEX[i % 20]].append(_dispatch_args(r))
    return {
        f"dispatch.{k}.us_per_doc": statistics.median(_best_us(extract_document, args))
        for k, args in by_kind.items()
    }
