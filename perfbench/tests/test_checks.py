"""The benchmark's output checks must catch one wrong document."""

import json
import os

import pytest

from perfbench.checks import Digest, count_wrong_rows, digest
from perfbench.workloads import RecrawlWorkload

COLS = "url string, extracted_text string, status string"


def _rows(n):
    return [(f"https://e.example/{i}", f"text {i}", "ok") for i in range(n)]


def _as_dicts(rows):
    return [dict(zip(("url", "extracted_text", "status"), r)) for r in rows]


def test_digest_is_order_independent(spark):
    rows = _rows(50)
    a = spark.createDataFrame(rows, COLS)
    b = spark.createDataFrame(list(reversed(rows)), COLS)
    cols = ("url", "extracted_text", "status")
    assert digest(a, *cols) == digest(b, *cols)


def test_digest_does_not_overflow_on_200k_rows(spark):
    from pyspark.sql import functions as F

    df = spark.range(200_000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url")
    )
    d = digest(df, "url")
    assert d.rows == 200_000 and d.xor != 0


@pytest.mark.parametrize("col,value", [(1, "text 7 changed"), (2, "error:html")])
def test_one_changed_document_fails_every_check(spark, col, value):
    rows = _rows(100)
    bad = list(rows)
    bad[7] = tuple(value if i == col else v for i, v in enumerate(bad[7]))
    expected = spark.createDataFrame(rows, COLS)
    actual = spark.createDataFrame(bad, COLS)
    cols = ("url", "extracted_text", "status")
    assert digest(actual, *cols) != digest(expected, *cols)
    assert count_wrong_rows(_as_dicts(bad), _as_dicts(rows), "url") == 1


@pytest.mark.parametrize("case", ["missing", "duplicated", "extra", "broken"])
def test_missing_duplicate_extra_and_broken_rows_are_counted(case):
    rows = _rows(20)
    want = rows
    got = {
        "missing": rows[1:],
        "duplicated": rows + rows[:1],
        "extra": rows + [("https://e.example/new", "x", "ok")],
        "broken": rows[:-1] + [(rows[-1][0], rows[-1][1], "error:internal")],
    }[case]
    if case == "broken":
        want = got
    assert count_wrong_rows(_as_dicts(got), _as_dicts(want), "url") == 1


def _recrawl_output(spark, out, rows, manifests, snapshots):
    df = spark.createDataFrame(rows, "url string, n_bytes long, status string")
    df.write.parquet(os.path.join(out, "data", "bucket=0"))
    os.makedirs(os.path.join(out, "manifests"))
    for b, docs in enumerate(manifests):
        with open(os.path.join(out, "manifests", f"bucket={b}.json"), "w") as f:
            json.dump({"bucket": b, "docs_processed": docs}, f)
    os.makedirs(os.path.join(out, "snapshots"))
    for s in range(snapshots):
        with open(os.path.join(out, "snapshots", f"snap-{s:08d}.json"), "w") as f:
            json.dump({"snapshot_id": f"s{s}", "sequence_number": s}, f)


class _Inputs:
    docs = 10


class _Session:
    def __init__(self, work):
        self.work = work


@pytest.mark.parametrize("change", [None, "n_bytes", "status"])
def test_recrawl_checks_catch_one_wrong_document(spark, tmp_path, change):
    good = [(f"u{i}", 100 + i, "ok") for i in range(10)]
    expected = tmp_path / "expected.parquet"
    spark.createDataFrame(good, "url string, n_bytes long, status string") \
        .coalesce(1).write.parquet(str(expected))
    got = list(good)
    if change == "n_bytes":
        got[3] = ("u3", 999, "ok")
    elif change == "status":
        got[3] = ("u3", 103, "error:html")
    bs = _Session(str(tmp_path))
    out = RecrawlWorkload.out_dir(bs)
    _recrawl_output(spark, out, got, manifests=[4, 6], snapshots=2)

    assert RecrawlWorkload.wrong_docs(out, str(expected)) == (0 if change is None else 1)
    ok = {"buckets_processed": 4}
    assert RecrawlWorkload.structural_problems(_Inputs(), out, ok, ok) == []


def test_recrawl_structural_checks(spark, tmp_path):
    out = str(tmp_path / "out")
    rows = [(f"u{i}", 1, "ok") for i in range(10)]
    _recrawl_output(spark, out, rows, manifests=[4, 5], snapshots=1)
    ok = {"buckets_processed": 4}
    problems = RecrawlWorkload.structural_problems(_Inputs(), out, ok, {"buckets_processed": 3})
    assert len(problems) == 3  # resume bucket count, manifest docs, snapshots


def test_digest_equality_is_by_value():
    assert Digest(3, 5) == Digest(3, 5) and Digest(3, 5) != Digest(3, 6)
