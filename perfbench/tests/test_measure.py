"""Pure-Python parts of the benchmark: metric parsing, /proc accounting,
input generation, the result line and the missing-program exit."""

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import host, inputs, kernelprobe, run
from perfbench.sqlmetrics import parse_value, stage_of

ROOT = run.ROOT


@pytest.mark.parametrize("text,value", [
    ("50,000", 50000.0),
    ("13 ms", 13.0),
    ("17.2 s", 17200.0),
    ("1.5 m", 90000.0),
    ("236.0 B", 236.0),
    ("9.4 MiB", 9.4 * 2**20),
    ("total (min, med, max (stageId: taskId))\n25.2 s (6.0 s, 6.5 s, 6.6 s "
     "(stage 3.0: task 7))", 25200.0),
    ("n/a", None),
])
def test_parse_value(text, value):
    if value is None:
        assert parse_value(text) is None
    else:
        assert parse_value(text) == pytest.approx(value)


def test_stage_of():
    assert stage_of("total (min, med, max (stageId: taskId))\n1 ms (0 ms, 0 ms, "
                    "1 ms (stage 12.0: task 20))") == 12
    assert stage_of("13 ms") is None


def test_process_tree_accounting():
    me = os.getpid()
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert me in host.descendants(me)
        assert child.pid in host.descendants(me)
        py, jvm = host.split_tree(me)
        assert me in py and child.pid in py and child.pid not in jvm
        before = host.tree_cpu_s(me)
        t = time.process_time()
        while time.process_time() - t < 0.3:
            pass
        assert host.tree_cpu_s(me) - before >= 0.2
        with host.RssSampler(me, interval_s=0.01) as rss:
            time.sleep(0.05)
        assert rss.peak_mb > 1
    finally:
        child.kill()
        child.wait()
    assert host.wait_gone([child.pid], timeout_s=5) == []


def _rows(path):
    return pq.read_table(path).sort_by("url").to_pylist()


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_inputs_are_a_function_of_the_seed(tmp_path, monkeypatch, workload):
    # small sizes: the property does not depend on them
    monkeypatch.setattr(inputs, "HTML_PAGES_DOCS", 400)
    monkeypatch.setattr(inputs, "MIXED_FORMATS_URLS", 200)
    monkeypatch.setattr(inputs, "RECRAWL_URLS", 200)
    gen = inputs.GENERATORS[workload]
    a = gen(5, str(tmp_path / "a"))
    b = gen(5, str(tmp_path / "b"))
    c = gen(6, str(tmp_path / "c"))
    assert _rows(a.pages) == _rows(b.pages)
    assert _rows(a.expected) == _rows(b.expected)
    assert _rows(a.pages) != _rows(c.pages)
    assert a.docs == len(_rows(a.expected))


def test_html_pages_expected_text_is_what_the_kernel_extracts(tmp_path, monkeypatch):
    from open_ocr_spark.kernels.dispatch import extract_document

    monkeypatch.setattr(inputs, "HTML_PAGES_DOCS", 200)
    got = inputs.gen_html_pages(3, str(tmp_path))
    expected = {r["url"]: r for r in _rows(got.expected)}
    for page in _rows(got.pages):
        text, status, _ = extract_document(page["html"], lang=page["lang"])
        assert (text, status) == (expected[page["url"]]["extracted_text"], "ok")


def test_recrawl_expects_the_newest_version(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "RECRAWL_URLS", 50)
    got = inputs.gen_recrawl(3, str(tmp_path))
    newest = {}
    for page in _rows(got.pages):
        if page["url"] not in newest or page["warc_ts"] > newest[page["url"]]["warc_ts"]:
            newest[page["url"]] = page
    assert {r["url"]: r["n_bytes"] for r in _rows(got.expected)} == {
        u: len(p["html"]) for u, p in newest.items()
    }
    lengths = {}
    for page in _rows(got.pages):
        lengths.setdefault(page["url"], set()).add(len(page["html"]))
    assert all(len(v) == inputs.RECRAWL_VERSIONS for v in lengths.values())


def test_cache_reuses_and_evicts(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "HTML_PAGES_DOCS", 80)
    cache = str(tmp_path)
    first = inputs.prepare("html_pages", 1, cache, ROOT)
    mtime = os.path.getmtime(first.expected)
    assert inputs.prepare("html_pages", 1, cache, ROOT) == first
    assert os.path.getmtime(first.expected) == mtime
    for seed in range(2, 2 + inputs.KEEP_CACHED_PER_WORKLOAD + 1):
        inputs.prepare("html_pages", seed, cache, ROOT)
    assert len(os.listdir(cache)) == inputs.KEEP_CACHED_PER_WORKLOAD


def test_every_generator_kind_has_a_name():
    assert sorted(kernelprobe.KIND_OF_INDEX) == list(range(20))


def test_result_line_has_exactly_the_contract_keys():
    line = run.result_line(True, 10, 0, {"setup_s": 1.5}, {"setup_s": "s"})
    got = json.loads(line)
    assert list(got) == ["correct", "attempted", "failed", "metrics"]
    assert got["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert {f"dispatch.{k}.us_per_doc" for k in kernelprobe.KINDS} <= per_layer
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "html_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
