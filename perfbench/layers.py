"""Per-layer measurements for the traced run.

Operator times overlap inside a pipelined Spark stage, so they cannot be
summed to a wall time. The layer split instead comes from a ladder of
plan variants over the same input, each one layer longer than the last:

    scan      ingest + projection, aggregated          -> scan.s
    mock      extraction_plan(use_mock=True)            -> dedupe.s = mock - scan
    identity  dedupe + mapInArrow that returns its input -> arrow.s = identity - mock
    full      extraction_plan (the real kernel)         -> kernel.s = full - identity

and Spark's SQL metrics of each variant's action supply the counts and
operator times (scan time, shuffle bytes, sort time, bytes to and from
Python, worker init/run time). The write path is measured by a
killed and resumed mock ``run_extraction_job``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from perfbench.inputs import Inputs
from perfbench.session import BenchSession
from perfbench.sqlmetrics import Execution, stage_of
from perfbench.trace import Tracer
from perfbench.workloads import killed_and_resumed_job

MB = 2.0**20
# the input columns the extraction kernel consumes (the rest are dropped
# before the dedupe)
_KERNEL_INPUT = ("url", "html", "lang", "engine", "preprocessors", "preprocessor_args")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _identity(batches):
    yield from batches


def _variants(pages):
    from open_ocr_spark.pipeline.dedupe import latest_per_url
    from open_ocr_spark.pipeline.ingest import ingest
    from open_ocr_spark.pipeline.job import extraction_plan

    kernel_cols = [c for c in _KERNEL_INPUT if c in pages.columns]
    projected = ingest(pages).select("warc_ts", *kernel_cols)
    deduped = latest_per_url(projected).select(*kernel_cols)
    return {
        "scan": projected.agg(F.count(F.lit(1)), F.sum(F.octet_length("html"))),
        "mock": extraction_plan(pages, use_mock=True).agg(
            F.count(F.lit(1)), F.sum("n_bytes")
        ),
        "identity": deduped.mapInArrow(_identity, deduped.schema).agg(
            F.count(F.lit(1)), F.sum(F.octet_length("html"))
        ),
        "full": extraction_plan(pages).agg(
            F.count(F.lit(1)), F.sum(F.length("extracted_text"))
        ),
    }


def ladder_pass(bs: BenchSession, tracer: Tracer) -> dict[str, tuple[float, int, list[Execution]]]:
    """Run each variant once: {variant: (wall s, output rows, executions)}."""
    out = {}
    for name, df in _variants(bs.pages()).items():
        mark = bs.sql.mark()
        with tracer.span(f"ladder.{name}"):
            t0 = time.perf_counter()
            rows = df.first()[0]
            wall = time.perf_counter() - t0
        out[name] = (wall, rows, bs.sql.since(mark))
    return out


def _sum(execs: list[Execution], node: str, metric: str) -> float:
    return sum(e.total(node, metric) for e in execs)


def ladder_metrics(bs: BenchSession, passes: list[dict], inputs: Inputs) -> dict[str, float]:
    wall = {v: statistics.median(p[v][0] for p in passes) for v in passes[0]}
    last = passes[-1]
    scan, mock, full = last["scan"][2], last["mock"][2], last["full"][2]
    m = {
        "scan.s": wall["scan"],
        "scan.time_ms": _sum(scan, "Scan parquet", "scan time"),
        "scan.rows": _sum(scan, "Scan parquet", "number of output rows"),
        "dedupe.s": wall["mock"] - wall["scan"],
        "dedupe.keep_ratio": last["mock"][1] / inputs.rows,
        "exchange.shuffle_mb": _sum(mock, "Exchange", "shuffle bytes written") / MB,
        "dedupe.sort_ms": _sum(mock, "Sort", "sort time"),
        "arrow.s": wall["identity"] - wall["mock"],
        "kernel.s": wall["full"] - wall["identity"],
        "ladder.full_s": wall["full"],
    }
    m["kernel.share"] = m["kernel.s"] / wall["full"]
    m.update(_arrow_metrics(bs, full))
    return m


def _arrow_metrics(bs: BenchSession, execs: list[Execution]) -> dict[str, float]:
    nodes = [n for e in execs for n in e.nodes_named("MapInArrow")]
    stages = {stage_of(v) for n in nodes for v in n.metrics.values()} - {None}
    tracker = bs.spark.sparkContext.statusTracker()
    tasks = sum(
        info.numTasks for s in stages if (info := tracker.getStageInfo(s)) is not None
    )

    def per_task_s(metric: str) -> float:
        return sum(n.value(metric) for n in nodes) / 1e3 / max(tasks, 1)

    return {
        "arrow.to_py_mb": sum(n.value("data sent to Python workers") for n in nodes) / MB,
        "arrow.from_py_mb": sum(n.value("data returned from Python workers") for n in nodes) / MB,
        "arrow.tasks": tasks,
        "arrow.worker_init_s": per_task_s("time to initialize Python workers"),
        "arrow.worker_run_s": per_task_s("time to run Python workers"),
    }


def job_metrics(bs: BenchSession, inputs: Inputs, tracer: Tracer) -> dict[str, float]:
    """A killed and resumed mock job on this workload's input, with its
    checkpoint commits wrapped in spans."""
    out = os.path.join(bs.work, "job_probe")
    shutil.rmtree(out, ignore_errors=True)
    mark = bs.sql.mark()
    n_commit_spans = len(tracer.spans)
    with tracer.span("job.probe"):
        killed_and_resumed_job(bs, out, tracer)
    execs = bs.sql.since(mark)
    shutil.rmtree(out, ignore_errors=True)
    writes = [e for e in execs if e.nodes_named(WRITE_NODE)]
    commit_s = sum(
        s.duration_s for s in tracer.spans[n_commit_spans:] if s.name == "checkpoint.commit"
    )
    return {
        "job.scan_amplification":
            _sum(execs, "Scan parquet", "number of output rows") / inputs.rows,
        "job.group_s": statistics.median(e.duration_s for e in writes),
        "checkpoint.commit_s": commit_s,
        "write.files": _sum(writes, WRITE_NODE, "number of written files"),
        "write.mb": _sum(writes, WRITE_NODE, "written output") / MB,
        "write.task_commit_ms": _sum(writes, WRITE_NODE, "task commit time"),
        "write.job_commit_ms": _sum(writes, WRITE_NODE, "job commit time"),
    }

