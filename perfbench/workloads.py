"""The three workloads: what one timed round does and how its output is
checked.

``html_pages`` and ``mixed_formats`` time ``job.extraction_plan`` followed
by a digest aggregate over its output; ``recrawl_resume`` times a killed
``job.run_extraction_job`` plus the call that resumes it.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench.checks import Digest, digest, digest_columns, wrong_rows
from perfbench.inputs import Inputs
from perfbench.session import BenchSession
from perfbench.trace import Tracer

# recrawl_resume: 8 buckets committed two per group; the first call stops
# after 4 buckets (a simulated kill) and the second resumes the rest
NUM_BUCKETS = 8
BUCKETS_PER_COMMIT = 2
KILL_AFTER_BUCKETS = 4


@dataclass
class RoundOutcome:
    docs: int  # documents out of the timed action
    failed: int  # documents whose output is wrong
    problems: list[str]  # failed structural checks
    wall_s: float
    cpu_s: float
    py_rss_mb: float


@contextmanager
def _maybe_span(tracer: Tracer | None, name: str):
    if tracer is None:
        yield
    else:
        with tracer.span(name):
            yield


class _Workload:
    check_cols: list[str] = []

    def __init__(self):
        self.expected: Digest | None = None

    def prepare(self, bs: BenchSession, inputs: Inputs) -> None:
        """Digest the expected table once per session (untimed)."""
        self.expected = digest(
            bs.spark.read.parquet(inputs.expected), "url", *self.check_cols
        )

    def final_problems(self, bs: BenchSession, inputs: Inputs) -> list[str]:
        """Checks made once after the last round."""
        return []


class ExtractionWorkload(_Workload):
    """``extraction_plan`` over the input, then one aggregate that
    digests (url, extracted_text, status) of every output row."""

    check_cols = ["extracted_text", "status"]

    def run_round(
        self, bs: BenchSession, inputs: Inputs, tracer: Tracer | None = None
    ) -> RoundOutcome:
        from open_ocr_spark.pipeline.job import extraction_plan

        pages = bs.pages()

        def action():
            with _maybe_span(tracer, "job.extraction_plan"):
                out = extraction_plan(pages)
            with _maybe_span(tracer, "spark.action"):
                row = out.agg(*digest_columns("url", *self.check_cols)).first()
            return Digest.from_row(row)

        with _maybe_span(tracer, "round"):
            m = bs.measure(action)
        failed = 0
        if m.result != self.expected:
            # deterministic kernel: recompute the output and compare rows
            got = extraction_plan(bs.pages()).select("url", *self.check_cols)
            failed = max(1, wrong_rows(
                got.toArrow().to_pylist(), inputs.expected, self.check_cols
            ))
        return RoundOutcome(m.result.rows, failed, [], m.wall_s, m.cpu_s, m.py_rss_mb)


@contextmanager
def traced_commits(tracer: Tracer | None):
    """Wrap the job's checkpoint commits (``commit_bucket`` and
    ``write_snapshot``, as the job module calls them) in spans named
    ``checkpoint.commit``."""
    if tracer is None:
        yield
        return
    from open_ocr_spark.pipeline import job

    originals = {n: getattr(job, n) for n in ("commit_bucket", "write_snapshot")}

    def wrap(fn):
        def traced(*args, **kwargs):
            with tracer.span("checkpoint.commit"):
                return fn(*args, **kwargs)
        return traced

    for n, fn in originals.items():
        setattr(job, n, wrap(fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(job, n, fn)


def killed_and_resumed_job(bs: BenchSession, out_dir: str, tracer: Tracer | None = None):
    """``run_extraction_job`` stopped after KILL_AFTER_BUCKETS buckets,
    then called again to finish; returns both summaries."""
    from open_ocr_spark.pipeline.job import run_extraction_job

    pages = bs.pages()
    kw = dict(num_buckets=NUM_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT,
              use_mock=True)
    with traced_commits(tracer):
        with _maybe_span(tracer, "job.run_extraction_job"):
            killed = run_extraction_job(
                bs.spark, pages, out_dir, max_buckets=KILL_AFTER_BUCKETS, **kw
            )
        with _maybe_span(tracer, "job.run_extraction_job"):
            resumed = run_extraction_job(bs.spark, pages, out_dir, **kw)
    return killed, resumed


class RecrawlWorkload(_Workload):
    """A killed and resumed ``run_extraction_job`` with the mock engine
    into a fresh output directory."""

    check_cols = ["n_bytes", "status"]

    @staticmethod
    def out_dir(bs: BenchSession) -> str:
        return os.path.join(bs.work, "recrawl_out")

    def run_round(
        self, bs: BenchSession, inputs: Inputs, tracer: Tracer | None = None
    ) -> RoundOutcome:
        out = self.out_dir(bs)
        shutil.rmtree(out, ignore_errors=True)  # untimed teardown
        with _maybe_span(tracer, "round"):
            m = bs.measure(lambda: killed_and_resumed_job(bs, out, tracer))
        killed, resumed = m.result
        docs = killed["docs"] + resumed["docs"]
        problems = self.structural_problems(inputs, out, killed, resumed)
        failed = self.wrong_docs(out, inputs.expected)
        return RoundOutcome(docs, failed, problems, m.wall_s, m.cpu_s, m.py_rss_mb)

    def final_problems(self, bs: BenchSession, inputs: Inputs) -> list[str]:
        """Over the last round's output: ``read_extracted`` returns the
        expected rows, and a third call is a no-op."""
        from open_ocr_spark.pipeline.job import read_extracted, run_extraction_job

        out = self.out_dir(bs)
        problems = []
        got = digest(read_extracted(bs.spark, out), "url", *self.check_cols)
        if got != self.expected:
            problems.append(f"read_extracted digest {got}, want {self.expected}")
        third = run_extraction_job(
            bs.spark, bs.pages(), out, num_buckets=NUM_BUCKETS,
            buckets_per_commit=BUCKETS_PER_COMMIT, use_mock=True,
        )
        shutil.rmtree(out, ignore_errors=True)
        if third["buckets_processed"] or third["docs"]:
            problems.append(f"third call was not a no-op: {third}")
        return problems

    @staticmethod
    def structural_problems(inputs, out, killed, resumed) -> list[str]:
        from open_ocr_spark.pipeline.checkpoint import read_manifests, snapshot_chain

        problems = []
        if killed["buckets_processed"] != KILL_AFTER_BUCKETS:
            problems.append(f"killed call processed {killed['buckets_processed']} buckets")
        if resumed["buckets_processed"] != NUM_BUCKETS - KILL_AFTER_BUCKETS:
            problems.append(f"resume processed {resumed['buckets_processed']} buckets")
        manifest_docs = sum(m["docs_processed"] for m in read_manifests(out))
        if manifest_docs != inputs.docs:
            problems.append(f"manifests hold {manifest_docs} docs, want {inputs.docs}")
        snapshots = len(snapshot_chain(out))
        if snapshots != 2:
            problems.append(f"{snapshots} snapshots, want 2")
        return problems

    @classmethod
    def wrong_docs(cls, out: str, expected_path: str) -> int:
        """Wrong output rows, read with pyarrow straight from the job's
        parquet files (no Spark job, independent of the program's
        reader)."""
        cols = ["url", *cls.check_cols]
        got = pq.read_table(os.path.join(out, "data"), columns=cols).to_pylist()
        return wrong_rows(got, expected_path, cls.check_cols)


# why each workload was chosen is recorded in BENCHMARK.json
WORKLOADS = {
    "html_pages": ExtractionWorkload,
    "mixed_formats": ExtractionWorkload,
    "recrawl_resume": RecrawlWorkload,
}
