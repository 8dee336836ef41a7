"""The benchmark's one Spark driver: start, restart, measure, tear down.

Every set-up, action and teardown the benchmark times goes through
``BenchSession`` so that the process-tree accounting (CPU of driver, JVM
and Python workers; RSS of driver and Python workers) wraps exactly the
interval timed.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass

from perfbench import host as hostmod
from perfbench.sqlmetrics import SqlMetrics

# rows in the "first extracted batch" that closes a set-up interval
FIRST_BATCH_ROWS = 100


@dataclass
class Measured:
    """One timed interval: wall and CPU seconds of the process tree and
    the peak summed RSS of the driver and its Python workers."""

    result: object
    wall_s: float
    cpu_s: float
    py_rss_mb: float


class BenchSession:
    def __init__(self, root: str, work: str, host: hostmod.Host, pages_dir: str):
        self.root = root
        self.work = work
        self.host = host
        self.pages_dir = pages_dir
        os.environ.update(hostmod.spark_environment(root, work, host))
        self._conf = hostmod.spark_conf(work)
        self.spark = None
        self.sql: SqlMetrics | None = None

    def pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def start(self) -> float:
        """``get_spark`` through the first extracted batch; returns its
        wall seconds. Launches the JVM on the first call only."""
        from open_ocr_spark.pipeline.job import extraction_plan
        from open_ocr_spark.pipeline.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=self.host.master, extra_conf=self._conf
        )
        extraction_plan(self.pages().limit(FIRST_BATCH_ROWS)).collect()
        elapsed = time.perf_counter() - t0
        self.sql = SqlMetrics(self.spark)
        return elapsed

    def restart(self) -> float:
        """Stop the session and set it up again in the same JVM: a fresh
        SparkContext, fresh Python workers and their imports."""
        self.spark.stop()
        return self.start()

    def measure(self, action) -> Measured:
        pid = os.getpid()
        with hostmod.RssSampler(pid) as rss:
            cpu0 = hostmod.tree_cpu_s(pid)
            t0 = time.perf_counter()
            result = action()
            wall = time.perf_counter() - t0
            cpu1 = hostmod.tree_cpu_s(pid)
        return Measured(result, wall, cpu1 - cpu0, rss.peak_mb)

    def jvm_peak_rss_mb(self) -> float:
        _, jvm = hostmod.split_tree(os.getpid())
        return sum(hostmod.peak_rss_mb(p) for p in jvm)

    def close(self) -> None:
        """Stop Spark, end the JVM and wait until every process this run
        started has exited."""
        from pyspark import SparkContext

        children = hostmod.descendants(os.getpid())[1:]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        for pid in hostmod.wait_gone(children, timeout_s=20):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        hostmod.wait_gone(children, timeout_s=10)
