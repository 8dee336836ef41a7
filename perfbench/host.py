"""Host settings and process-tree accounting read from ``/proc``.

The benchmark's CPU and memory figures cover the whole process tree of
the driver: the driver itself, the JVM it launches, and the Python
workers the JVM forks. Linux only.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


@dataclass(frozen=True)
class Host:
    """What the benchmark derives from the machine instead of assuming."""

    cores: int
    driver_memory_mb: int

    @classmethod
    def detect(cls) -> "Host":
        mem_total_mb = _meminfo_kb("MemTotal") // 1024
        # a quarter of the box for the driver JVM heap: the Python workers,
        # the page cache and the JVM's off-heap buffers share the rest
        return cls(len(os.sched_getaffinity(0)), max(1024, mem_total_mb // 4))

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def versions() -> dict:
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def spark_environment(root: str, work: str, host: Host) -> dict:
    """Environment for the driver and the workers it starts.

    ``PYTHONPATH`` must name the checkout: the Python workers unpickle the
    kernel by import path and die with ``ModuleNotFoundError`` without it.
    Spark's scratch, the JVM's temp dir and Python's temp dir all point
    inside ``work`` so a run writes nothing outside its checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    return {
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": f"{host.driver_memory_mb}m",
        "TMPDIR": tmp,
    }


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


# --- /proc process tree ----------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including children already reaped
    by a member of the tree (cutime/cstime)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def _exe_name(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB / 1024
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of the process's RSS (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def split_tree(root: int) -> tuple[list[int], list[int]]:
    """(python pids, java pids) of the tree rooted at ``root``."""
    py, jvm = [], []
    for pid in descendants(root):
        exe = _exe_name(pid)
        if exe.startswith("python"):
            py.append(pid)
        elif exe == "java":
            jvm.append(pid)
    return py, jvm


class RssSampler:
    """Background sampler of the summed RSS of the driver and its Python
    workers (the JVM is excluded: its heap swings with GC). Reports the
    peak seen while its ``with`` block runs."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_mb = 0.0

    def _sample(self) -> None:
        py, _ = split_tree(self._root)
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in py))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self.peak_mb = 0.0
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` is alive (zombies count as gone);
    return the ones still alive at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [
            p for p in alive
            if (f := _stat_fields(p)) is not None and f[0] != "Z"
        ]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return alive
