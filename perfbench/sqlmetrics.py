"""Spark's own per-operator SQL metrics, read after each action.

The SQL status store (``spark._jsparkSession.sharedState().statusStore()``)
keeps every execution's plan graph and its formatted metric values even
with the UI disabled. Values come as display strings (``"17.2 s"``,
``"9.4 MiB"``, ``"50,000"``, or a ``total (min, med, max ...)`` block);
``parse_value`` turns them back into numbers in base units: milliseconds
for timings, bytes for sizes, plain numbers for counts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_value(text: str) -> float | None:
    """Numeric value of one formatted metric (the total when the string
    carries a min/med/max breakdown)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        return None
    unit = m.group(2)
    if unit is not None and unit not in _UNITS:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(unit, 1.0)


def stage_of(text: str) -> int | None:
    """Stage id named in a metric's min/med/max breakdown."""
    m = _STAGE_RE.search(text)
    return int(m.group(1)) if m else None


@dataclass
class Node:
    name: str
    metrics: dict[str, str] = field(default_factory=dict)

    def value(self, metric: str) -> float:
        raw = self.metrics.get(metric)
        return (parse_value(raw) or 0.0) if raw is not None else 0.0


@dataclass
class Execution:
    id: int
    duration_s: float
    nodes: list[Node]

    def nodes_named(self, prefix: str) -> list[Node]:
        return [n for n in self.nodes if n.name.startswith(prefix)]

    def total(self, prefix: str, metric: str) -> float:
        """Sum of ``metric`` over every node whose name starts with
        ``prefix``."""
        return sum(n.value(metric) for n in self.nodes_named(prefix))


class SqlMetrics:
    """Reader over the session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return self._store.executionsList().size()

    def since(self, mark: int) -> list[Execution]:
        """Executions completed after ``mark`` (a value of ``mark()``)."""
        lst = self._store.executionsList()
        return [self._execution(lst.apply(i)) for i in range(mark, lst.size())]

    def _execution(self, ui) -> Execution:
        eid = ui.executionId()
        values = self._store.executionMetrics(eid)
        nodes = []
        it = self._store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            jnode = it.next()
            node = Node(jnode.name())
            mit = jnode.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    node.metrics[m.name()] = v.get()
            nodes.append(node)
        done = ui.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else ui.submissionTime()
        return Execution(eid, (end_ms - ui.submissionTime()) / 1e3, nodes)
