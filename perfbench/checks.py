"""Output checks: an overflow-safe digest per action, and an exact count
of wrong rows when a digest disagrees.

The digest is ``(count(*), bit_xor(xxhash64(cols...)))``. Unlike
``sum(xxhash64(...))``, which raises ``ARITHMETIC_OVERFLOW`` under Spark's
ANSI mode on a few hundred thousand rows, XOR never overflows; and since
every checked table holds one row per url, no two equal rows can cancel.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# statuses that mean the program itself broke, never an expected outcome
BROKEN_STATUSES = ("error:internal", "error:timeout")


@dataclass(frozen=True)
class Digest:
    rows: int
    xor: int

    @classmethod
    def from_row(cls, row) -> "Digest":
        return cls(int(row["rows"]), int(row["xor"] or 0))


def digest_columns(*cols: str | Column) -> list[Column]:
    """Aggregate expressions for a Digest over ``cols``."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("xor"),
    ]


def digest(df: DataFrame, *cols: str | Column) -> Digest:
    return Digest.from_row(df.agg(*digest_columns(*cols)).first())


def count_wrong_rows(actual: list[dict], expected: list[dict], key: str) -> int:
    """Rows of ``actual`` that differ from the expected row with the same
    key, repeat a key, or carry a broken status; plus expected keys that
    ``actual`` lacks."""
    want = {r[key]: r for r in expected}
    seen: set = set()
    bad = 0
    for r in actual:
        k = r[key]
        if k in seen or want.get(k) != r or r.get("status") in BROKEN_STATUSES:
            bad += 1
        seen.add(k)
    return bad + len(want.keys() - seen)


def wrong_rows(actual: list[dict], expected_path: str, cols: list[str]) -> int:
    """``count_wrong_rows`` against the expected parquet table, keyed by url."""
    want = pq.read_table(expected_path, columns=["url", *cols]).to_pylist()
    return count_wrong_rows(actual, want, "url")
