"""Sessionization over `events`: assign session ids by inactivity gap.

Two implementations with identical output:
- sessionize_events:        pure Catalyst (lag + windowed cumsum) — the
                            scale path, whole-stage-codegen'd, shuffles
                            once on user_id.
- sessionize_events_grouped: applyInPandas grouped-map form — the
                            "custom per-key imperative logic" escape hatch
                            (SURVEY §2.B UDF surface); kept for parity
                            testing and as the template for kernels that
                            genuinely can't be expressed relationally.

The streaming twin (state across micro-batches) lives in
open_ocr_spark.streaming.running_user_counts_stateful.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 1800


def sessionize_events(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """(user_id, session_id, n_events, sum_value, start_epoch, end_epoch):
    a new session starts when the gap to the previous event exceeds
    ``gap_seconds``. Deterministic ordering ties on event_id."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # floored epoch seconds: TIMESTAMP_NTZ has no double cast under ANSI,
    # and flooring both engines identically keeps the oracle exact
    ts_d = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev = F.lag(ts_d).over(w)
    new_sess = F.when(
        prev.isNull() | ((ts_d - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = events.withColumn("_new", new_sess).withColumn(
        "session_id", F.sum("_new").over(cum)
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min(ts_d).cast("long").alias("start_epoch"),
            F.max(ts_d).cast("long").alias("end_epoch"),
        )
        .orderBy("user_id", "session_id")
    )


def sessionize_events_grouped(
    events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS
) -> DataFrame:
    """Same semantics via applyInPandas: one pandas frame per user_id.
    Arrow-batched; no per-row Python on the Spark side."""

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # normalize to ns first (Arrow may hand pandas datetime64[us])
        secs = pdf["ts"].astype("datetime64[ns]").astype("int64") // 10**9
        gaps = secs.diff()
        new_sess = (gaps.isna() | (gaps > gap_seconds)).astype("int64")
        pdf["session_id"] = new_sess.cumsum()
        grouped = pdf.groupby("session_id", as_index=False).agg(
            user_id=("user_id", "first"),
            n_events=("event_id", "count"),
            sum_value=("value", "sum"),
            start_epoch=("ts", "min"),
            end_epoch=("ts", "max"),
        )
        grouped["sum_value"] = grouped["sum_value"].round(4)
        grouped["start_epoch"] = (
            grouped["start_epoch"].astype("datetime64[ns]").astype("int64")
            // 10**9
        )
        grouped["end_epoch"] = (
            grouped["end_epoch"].astype("datetime64[ns]").astype("int64")
            // 10**9
        )
        return grouped[
            ["user_id", "session_id", "n_events", "sum_value",
             "start_epoch", "end_epoch"]
        ]

    out_schema = (
        "user_id long, session_id long, n_events long, sum_value double, "
        "start_epoch long, end_epoch long"
    )
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(assign, out_schema)
    )
