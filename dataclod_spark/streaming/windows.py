"""Structured Streaming wrappers — engine extension (SURVEY.md §2.C).

The reference has **no** streaming subsystem; these wrappers are the
engine's extension surface for the driver's ``events`` stream shape.  Each
helper takes any streaming (or batch — the transformations are identical)
DataFrame with an event-time column and returns the transformed frame; the
batch twins of these operators are oracle-checked in
``dataclod_spark.queries.events``.

* tumbling window aggregation: ``F.window`` + watermark
* session windows: ``F.session_window`` (gap-based, Spark-native)
* custom stateful ops would ride ``applyInPandasWithState`` — not needed
  for reference parity.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def tumbling_agg(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    aggs: Sequence[Column] = (),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window grouped aggregation with late-data watermark."""
    src = with_watermark(df, ts_col, watermark)
    aggs = list(aggs) or [F.count(F.lit(1)).alias("n_events")]
    return src.groupBy(F.window(ts_col, window).alias("win"), *keys).agg(*aggs)


def session_agg(
    df: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    keys: Sequence[str] = ("user_id",),
    aggs: Sequence[Column] = (),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows (the streaming twin of e1_sessionization)."""
    src = with_watermark(df, ts_col, watermark)
    aggs = list(aggs) or [F.count(F.lit(1)).alias("n_events")]
    return src.groupBy(F.session_window(ts_col, gap).alias("session"), *keys).agg(*aggs)
