"""Structured Streaming adapters.

The reference has no streaming (SURVEY.md §2.10); these are the engine's
extensions, built so the *same* batch operators run on streams:

- ``streaming_inference`` — the inference column operator applied to a
  streaming DataFrame. ``pandas_udf`` columns work unchanged under
  Structured Streaming; artifacts broadcast once per query.
- ``foreach_batch_inference`` — a ``foreachBatch`` writer that applies any
  batch transform (e.g. ``with_inference_column``) per micro-batch and hands
  the result to a sink callback; use when the sink itself is batch-only.
- ``windowed_event_aggregates`` — watermarked tumbling-window aggregation
  for late data, the standard streaming rollup shape.
- ``session_window_aggregates`` — watermarked SESSION-window aggregation
  (``F.session_window``): gap-merged dynamic windows per key, the
  streaming twin of the batch ``operators.temporal.sessionize`` (verified
  boundary-identical: a gap of exactly ``gap`` merges, ``> gap`` splits).
"""

from __future__ import annotations

from typing import Any, Callable, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.inference import (
    InferenceFn,
    with_inference_column,
)


def streaming_inference(
    stream_df: DataFrame,
    artifacts: Any,
    input_cols: Sequence[Union[str, Column]],
    inference_fn: InferenceFn,
    output_type: str = "double",
    batch_size: int = 1024,
    output_col: str = "prediction",
) -> DataFrame:
    """Inference column on a streaming DataFrame (same operator as batch)."""
    if not stream_df.isStreaming:
        raise ValueError("stream_df is not a streaming DataFrame; use with_inference_column")
    return with_inference_column(
        stream_df,
        artifacts,
        input_cols,
        inference_fn,
        output_type=output_type,
        batch_size=batch_size,
        output_col=output_col,
    )


def foreach_batch_inference(
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function: transform each micro-batch with any
    batch operator, then hand it to ``sink(batch_df, epoch_id)``."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sink(transform(batch_df), epoch_id)

    return _process


def session_window_aggregates(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked session-window count per key: events within ``gap`` of
    each other merge into one session (state bounded by the watermark —
    sessions older than it finalize and evict, required for 24/7 streams).
    Emits (session_start, session_end, key, n_events); ``session_end`` is
    ``last event + gap`` per Spark's session-window definition."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def windowed_event_aggregates(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window count/sum per key — late rows beyond the
    watermark are dropped, state is bounded (required for 24/7 queries)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )
