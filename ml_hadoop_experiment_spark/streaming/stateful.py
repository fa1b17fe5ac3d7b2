"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming (SURVEY.md §2.10); these extensions give the
engine the stateful shapes a continuous training-data pipeline needs:

- ``stateful_dedup`` — exactly-once emission per key across micro-batches:
  the streaming counterpart of ``operators/dedup.dedup_exact``. State per
  key is a single "seen" flag, so state size is O(distinct keys) and each
  micro-batch shuffles only on the dedup key (same key-partitioning Spark
  uses for the state store — one shuffle, co-located with state).
- ``stateful_running_counts`` — per-key running count/sum emitted every
  micro-batch (monitoring-style rollups where update-mode aggregation
  would emit too coarsely or a custom emit schema is needed).

Scale posture: state lives in the executor state store (RocksDB-backed on a
real cluster via ``spark.sql.streaming.stateStore.providerClass``), keyed by
the groupBy columns, so a 1000-executor job partitions state horizontally.
No driver-side state, no collect. State never times out
(``GroupStateTimeout.NoTimeout``): that is correct for bounded key spaces
like content digests within a retention window. Dedup state for an
unbounded key universe would need a TTL, i.e. a processing-time timeout
that the state function also expires, which these operators do not
implement.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def _schema_subset(df: DataFrame, cols: Sequence[str]) -> StructType:
    fields = {f.name: f for f in df.schema.fields}
    return StructType([fields[c] for c in cols])


def stateful_dedup(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    emit_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Emit only the first row observed per key across the whole stream.

    Batch analogue: ``operators/dedup.dedup_exact`` (keep-first semantics).
    Within a single micro-batch the first row in arrival order wins; across
    micro-batches the state flag suppresses every later occurrence.
    """
    emit_cols = list(emit_cols or stream_df.columns)
    out_schema = _schema_subset(stream_df, emit_cols)

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            # key already emitted in an earlier micro-batch
            for _ in pdf_iter:
                pass
            return
        first: pd.DataFrame | None = None
        for pdf in pdf_iter:
            if len(pdf) and first is None:
                first = pdf.iloc[:1][emit_cols]
        if first is not None:
            state.update((True,))
            yield first

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_running_counts(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | None = None,
) -> DataFrame:
    """Per-key running ``count`` (and ``total`` of ``value_col`` if given),
    one output row per key per micro-batch in which the key appears."""
    key_schema = _schema_subset(stream_df, key_cols)
    out_fields = list(key_schema.fields)
    out_schema = StructType(out_fields).add("count", "long").add("total", "double")

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            if value_col is not None and len(pdf):
                total += float(pdf[value_col].sum())
        state.update((count, total))
        row = {c: [k] for c, k in zip(key_cols, key)}
        row["count"] = [count]
        row["total"] = [total]
        yield pd.DataFrame(row)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
