"""Stateful streaming operators on Spark's native state store.

The reference has no streaming (SURVEY.md §2.10); these extensions give the
engine the stateful shapes a continuous training-data pipeline needs:

- ``stateful_dedup`` — exactly-once emission per key across micro-batches:
  the streaming counterpart of ``operators/dedup.dedup_exact``. A streaming
  ``dropDuplicates`` keeps one key row per distinct key, so state size is
  O(distinct keys) and each micro-batch shuffles only on the dedup key (the
  same key-partitioning the state store uses — one shuffle, co-located with
  state).
- ``stateful_running_counts`` — per-key running count/sum emitted every
  micro-batch: an update-mode streaming aggregation.

State lives in Spark's own state store, inside the JVM: no row and no key
crosses into a Python worker (the executed plans hold a
``StreamingDeduplicate`` and a ``StateStoreSave``, no Python node). On a
real cluster the store is RocksDB-backed via
``spark.sql.streaming.stateStore.providerClass``, keyed by the key columns,
so a 1000-executor job partitions state horizontally. No driver-side state,
no collect.

Checkpoints written by the earlier version of these operators, which kept
state through a per-key Python function and ``GroupState``, cannot be
resumed by them: the state schema differs (a ``seen`` flag or a
``count``/``total`` pair then; the key row and Spark's aggregation buffer
now). Start such a query from a fresh checkpoint.

State never expires, which is correct for bounded key spaces like content
digests within a retention window. For an unbounded key universe, Spark's
``dropDuplicatesWithinWatermark`` is the bounded-state route: it drops a key
once the event-time watermark passes it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stateful_dedup(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    emit_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Emit only the first row observed per key across the whole stream.

    Batch analogue: ``operators/dedup.dedup_exact`` (keep-first semantics).
    Within a single micro-batch the first row in arrival order wins; across
    micro-batches the stored key suppresses every later occurrence.
    """
    emit_cols = list(emit_cols or stream_df.columns)
    return stream_df.dropDuplicates(list(key_cols)).select(*emit_cols)


def stateful_running_counts(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | None = None,
) -> DataFrame:
    """Per-key running ``count`` (and ``total`` of ``value_col`` if given,
    else 0.0), one output row per key per micro-batch in which the key
    appears. Drain it in ``"update"`` output mode."""
    value = F.col(value_col).cast("double") if value_col else F.lit(0.0)
    return stream_df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("count"),
        F.coalesce(F.sum(value), F.lit(0.0)).alias("total"),
    )
