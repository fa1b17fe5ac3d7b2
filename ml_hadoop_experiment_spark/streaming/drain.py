"""Drain a finite stream into a batch DataFrame.

Every declared streaming query, and every streaming test, turns its stream
into a result the same way: an ``availableNow`` trigger reads everything the
source holds, a ``memory`` sink collects the emitted rows, and the stream
stops by itself once the input is consumed. ``drain`` is that one path. It
fails loudly instead of returning a partial table, and leaves neither a
running query nor a sink view behind in the session.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

#: Seconds a drain may take before it is stopped and ``TimeoutError`` raised.
DRAIN_TIMEOUT_S = 300


def drain(
    stream_df: DataFrame,
    output_mode: str = "append",
    max_state_partitions: int = 8,
) -> DataFrame:
    """Run ``stream_df`` to completion and return what it emitted.

    ``output_mode`` is the sink's mode: ``"append"`` for operators that emit
    each row once, ``"complete"`` for aggregations whose final windows append
    mode would hold back for a watermark advance that never comes after the
    last micro-batch.

    ``max_state_partitions`` caps ``spark.sql.shuffle.partitions`` while the
    stream runs, restoring the session value after. One state store is
    instantiated per shuffle partition and AQE cannot resize stateful plans,
    so the partition count must be sized to the workload BEFORE the first
    checkpoint — the streaming analog of AQE's batch coalescing. Measured on
    the sf0.1 drains (local[32], min of 2, 2026-08-14): interval join
    5.8 s -> 2.2 s (round 4), rollup 1.08 -> 0.71 s, sessionize
    1.22 -> 0.89 s at cap 8 vs the 32-partition session default.

    A stream-stream join passes 4: it instantiates 4 stores per partition
    (keyToNumValues + keyWithIndexToValue, per side) where dedup and
    aggregation run one, and the drain's zero-row watermark-finalization
    batch pays a commit per store: measured 1.8 s of addBatch for 0 rows at
    cap 8 (32 stores, ``recentProgress[].durationMs``, local[32] sf0.1).
    Cap 4 holds the same ~16-store budget a single-store drain has at 8: the
    join drain fell 4.55 -> 2.70 s (min of 2 after warm), while single-store
    drains keep 8 (streaming_dedup REGRESSED 1.93 -> 2.78 s below 8, measured
    on the retired ``applyInPandasWithState`` dedup, whose per-key Python
    work wanted the parallelism). A production deployment
    sizes this by key cardinality / throughput, not a constant (BASELINE.md
    "Round-14 receipts").

    Raises ``TimeoutError`` if the stream has not finished after
    ``DRAIN_TIMEOUT_S``; an exception the stream fails with propagates. Either
    way the query is stopped and its sink view dropped. On success the view
    is dropped as well: the returned frame keeps the sink in its plan, so it
    still counts, filters and aggregates.
    """
    spark = stream_df.sparkSession
    sink = f"drain_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(int(prev), max_state_partitions))
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"stream {sink} did not drain within {DRAIN_TIMEOUT_S} s"
                )
            return spark.table(sink)
        finally:
            q.stop()  # a no-op once the stream has finished
            spark.catalog.dropTempView(sink)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
