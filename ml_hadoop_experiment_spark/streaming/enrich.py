"""Stream-static enrichment.

Extension beyond the reference (which has no streaming): the canonical
streaming feature / dimension lookup — each micro-batch of a stream
joined to a bounded static table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_static_enrich(
    stream: DataFrame,
    static: DataFrame,
    on,
    how: str = "inner",
    broadcast_static: bool = True,
) -> DataFrame:
    """Stream-static enrichment join — each micro-batch of the stream
    joins the bounded ``static`` frame (inner / left_outer / left_semi /
    left_anti, the stream-static forms Structured Streaming supports
    with the stream on the left). STATELESS: no watermark, no state
    store — the static side is re-planned per micro-batch, so it may
    even be a slowly-refreshing table.

    ``broadcast_static=True`` hints the static side broadcast, which is
    what a dimension lookup wants at any scale (the stream side never
    shuffles); pass ``False`` for a static side too large to broadcast
    (each micro-batch then shuffle-joins — still correct, and the state
    store is still not involved).

    The left_anti form is streaming decontamination/blocklisting: stream
    rows whose key appears in the static table are dropped.
    """
    if not stream.isStreaming:
        raise ValueError("stream side must be a streaming DataFrame")
    if static.isStreaming:
        raise ValueError(
            "static side must be a batch DataFrame (use "
            "streaming.joins.interval_join for stream-stream)"
        )
    right = F.broadcast(static) if broadcast_static else static
    return stream.join(right, on, how)


__all__ = ["stream_static_enrich"]
