"""Streaming heavy hitters: Misra-Gries counter state over micro-batches.

The batch operator (``operators/heavy_hitters.mg_candidates``) bounds
"which values are frequent" with a Misra-Gries summary of ``capacity``
counters per partition. The streaming question — heavy users per event
type over an unbounded stream — is the same summary with the counters
living in the STATE STORE: per key, each micro-batch folds in through
the batch operator's own step (``operators.heavy_hitters._mg_fold``),
and the operator emits the key's complete summary after every batch.

Python state, not a native aggregate: a Misra-Gries summary depends on
arrival order (counters shrink and tokens drop at truncation), so no
update-mode ``groupBy`` reproduces it. The order-free stream sketches
need no such operator — the HLL and histogram streams are the batch
operators ``operators/hll.hll_register_rows`` and
``operators/histogram.histogram_counts`` drained in ``"update"`` mode.

Scale shape: state per key is at most ``capacity`` counters forever,
no matter how many values stream past — the property that keeps
frequency state viable in a state store, where exact per-value counts
grow with cardinality.

Reference parity: criteo/ml-hadoop-experiment has no streaming surface
(SURVEY.md §2) — north-star extension, same tier as streaming/
inference/stateful/joins/enrich.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from ..operators.heavy_hitters import _mg_fold


def stateful_heavy_hitters(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    capacity: int = 4096,
) -> DataFrame:
    """Per-key Misra-Gries heavy-hitter candidates across the whole
    stream — the streaming sibling of
    ``operators.heavy_hitters.mg_candidates``, with the bounded counter
    map as the per-key state (at most ``capacity`` counters per key
    FOREVER, the property that keeps frequency state viable in a state
    store where exact per-value counts grow with cardinality).

    Emits the key's complete current summary after every micro-batch it
    appears in: ``(*key_cols, seq, token, mg_count)``, where ``seq`` is
    the per-key emission number — MG counts are NOT monotone per token
    (counters shrink and tokens drop at truncation), so the
    whole-stream summary is the rows of ``max(seq)`` per key, NOT a
    max-merge. Each batch folds in through the batch operator's
    ``_mg_fold`` (the mergeable-summaries reduction of Agarwal et al.,
    PODS'12), so any token with true in-stream count >
    N_key/(capacity+1) is guaranteed to survive in the final summary,
    whatever the batch boundaries.

    Candidates, not counts: mg_count is an undercount (by at most
    N_key/(capacity+1)); finish the pipeline like the batch operator —
    broadcast the final summary's tokens against the stored stream and
    recount exactly (see ``queries.q_streaming_heavy_hitters``). When
    ``capacity`` exceeds the key's distinct-value count the summary
    never truncates and mg_count is already exact.

    Value typing: tokens must stringify like Spark's
    ``CAST(value AS STRING)``, so only string and integral value
    columns are accepted (checked against the STREAM SCHEMA at
    construction — float/bool/decimal would render differently in the
    pandas fold, e.g. ``1.5`` -> ``"1"``, ``true`` -> ``"1"``, and
    silently diverge from the exact recount; cast to string upstream
    instead). NULL values are ignored.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be positive, got {capacity}")
    vt = stream_df.schema[value_col].dataType
    if not isinstance(
        vt, (StringType, ByteType, ShortType, IntegerType, LongType)
    ):
        raise TypeError(
            f"stateful_heavy_hitters: value column {value_col!r} must be"
            f" string or integral, got {vt.simpleString()}; float/bool/"
            "decimal stringify differently here than Spark's"
            " CAST(value AS STRING) — cast to string upstream instead"
        )
    key_fields = {f.name: f for f in stream_df.schema.fields}
    out_schema = StructType([key_fields[c] for c in key_cols])
    out_schema = (
        out_schema.add("seq", "long")
        .add("token", "string")
        .add("mg_count", "long")
    )

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            toks, cnts, seq = state.get
            s = pd.Series(list(cnts), index=list(toks), dtype="int64")
        else:
            s, seq = pd.Series(dtype="int64"), 0
        for pdf in pdf_iter:
            col = pdf[value_col].dropna()
            # vectorized stringify: the schema guard admits only
            # string/integral columns; int64 round-trip undoes Arrow's
            # nullable-int -> float64 widening
            if col.dtype.kind in ("i", "u", "f"):
                col = col.astype("int64")
            s = _mg_fold(s, col.astype(str), capacity)
        s = s.astype("int64")
        seq += 1
        state.update(
            ([str(t) for t in s.index], [int(x) for x in s.values], seq)
        )
        out = {c: [k] * len(s) for c, k in zip(key_cols, key)}
        out["seq"] = [seq] * len(s)
        out["token"] = list(s.index.astype(str))
        out["mg_count"] = list(s.values)
        yield pd.DataFrame(out)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=(
            "tokens array<string>, counts array<long>, seq long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
