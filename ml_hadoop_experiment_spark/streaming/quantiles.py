"""Streaming quantiles: fixed-width histogram counts as stream state.

The streaming sibling of ``operators/histogram.histogram_counts``,
completing the pattern ``streaming/sketches`` established for HLL and
Misra-Gries: a bounded, mergeable per-key summary lives in the state
store, each micro-batch folds in at C speed, and the drained emissions
finish through the SAME estimator as the batch path — so a stateful
streaming quantile is oracle-checkable bit-for-bit against a batch
DuckDB replay (``operators.histogram.histogram_quantiles_sql``).

Exactness chain: the bin index is
``clamp(floor((v - lo) / width), 0, n_bins - 1)`` in IEEE doubles —
computed here with numpy float64 over Arrow batches, in the batch
operator as a Spark expression, and in the oracle as DuckDB SQL, with
``width`` embedded as the same Python double everywhere; identical
inputs, identical bins. Counts are integers and only ADD, so the
per-(key, bin) count is monotone across emissions — the whole-stream
sketch is ``max(cnt)`` per (key, bin) over the drained sink, exactly
the HLL max-merge finish.

Scale shape: state per key is exactly ``n_bins`` longs forever (8 KiB
at n_bins=1000) no matter how many values stream past — the property
that keeps quantile state viable in a state store, where exact
per-value state grows without bound. Emission is at most the occupied
bin count per key per batch.

Reference parity: criteo/ml-hadoop-experiment has no streaming surface
(SURVEY.md §2) — north-star extension.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..operators.histogram import _geometry


def _check_numeric(stream_df: DataFrame, value_col: str, op: str) -> None:
    """The fold runs float64 arithmetic; admit only numeric columns
    (decimal would lose its exactness promise through the
    Arrow->float64 crossing, so it is refused too — cast upstream and
    accept double semantics explicitly)."""
    from pyspark.sql.types import NumericType, DecimalType

    vt = stream_df.schema[value_col].dataType
    if not isinstance(vt, NumericType) or isinstance(vt, DecimalType):
        raise TypeError(
            f"{op}: value column {value_col!r} must be a non-decimal"
            f" numeric type, got {vt.simpleString()}"
        )


def stateful_histogram(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1000,
) -> DataFrame:
    """Per-key fixed-width histogram across the whole stream:
    ``(*key_cols, bin, cnt)`` rows for occupied bins, emitted after
    every micro-batch the key appears in, with the ``n_bins`` count
    array as the per-key state. NULL and NaN values are both skipped
    (pandas ``dropna`` drops both), matching the batch operator's
    explicit NULL-and-isnan filter.

    Finish with ``max(cnt)`` per (key, bin) over the drained sink
    (counts only grow), then
    ``operators.histogram.quantiles_from_histogram`` — see
    ``queries.q_streaming_quantiles``.
    """
    width = _geometry(lo, hi, n_bins)
    _check_numeric(stream_df, value_col, "stateful_histogram")
    key_fields = {f.name: f for f in stream_df.schema.fields}
    out_schema = StructType([key_fields[c] for c in key_cols])
    out_schema = out_schema.add("bin", "integer").add("cnt", "long")
    flo = float(lo)

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (counts,) = state.get if state.exists else ([0] * n_bins,)
        counts = np.asarray(counts, dtype="int64")
        for pdf in pdf_iter:
            vals = pdf[value_col].dropna().to_numpy(dtype="float64")
            if len(vals) == 0:
                continue
            # clip BEFORE the integer cast (same order as the batch
            # expression's long-domain clamp)
            bins = np.clip(
                np.floor((vals - flo) / width), 0, n_bins - 1
            ).astype("int64")
            counts = counts + np.bincount(bins, minlength=n_bins)
        state.update((counts.tolist(),))
        occ = np.flatnonzero(counts)
        row = {c: [k] * len(occ) for c, k in zip(key_cols, key)}
        row["bin"] = occ.astype("int32")
        row["cnt"] = counts[occ]
        yield pd.DataFrame(row)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType="counts array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
