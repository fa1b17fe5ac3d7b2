"""Streaming sketches: HLL distinct-count state over micro-batches.

The batch HLL (``operators/hll.py``) answers "how many distinct" with
``m = 2^p`` max-merged registers. The streaming question — distinct
users per event type over an unbounded stream — is the same sketch
with the registers living in the STATE STORE: per key, a dense
``m``-int register array folds each micro-batch in (max-merge, the
property that makes HLL mergeable), and the operator emits the
occupied ``(key, register, M)`` rows after every batch. Registers only
grow, so the LAST emission per (key, register) — equivalently
``max(M)`` over all emissions — is the whole-stream sketch, and the
caller finishes it through the SAME estimator expression as the batch
path (``operators.hll.estimate_from_register_rows``), keeping the
result oracle-checkable bit-for-bit against a batch DuckDB replay
(``operators.hll.hll_keyed_estimate_sql``).

Exactness chain: the register index and rho are integer string
functions of ``md5(str(value))`` — computed here in Python (hashlib)
over Arrow batches, in the batch operator as Spark expressions, and in
the oracle as DuckDB SQL; md5 is md5, and the parse is the same nibble
arithmetic, so all three producers build IDENTICAL integer registers.
The only floats are in the shared final estimator.

Scale shape: state per key is exactly ``m`` ints (1 KiB at p=8) no
matter how many values stream past — the property that makes
distinct-count viable in a state store at all (exact distinct state
grows with cardinality and gets evicted or OOMs). Emission is at most
``m`` rows per key per batch.

Reference parity: criteo/ml-hadoop-experiment has no streaming surface
(SURVEY.md §2) — north-star extension, same tier as streaming/
inference/stateful/joins/enrich.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..operators.hll import RHO_CAP, _check_p


def register_and_rho(value: str, p: int) -> Tuple[int, int]:
    """Python replica of ``operators.hll.hll_register_rows``'s parse:
    (register, rho) of one value — register from the first p/4 md5 hex
    nibbles, rho = 1 + leading zero bits of the rest, clamped at
    ``RHO_CAP``. Shared by the streaming fold and its tests."""
    d = hashlib.md5(value.encode("utf-8")).hexdigest()
    nib = p // 4
    reg = int(d[:nib], 16)
    rest = d[nib:]
    stripped = rest.lstrip("0")
    zn = len(rest) - len(stripped)
    v = int((stripped + "f")[0], 16)
    intra = 0 if v >= 8 else 1 if v >= 4 else 2 if v >= 2 else 3
    return reg, min(zn * 4 + intra + 1, RHO_CAP)


def _check_value_type(stream_df: DataFrame, value_col: str, op: str) -> None:
    """Value columns must stringify like Spark's ``CAST(v AS STRING)``:
    only string and integral types are admitted — float/bool/decimal
    would render differently in the Python fold (``1.5`` -> ``"1"``,
    ``true`` -> ``"1"``) and silently diverge from the batch operators
    and their DuckDB oracles."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    vt = stream_df.schema[value_col].dataType
    if not isinstance(
        vt, (StringType, ByteType, ShortType, IntegerType, LongType)
    ):
        raise TypeError(
            f"{op}: value column {value_col!r} must be string or integral,"
            f" got {vt.simpleString()}; float/bool/decimal stringify"
            " differently here than Spark's CAST(value AS STRING) — cast"
            " to string upstream instead"
        )


def stateful_hll_distinct(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-key HLL registers across the whole stream:
    ``(*key_cols, register, M)`` rows emitted after every micro-batch
    in which the key appears — the streaming sibling of
    ``operators.hll.hll_register_rows``, with the register array as
    the per-key state. Values must stringify like Spark's
    ``CAST(value AS STRING)``: only string and integral value columns
    are accepted (checked against the STREAM SCHEMA at construction —
    float/bool/decimal would render differently here than Spark's cast,
    e.g. ``1.5`` -> ``"1"``, ``true`` -> ``"1"``, and silently diverge
    from the batch operator and its DuckDB oracle; cast to string
    upstream instead). NULL values are ignored, matching the batch
    operator.

    Finish with ``max(M)`` per (key, register) over the drained sink,
    then ``operators.hll.estimate_from_register_rows`` — see
    ``queries.q_streaming_distinct``.
    """
    _check_p(p)
    _check_value_type(stream_df, value_col, "stateful_hll_distinct")
    m = 1 << p
    key_fields = {f.name: f for f in stream_df.schema.fields}
    out_schema = StructType([key_fields[c] for c in key_cols])
    out_schema = out_schema.add("register", "integer").add("M", "integer")

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (regs,) = state.get if state.exists else ([0] * m,)
        regs = list(regs)
        for pdf in pdf_iter:
            for v in pdf[value_col]:
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    continue
                # schema guard above admits only string/integral columns;
                # int() undoes Arrow's nullable-int -> float64 widening
                s = v if isinstance(v, str) else str(int(v))
                reg, rho = register_and_rho(s, p)
                if rho > regs[reg]:
                    regs[reg] = rho
        state.update((regs,))
        occupied = [(j, mj) for j, mj in enumerate(regs) if mj > 0]
        row = {c: [k] * len(occupied) for c, k in zip(key_cols, key)}
        row["register"] = [j for j, _ in occupied]
        row["M"] = [mj for _, mj in occupied]
        yield pd.DataFrame(row)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType="regs array<integer>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
    max-merge. Each batch folds in with pandas ``value_counts``
    (C-speed, no per-row Python) and re-bounds by the
    mergeable-summaries reduction (Agarwal et al., PODS'12): subtract
    the (capacity+1)-th largest count, keep positives — so any token
    with true in-stream count > N_key/(capacity+1) is guaranteed to
    survive in the final summary, whatever the batch boundaries.

    Candidates, not counts: mg_count is an undercount (by at most
    N_key/(capacity+1)); finish the pipeline like the batch operator —
    broadcast the final summary's tokens against the stored stream and
    recount exactly (see ``queries.q_streaming_heavy_hitters``). When
    ``capacity`` exceeds the key's distinct-value count the summary
    never truncates and mg_count is already exact.

    Value typing: same construction-time guard as
    :func:`stateful_hll_distinct` (string/integral only).
    """
    if capacity < 1:
        raise ValueError(f"capacity must be positive, got {capacity}")
    _check_value_type(stream_df, value_col, "stateful_heavy_hitters")
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
            if len(col) == 0:
                continue
            # vectorized stringify: the schema guard admits only
            # string/integral columns; int64 round-trip undoes Arrow's
            # nullable-int -> float64 widening
            if col.dtype.kind in ("i", "u", "f"):
                vals = col.astype("int64").astype(str)
            else:
                vals = col.astype(str)
            vc = vals.value_counts()
            s = vc if s.empty else s.add(vc, fill_value=0)
            if len(s) > capacity:
                thr = s.nlargest(capacity + 1).iloc[-1]
                s = s[s > thr] - thr
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
