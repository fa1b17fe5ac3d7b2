"""Streaming deterministic bounded sampling: per-key min-k hash
priorities as stream state.

The batch engine samples deterministically with the portable integer
hash (`functions/hashing.py` — the oracle-checkable replacement for
the reference's murmur3 sampling column, reference sampling.py:15-23).
The streaming question — "keep a bounded uniform sample of the ids
seen per key, forever" — is the same hash run as BOTTOM-K: a key's
sample is the ``k`` ids with the smallest portable hash priority, a
pure function of the ID SET (not of arrival order, batch boundaries,
or duplicates), which is what makes a stateful stream sample
oracle-checkable: the DuckDB twin ranks the distinct ids by the same
hash and takes the same k. Bottom-k-by-hash is also mergeable
(min-k of a union = min-k of min-k's — the KMV argument), so the
per-batch fold is exact, not approximate.

State per key is EXACTLY ``k`` (id, priority) pairs forever — the
bounded-state property shared with the HLL registers, the histogram
counts and the Misra-Gries counters in ``streaming/sketches.py``. Emission is the
key's full current sample after every batch it appears in, tagged
with a per-key ``seq``; the whole-stream sample is the max-seq
emission (the MG convention — the sample set is not monotone per id:
ids get evicted as smaller priorities arrive).

Reference parity: criteo/ml-hadoop-experiment has no streaming
surface (SURVEY.md §2) — north-star extension, the streaming sibling
of `operators/sampling.py`'s deterministic-hash family.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..functions.hashing import _KNUTH, _OFFSET, _TWO32, PORTABLE_HASH_MOD


def portable_int_priority(value: int, salt: int = 0) -> int:
    """Python replica of ``functions.hashing.portable_int_hash`` — the
    same integers the Spark expression and the DuckDB SQL text
    compute, so all three producers rank ids identically."""
    return ((value % PORTABLE_HASH_MOD) * _KNUTH + _OFFSET + salt) % _TWO32


def stateful_priority_sample(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Per-key bottom-k-by-hash sample across the whole stream:
    ``(*key_cols, seq, id, priority)`` rows — the key's complete
    current sample after every micro-batch it appears in. Take the
    max-``seq`` emission per key for the whole-stream sample; finish
    against the batch twin ``row_number() OVER (PARTITION BY key
    ORDER BY priority, id) <= k`` over DISTINCT ids (duplicates
    collapse by construction: same id, same priority).

    The id column must be integral (the portable hash is defined on
    non-negative integers; NULL ids are ignored). The per-batch fold
    is vectorized: priorities via int64 numpy arithmetic, merge with
    the k-row state, ``nsmallest`` under the (priority, id) total
    order.
    """
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    it = stream_df.schema[id_col].dataType
    if not isinstance(it, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"stateful_priority_sample: id column {id_col!r} must be "
            f"integral, got {it.simpleString()} (the portable hash is "
            "defined on non-negative integers)"
        )
    key_fields = {f.name: f for f in stream_df.schema.fields}
    out_schema = StructType([key_fields[c] for c in key_cols])
    out_schema = (
        out_schema.add("seq", "long").add("id", "long").add("priority", "long")
    )

    def _fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, pris, seq = state.get
            cur = pd.DataFrame(
                {"id": list(ids), "pri": list(pris)}, dtype="int64"
            )
        else:
            cur, seq = pd.DataFrame({"id": [], "pri": []}, dtype="int64"), 0
        for pdf in pdf_iter:
            col = pdf[id_col].dropna()
            if len(col) == 0:
                continue
            v = col.to_numpy(dtype="int64")
            pri = ((v % PORTABLE_HASH_MOD) * _KNUTH + _OFFSET + salt) % _TWO32
            batch = pd.DataFrame({"id": v, "pri": pri})
            cur = (
                pd.concat([cur, batch])
                .drop_duplicates("id")
                .sort_values(["pri", "id"], kind="mergesort")
                .head(k)
            )
        seq += 1
        state.update(
            ([int(x) for x in cur["id"]], [int(x) for x in cur["pri"]], seq)
        )
        out = {c: [kv] * len(cur) for c, kv in zip(key_cols, key)}
        out["seq"] = [seq] * len(cur)
        out["id"] = list(cur["id"])
        out["priority"] = list(cur["pri"])
        yield pd.DataFrame(out)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType="ids array<long>, pris array<long>, seq long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
