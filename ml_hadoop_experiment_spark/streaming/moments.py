"""Whole-stream running moments (count / mean / std) per key — the
drift-monitor primitive, as a NATIVE streaming aggregation.

Like the HLL and histogram stream sketches (the batch operators in
``operators/hll.py`` and ``operators/histogram.py`` drained in update
mode), running sums are a stateful shape Structured Streaming
aggregates natively: a streaming ``groupBy().agg(count, sum, sum of
squares)`` keeps exactly three numbers of state per key in the state
store, with partial aggregation inside every micro-batch. The
Spark-first rule of this repo applies — when the engine has the
operator, use it; Python state (``streaming/sketches.py`` and
``streaming/sampling.py``) is for the order-dependent shapes it
lacks.

The exactness trick is FIXED-POINT sums: summing raw doubles is
addition-order dependent (a stream and a batch replay would disagree
in the last ulps), so values are quantized once —
``floor(v * scale + 0.5)`` (round-half-up, identical IEEE arithmetic
in Spark, numpy, and DuckDB) — and the state is three INTEGERS, which
sum exactly under any batching, partitioning, or merge order. The
finisher (:func:`moments_from_sums`) converts back to doubles in one
fixed operation order, so the streamed result hash-matches the batch
DuckDB replay (:func:`moments_sql`). The cost is declared precision:
``scale=100`` resolves cents; pick the scale that covers the column's
meaningful digits. Overflow headroom: |v*scale| up to ~3e9 keeps a
billion squared terms inside int64.

NULL, NaN, and +-Infinity values are all skipped (only finite values
quantize portably; the histogram family CLAMPS infinities into edge
bins instead because its double-domain clamp precedes any cast).
The remaining precondition is documented, not checked:
``|v| * scale`` must stay under 2^62 — a finite value past that
saturates Spark's floor-to-long while DuckDB errors.

Reference parity: criteo/ml-hadoop-experiment has no streaming surface
(SURVEY.md §2) — north-star extension.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fixed(value_col: str, scale: int):
    v = F.col(value_col).cast("double")
    return F.floor(v * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def _clean(df: DataFrame, value_col: str) -> DataFrame:
    """Keep only FINITE values: beyond the family's NULL/NaN skip,
    +-Infinity must be dropped too — floor(inf) saturates to Long.MAX
    in Spark but raises a Conversion Error in DuckDB's BIGINT cast,
    and a saturated quantization would silently poison the sums."""
    v = F.col(value_col).cast("double")
    inf = F.lit(float("inf"))
    return df.where(
        v.isNotNull() & ~F.isnan(v) & (v != inf) & (v != -inf)
    )


def moment_sums(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """``(*key_cols, n, s1, s2)`` — count and exact fixed-point
    sum / sum-of-squares. Works identically on a batch frame and on a
    stream (aggregate in ``complete`` output mode); integer sums make
    the two bit-equal under any batching."""
    if scale < 1:
        raise ValueError(f"scale must be a positive integer, got {scale}")
    f = _fixed(value_col, scale)
    return (
        _clean(df, value_col)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(f).alias("s1"),
            F.sum(f * f).alias("s2"),
        )
    )


def moments_from_sums(
    sums: DataFrame,
    key_cols: Sequence[str],
    scale: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Finish ``(keys, n, s1, s2)`` into ``(keys, n, mean, std)`` with
    one fixed double-operation order (mirrored by :func:`moments_sql`):
    ``mean = (s1/scale)/n``; ``var = (s2/scale^2)/n - mean^2``;
    ``std = sqrt(max(var, 0))`` (the max guards the tiny negative
    residue a constant column's cancellation can leave)."""
    sc = F.lit(float(scale))
    n = F.col("n").cast("double")
    mean = (F.col("s1").cast("double") / sc) / n
    var = (F.col("s2").cast("double") / (sc * sc)) / n - mean * mean
    return sums.select(
        *key_cols,
        "n",
        F.round(mean, round_digits).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), round_digits).alias(
            "std"
        ),
    )


def moments_sql(
    relation: str,
    key_exprs: Sequence[str],
    value_expr: str,
    scale: int = 100,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`moment_sums` + :func:`moments_from_sums`
    (same fixed-point quantization, same integer sums, same double
    operation order, same rounding)."""
    keys = "".join(f"{k}, " for k in key_exprs)
    s = float(scale)
    r = round_digits
    fx = (
        f"CAST(floor(CAST({value_expr} AS DOUBLE) * {s!r} + 0.5)"
        " AS BIGINT)"
    )
    return f"""
WITH sums AS (
  SELECT {keys}count(*) AS n,
         sum({fx}) AS s1,
         sum({fx} * {fx}) AS s2
  FROM {relation}
  WHERE {value_expr} IS NOT NULL
    AND isfinite(CAST({value_expr} AS DOUBLE))
  GROUP BY ALL
)
SELECT {keys}CAST(n AS BIGINT) AS n,
       round((CAST(s1 AS DOUBLE) / {s!r}) / CAST(n AS DOUBLE), {r}) AS mean,
       round(sqrt(greatest(
         (CAST(s2 AS DOUBLE) / ({s!r} * {s!r})) / CAST(n AS DOUBLE)
         - ((CAST(s1 AS DOUBLE) / {s!r}) / CAST(n AS DOUBLE))
           * ((CAST(s1 AS DOUBLE) / {s!r}) / CAST(n AS DOUBLE)),
         0.0)), {r}) AS std
FROM sums
"""


__all__: List[str] = [
    "moment_sums",
    "moments_from_sums",
    "moments_sql",
]
