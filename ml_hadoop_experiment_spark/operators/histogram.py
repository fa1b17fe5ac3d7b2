"""Fixed-width histogram quantiles: the mergeable, bounded-state
quantile sketch.

The engine's quantile family so far: exact ``percentile`` (the oracle
yardstick, `q_quantiles`), ``approx_percentile`` (the one-pass GK
production path, `q_quantiles_approx`), and the equi-depth histogram
(`stats.equi_depth_histogram` — boundaries FROM the data). None of
those is a state-store resident: GK summaries don't expose a
cross-engine-reproducible merge, and equi-depth boundaries shift with
every batch. The fixed-width histogram is the missing form — declare
``(lo, hi, n_bins)`` up front and the sketch is an array of
``n_bins`` integer counts: exactly mergeable (counts add), bounded
forever, and every step integer-or-IEEE-double deterministic. The
stream sketch is :func:`histogram_counts` itself run on a streaming
frame and drained in ``"update"`` mode: Spark's state store adds each
micro-batch's counts, so ``max(cnt)`` per (key, bin) over the drained
rows finishes through the SAME estimator as the batch path and
hash-matches a DuckDB replay. The trade is declared resolution: the
estimate is the LOWER EDGE of the bin holding rank ``ceil(q*N)`` —
error bounded by one bin width, the classic monitoring-quantile
posture (Prometheus histograms work this way — public knowledge).

Binning contract (shared by the Spark expression and the SQL twin):
``bin = floor(clamp((v - lo) / width, 0, n_bins - 1))`` with
``width = (hi - lo) / n_bins`` computed ONCE in Python and embedded as
the same double literal everywhere (the clamp happens in DOUBLE before
any integer cast so out-of-range values land in edge bins in every
engine rather than overflowing a cast); NULL and NaN are both skipped. Values
outside [lo, hi) clamp into the edge bins (so N counts every non-null
row and quantiles of clipped tails still resolve to the edge).

Scale shape: the batch path is one map-side bin expression + a
(key, bin) partial-aggregated count — the exchange is bounded by
``keys x n_bins`` rows, never data-sized; the finisher windows over
that bounded frame only. At 100 TB this is the cheapest quantile
answer that still merges across arbitrary repartitionings.

Reference parity: criteo/ml-hadoop-experiment has no quantile surface
(SURVEY.md §2) — north-star extension, batch and streamed.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _geometry(lo: float, hi: float, n_bins: int) -> float:
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    if n_bins < 1:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    return (float(hi) - float(lo)) / n_bins


def finite_filter(col: Column) -> Column:
    """Shared NULL/NaN predicate (True = keep) for the histogram/drift
    family — one copy of the load-bearing skip rule."""
    v = col.cast("double")
    return v.isNotNull() & ~F.isnan(v)


def finite_filter_sql(value_expr: str) -> str:
    """DuckDB twin of :func:`finite_filter`."""
    return (
        f"{value_expr} IS NOT NULL"
        f" AND NOT isnan(CAST({value_expr} AS DOUBLE))"
    )


def fixed_width_bin_sql(
    value_expr: str, lo: float, hi: float, n_bins: int
) -> str:
    """DuckDB twin of :func:`fixed_width_bin_expr` — ONE copy of the
    clamp-in-double-then-floor rule (a raw floor-then-BIGINT-cast
    raises a DuckDB Conversion Error on values Spark clamps), shared
    by the histogram and drift oracles."""
    width = _geometry(lo, hi, n_bins)
    return (
        f"CAST(floor(least(greatest((CAST({value_expr} AS DOUBLE)"
        f" - {float(lo)!r}) / {width!r}, 0.0),"
        f" {float(n_bins - 1)!r})) AS INTEGER)"
    )


def fixed_width_bin_expr(
    col: Column, lo: float, hi: float, n_bins: int
) -> Column:
    """Bin index of ``col`` under the module's binning contract —
    pure codegen, map-only. Callers must exclude NULL/NaN upstream
    (:func:`histogram_counts` does)."""
    width = _geometry(lo, hi, n_bins)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(width)
    # clamp in DOUBLE before floor/cast: a far-out-of-range value must
    # land in an edge bin in BOTH engines — floor-then-cast of a huge
    # double saturates in Spark but raises a Conversion Error in
    # DuckDB, so the cast may only ever see [0, n_bins-1].
    # floor(clamp(x)) == clamp(floor(x)) for every finite x.
    clamped = F.least(
        F.greatest(scaled, F.lit(0.0)), F.lit(float(n_bins - 1))
    )
    return F.floor(clamped).cast("int")


def histogram_counts(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """``(*key_cols, bin, cnt)`` for occupied bins — the producer of
    the sketch for :func:`quantiles_from_histogram`, batch or streamed
    (drain a streaming frame in ``"update"`` mode and finish with
    ``max(cnt)`` per (key, bin), see ``queries.q_streaming_quantiles``).
    NULL and NaN values are both skipped — NaN is NOT null in Spark,
    so the explicit isnan test is what keeps the Spark and DuckDB
    producers on one rule."""
    return (
        df.where(finite_filter(F.col(value_col)))
        .select(
            *key_cols,
            fixed_width_bin_expr(
                F.col(value_col), lo, hi, n_bins
            ).alias("bin"),
        )
        .groupBy(*key_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantiles_from_histogram(
    counts: DataFrame,
    key_cols: Sequence[str],
    lo: float,
    hi: float,
    n_bins: int,
    qs: Sequence[float],
) -> DataFrame:
    """Finish a ``(*key_cols, bin, cnt)`` sketch into
    ``(*key_cols, q, est)``: for each quantile ``q``, the LOWER EDGE
    ``lo + bin*width`` of the first bin whose cumulative count reaches
    rank ``ceil(q * N)``. Windows only over the ``keys x n_bins``
    sketch frame — never over data rows."""
    width = _geometry(lo, hi, n_bins)
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    w = Window.partitionBy(*key_cols).orderBy("bin")
    wt = Window.partitionBy(*key_cols)
    cum = counts.select(
        *key_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("tot"),
    )
    qcol = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    return (
        cum.select(*key_cols, "bin", "cum", "tot", qcol)
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("tot")))
        .groupBy(*key_cols, "q")
        .agg(
            (
                F.lit(float(lo))
                + F.min("bin").cast("double") * F.lit(width)
            ).alias("est")
        )
    )


def histogram_quantiles_sql(
    relation: str,
    key_exprs: Sequence[str],
    value_expr: str,
    lo: float,
    hi: float,
    n_bins: int,
    qs: Sequence[float],
) -> str:
    """DuckDB twin of :func:`histogram_counts` +
    :func:`quantiles_from_histogram` (same embedded double literals,
    same NULL/NaN skip, same clamp-in-double-then-floor bin rule —
    a raw floor-then-BIGINT-cast would raise a Conversion Error in
    DuckDB on values Spark clamps — same rank rule, same lower-edge
    estimate). ``key_exprs`` may be empty for a global (un-keyed)
    quantile, matching the Spark twins."""
    width = _geometry(lo, hi, n_bins)
    keys = "".join(f"{k}, " for k in key_exprs)
    part = (
        "PARTITION BY " + ", ".join(key_exprs) if key_exprs else ""
    )
    qlist = ", ".join(repr(float(q)) for q in qs)
    bin_expr = fixed_width_bin_sql(value_expr, lo, hi, n_bins)
    return f"""
WITH counts AS (
  SELECT {keys}{bin_expr} AS bin, count(*) AS cnt
  FROM {relation}
  WHERE {finite_filter_sql(value_expr)}
  GROUP BY ALL
),
cum AS (
  SELECT {keys}bin,
         sum(cnt) OVER ({part} ORDER BY bin) AS cum,
         sum(cnt) OVER ({part}) AS tot
  FROM counts
),
qs AS (SELECT unnest([{qlist}]) AS q)
SELECT {keys}q,
       {float(lo)!r} + CAST(min(bin) AS DOUBLE) * {width!r} AS est
FROM cum, qs
WHERE cum >= ceil(q * tot)
GROUP BY ALL
"""


__all__: List[str] = [
    "finite_filter",
    "finite_filter_sql",
    "fixed_width_bin_expr",
    "fixed_width_bin_sql",
    "histogram_counts",
    "histogram_quantiles_sql",
    "quantiles_from_histogram",
]
