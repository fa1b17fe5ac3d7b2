"""HyperLogLog distinct-count sketch with an est-vs-truth audit.

The third sketch family next to KMV and Count-Min (both in
``operators/sketches.py``): KMV answers "how many distinct" by
keeping the k minimum hashes (k-sized state), Count-Min answers "how
often each" with a depth×width counter table; HLL answers "how many
distinct" with ``m = 2^p`` one-byte registers — the industry-standard
shape (Flajolet et al. 2007, public literature) because its state is
CONSTANT (256 registers at p=8) and its registers merge by max, so
partial aggregation is free map-side combine. At 100 TB the exchange
is bounded by ``m`` register rows regardless of corpus size — the same
bounded-collect contract as the CMS counter table.

Cross-engine determinism (the repo's round-then-exact-sum discipline):
the register index and the rank rho are pure string functions of the
row's md5 hex digest — ascii nibble decoding both engines compute
identically — the harmonic sum is taken over EXACT integers
``2^(RHO_CAP - M_j)`` (every term a power of two, summed as BIGINT),
and the only floating steps are one division, one optional ln on
identical IEEE inputs, and one final round. The oracle twin replays
the identical estimator in DuckDB SQL, so the driver gate checks the
ESTIMATE bit-for-bit, not just the exact count.

Reference parity: criteo/ml-hadoop-experiment has no sketch surface
(SURVEY.md §2) — north-star extension surface for corpus statistics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: rho is clamped here so the harmonic terms 2^(RHO_CAP - rho) stay
#: exact BIGINTs with headroom: max term 2^39, and even all-m of them
#: sum to m * 2^39 << 2^63. P(rho > 40) = 2^-40 per distinct value —
#: the clamp is unreachable in practice and identical on both engines.
RHO_CAP = 40


def _alpha(m: int) -> float:
    """Bias-correction constant (Flajolet et al. 2007, m >= 128)."""
    return 0.7213 / (1.0 + 1.079 / m)


def _nibble_val(c: Column) -> Column:
    """Value 0-15 of one lowercase md5 hex char: '0'-'9' are ascii
    48-57, 'a'-'f' are 97-102 — one compare + one subtract, the same
    trick as dedup.py's simhash bit votes."""
    a = F.ascii(c)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def _nibble_val_sql(char_expr: str) -> str:
    return (
        f"(CASE WHEN ascii({char_expr}) >= 97 THEN ascii({char_expr}) - 87"
        f" ELSE ascii({char_expr}) - 48 END)"
    )


def _check_p(p: int) -> None:
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")


def hll_register_rows(
    df: DataFrame,
    value_col: Column,
    p: int = 8,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """``(*key_cols, register, M)`` rows — one per OCCUPIED register of
    each key, ``M`` = max rho of the key's values hashing there. The
    whole sketch: a groupBy over at most ``keys x 2^p`` groups
    (map-side combine does the real work; the exchange moves at most
    ``m`` rows per key however large the input).

    On a streaming frame this is the stream sketch too: drained in
    ``"update"`` mode, Spark's state store keeps the max-merged
    registers and each micro-batch emits the registers it raised, so
    ``max(M)`` per (key, register) over the drained rows is the
    whole-stream sketch (see ``queries.q_streaming_distinct``).

    register = value of the first p/4 md5 hex nibbles; rho = 1 + the
    number of leading zero BITS of the remaining nibbles (clamped at
    ``RHO_CAP``): zero-nibble count via a regexp anchor, plus the
    intra-nibble leading zeros of the first non-zero nibble by value
    class — every step a string/CASE expression both engines evaluate
    identically.
    """
    _check_p(p)
    nib = p // 4
    digest = F.md5(value_col.cast("string"))
    reg = F.lit(0)
    for i in range(nib):
        reg = reg * 16 + _nibble_val(F.substring(digest, i + 1, 1))
    rest = F.substring(digest, nib + 1, 32 - nib)
    zn = F.length(F.regexp_extract(rest, "^(0*)", 1))
    # the trailing 'f' sentinel makes the all-zero tail well-defined
    # (rho then clamps at RHO_CAP anyway)
    first = F.substring(F.concat(rest, F.lit("f")), zn + 1, 1)
    v = _nibble_val(first)
    intra = (
        F.when(v >= 8, F.lit(0))
        .when(v >= 4, F.lit(1))
        .when(v >= 2, F.lit(2))
        .otherwise(F.lit(3))
    )
    rho = F.least(zn * 4 + intra + 1, F.lit(RHO_CAP))
    return (
        df.where(value_col.isNotNull())
        .select(*key_cols, reg.alias("register"), rho.alias("rho"))
        .groupBy(*key_cols, "register")
        .agg(F.max("rho").alias("M"))
    )


def estimate_from_register_rows(
    regs: DataFrame, p: int, key_cols: Sequence[str] = ()
) -> DataFrame:
    """The estimator half of the sketch, separated so ANY producer of
    ``(*key_cols, register, M)`` rows — :func:`hll_register_rows` over a
    table, or the max-merged rows it emitted as an update-mode stream —
    finishes through the identical arithmetic: exact BIGINT harmonic sum,
    one double division, the linear-counting correction branch, one
    round. Returns ``(*key_cols, n_est)`` (one global row when
    ``key_cols`` is empty)."""
    _check_p(p)
    m = 1 << p
    term = F.expr(f"shiftleft(cast(1 as bigint), {RHO_CAP} - M)")
    aggs = [
        F.coalesce(F.sum(term), F.lit(0).cast("bigint")).alias("__s"),
        F.count(F.lit(1)).alias("__occupied"),
    ]
    agg = regs.groupBy(*key_cols).agg(*aggs) if key_cols else regs.agg(*aggs)
    zeros = F.lit(m) - F.col("__occupied")
    s_total = (
        F.col("__s")
        + zeros.cast("bigint") * F.lit(1 << RHO_CAP).cast("bigint")
    ).cast("double")
    raw = F.lit(_alpha(m) * m * m * float(1 << RHO_CAP)) / s_total
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(*key_cols, F.round(est, 4).alias("n_est"))


def hll_estimate(df: DataFrame, value_col: Column, p: int = 8) -> DataFrame:
    """One-row ``(n_est,)`` HLL cardinality estimate of the distinct
    non-null values of ``value_col``.

    raw = alpha_m * m^2 / sum_j 2^-M_j (absent registers contribute
    M_j = 0); small-range correction (raw <= 2.5m with empty registers)
    switches to linear counting m * ln(m / V). The harmonic sum is the
    exact BIGINT ``sum 2^(RHO_CAP - M_j)`` scaled back by 2^RHO_CAP in
    one double division, so both engines feed ln/divide the same IEEE
    doubles. Collect shape: the final agg reduces the <= m register
    rows to ONE row.
    """
    return estimate_from_register_rows(
        hll_register_rows(df, value_col, p), p
    )


def hll_audit(df: DataFrame, value_col: Column, p: int = 8) -> DataFrame:
    """Est-vs-truth audit row ``(n_exact, n_est, rel_err)`` — the same
    observability contract as ``cms_topk_audit`` and ``kmv_distinct``:
    the sketch ships WITH its ground truth so a driver gate (or a
    production canary at sample scale) checks the estimator itself,
    not just that a number came out. Expected |rel_err| ~ 1.04/sqrt(m)
    (~6.5% at p=8). The exact side is one distinct-count aggregate; at
    audit time that cost is the point — production reads drop it and
    keep the register-bounded sketch only."""
    est = hll_estimate(df, value_col, p)
    exact = df.agg(F.count_distinct(value_col).alias("n_exact"))
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        "n_est",
        F.round(
            (F.col("n_est") - F.col("n_exact"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_err"),
    )


def hll_audit_sql(relation: str, value_expr: str, p: int = 8) -> str:
    """DuckDB twin of :func:`hll_audit`: identical digest nibble
    decoding, identical exact-integer harmonic sum, identical
    correction branch and rounding."""
    _check_p(p)
    m = 1 << p
    alpha = _alpha(m)
    nib = p // 4
    digest = f"md5(CAST({value_expr} AS VARCHAR))"
    reg_terms = " + ".join(
        f"{_nibble_val_sql(f'substring(d, {i + 1}, 1)')} * {16 ** (nib - 1 - i)}"
        for i in range(nib)
    )
    rest = f"substring(d, {nib + 1}, {32 - nib})"
    scale = f"(CAST(1 AS BIGINT) << {RHO_CAP})"
    # CAST the float literals: DuckDB parses bare decimal literals as
    # DECIMAL, which overflows in the multiplication chain and would
    # diverge from Spark's double arithmetic anyway
    num = (
        f"(CAST({alpha!r} AS DOUBLE) * {m} * {m}"
        f" * CAST({float(1 << RHO_CAP)!r} AS DOUBLE))"
    )
    raw = f"({num} / CAST(s + ({m} - occupied) * {scale} AS DOUBLE))"
    return f"""
WITH vals AS (
  SELECT {digest} AS d FROM {relation} WHERE {value_expr} IS NOT NULL
),
parsed AS (
  SELECT ({reg_terms}) AS register,
         length(regexp_extract({rest}, '^(0*)', 1)) AS zn,
         substring({rest} || 'f',
                   length(regexp_extract({rest}, '^(0*)', 1)) + 1, 1) AS c
  FROM vals
),
rhos AS (
  SELECT register,
         least(zn * 4 + (CASE
             WHEN {_nibble_val_sql('c')} >= 8 THEN 0
             WHEN {_nibble_val_sql('c')} >= 4 THEN 1
             WHEN {_nibble_val_sql('c')} >= 2 THEN 2
             ELSE 3 END) + 1, {RHO_CAP}) AS rho
  FROM parsed
),
regs AS (SELECT register, max(rho) AS M FROM rhos GROUP BY register),
agg AS (
  SELECT coalesce(sum(CAST(1 AS BIGINT) << ({RHO_CAP} - M)), 0) AS s,
         count(*) AS occupied
  FROM regs
),
est AS (
  SELECT round(
    CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND ({m} - occupied) > 0
         THEN CAST({m} AS DOUBLE)
              * ln(CAST({m} AS DOUBLE) / CAST({m} - occupied AS DOUBLE))
         ELSE {raw}
    END, 4) AS n_est
  FROM agg
)
SELECT ex.n_exact, est.n_est,
       round((est.n_est - ex.n_exact) / CAST(ex.n_exact AS DOUBLE), 4)
         AS rel_err
FROM (SELECT count(DISTINCT {value_expr}) AS n_exact FROM {relation}) ex,
     est
"""


def hll_keyed_estimate_sql(
    relation: str,
    key_expr: str,
    value_expr: str,
    p: int = 8,
    out_key: str = "key",
) -> str:
    """DuckDB twin of ``estimate_from_register_rows`` over per-key
    register rows built from ``relation`` — the oracle for the keyed
    HLL, batch or streamed (``queries.q_streaming_distinct``): same
    nibble decoding, same exact-integer harmonic sum and correction
    branch, per key."""
    _check_p(p)
    m = 1 << p
    alpha = _alpha(m)
    nib = p // 4
    digest = f"md5(CAST({value_expr} AS VARCHAR))"
    reg_terms = " + ".join(
        f"{_nibble_val_sql(f'substring(d, {i + 1}, 1)')} * {16 ** (nib - 1 - i)}"
        for i in range(nib)
    )
    rest = f"substring(d, {nib + 1}, {32 - nib})"
    scale = f"(CAST(1 AS BIGINT) << {RHO_CAP})"
    num = (
        f"(CAST({alpha!r} AS DOUBLE) * {m} * {m}"
        f" * CAST({float(1 << RHO_CAP)!r} AS DOUBLE))"
    )
    raw = f"({num} / CAST(s + ({m} - occupied) * {scale} AS DOUBLE))"
    return f"""
WITH vals AS (
  SELECT {key_expr} AS k, {digest} AS d
  FROM {relation} WHERE {value_expr} IS NOT NULL
),
parsed AS (
  SELECT k, ({reg_terms}) AS register,
         length(regexp_extract({rest}, '^(0*)', 1)) AS zn,
         substring({rest} || 'f',
                   length(regexp_extract({rest}, '^(0*)', 1)) + 1, 1) AS c
  FROM vals
),
rhos AS (
  SELECT k, register,
         least(zn * 4 + (CASE
             WHEN {_nibble_val_sql('c')} >= 8 THEN 0
             WHEN {_nibble_val_sql('c')} >= 4 THEN 1
             WHEN {_nibble_val_sql('c')} >= 2 THEN 2
             ELSE 3 END) + 1, {RHO_CAP}) AS rho
  FROM parsed
),
regs AS (SELECT k, register, max(rho) AS M FROM rhos GROUP BY k, register),
agg AS (
  SELECT k,
         coalesce(sum(CAST(1 AS BIGINT) << ({RHO_CAP} - M)), 0) AS s,
         count(*) AS occupied
  FROM regs GROUP BY k
)
SELECT k AS {out_key},
       round(
         CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE)
               AND ({m} - occupied) > 0
              THEN CAST({m} AS DOUBLE)
                   * ln(CAST({m} AS DOUBLE) / CAST({m} - occupied AS DOUBLE))
              ELSE {raw}
         END, 4) AS n_est
FROM agg
"""
