"""Distinct-count sketches: KMV (k-minimum-values) and native HLL.

The reference has no sketches (SURVEY.md §2.4: "no approx-distinct"), but a
100 TB training-data pipeline needs cardinality estimates constantly (vocab
sizing, join-side selection, dedup planning). Spark's built-in
``approx_count_distinct`` (HyperLogLog++) is the production default — but its
sketch is engine-internal, so it can never be checked against another engine.

``kmv_distinct`` is the oracle-checkable complement: the K-Minimum-Values
estimator (Bar-Yossef et al., RANDOM 2002). Hash every key to [0,1); keep the
k smallest *distinct* hash values per group; then ``E[distinct] ~ (k-1)/h_(k)``
where ``h_(k)`` is the k-th smallest hash. With a portable hash
(functions/hashing.py) every intermediate — and therefore the estimate itself —
is bit-identical in Spark and DuckDB, so the driver's hash-compare gate can
verify a *sketch*, not just exact results. Standard error is ~1/sqrt(k-2)
(~6% at k=256).

Scale notes (SCALE.md):
- One map-side-combined distinct on ``(group, hash)`` — the only full shuffle.
- The per-group k-minima selection is a row_number window: each group's
  distinct-hash set sorts within its partitions. For very-high-cardinality
  groups, ``prefilter_factor`` cuts the window input first: a one-pass HLL
  estimate per group sets a hash threshold ``~factor*k/est`` that keeps all k
  minima with overwhelming probability while discarding the rest at the scan.
- ``mode="portable"`` reduces keys mod 1,000,003 before mixing (overflow-safe
  in DuckDB); beyond ~1M distinct keys the estimate saturates. That bound is
  for the oracle gate only — ``mode="native"`` hashes with xxhash64 (full
  64-bit space, JVM codegen) for production.

The Count-Min frequency sketch (``cms_counters`` / ``cms_topk_audit``)
lives here too: "how often each key" next to KMV's "how many distinct".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import (
    portable_unit_hash,
    portable_unit_hash_sql,
)

_TWO64 = float(2**64)


def _native_unit_hash(col: Column) -> Column:
    """xxhash64 scaled to [0,1) — 64-bit space, whole-stage codegen."""
    return F.lit(0.5) + F.xxhash64(col).cast("double") / F.lit(_TWO64)


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    k: int = 256,
    mode: str = "portable",
    prefilter_factor: float | None = None,
) -> DataFrame:
    """Per-group KMV distinct-count estimate of ``key_col``.

    Returns one row per group: ``n_kept`` (minima retained, = min(k, exact
    distinct in hash space)), ``kth_hash`` (the largest retained hash) and
    ``distinct_est``. Groups with fewer than k distinct keys fall back to the
    exact count (``n_kept``), so small groups are estimate-error-free.

    ``prefilter_factor`` (native mode): discard hashes above
    ``factor * k / approx_count_distinct(group)`` before the k-minima window —
    a broadcast-joined threshold that keeps the window input O(factor*k) per
    group instead of O(distinct). Use >= 4 for a negligible miss probability;
    omitted for the oracle path to keep the plan exactly SQL-expressible.
    """
    if k < 2:
        raise ValueError("kmv_distinct requires k >= 2")
    if mode not in ("portable", "native"):
        raise ValueError(f"unknown mode: {mode!r}")
    gcols = list(group_cols)
    key = F.col(key_col)
    h = portable_unit_hash(key) if mode == "portable" else _native_unit_hash(key)

    hashed = df.select(*gcols, h.alias("__kmv_h"))
    if prefilter_factor is not None:
        if mode == "portable":
            raise ValueError("prefilter_factor is a native-mode optimization")
        est = hashed.groupBy(*gcols).agg(
            F.approx_count_distinct("__kmv_h").alias("__kmv_acd")
        )
        thresh = F.least(
            F.lit(1.0), F.lit(float(prefilter_factor) * k) / F.col("__kmv_acd")
        )
        hashed = hashed.join(F.broadcast(est), gcols).filter(
            F.col("__kmv_h") < thresh
        )

    distinct = hashed.select(*gcols, "__kmv_h").distinct()
    w = Window.partitionBy(*gcols).orderBy("__kmv_h")
    minima = distinct.withColumn("__kmv_rn", F.row_number().over(w)).filter(
        F.col("__kmv_rn") <= k
    )
    agg = minima.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("__kmv_h").alias("kth_hash"),
    )
    return agg.withColumn(
        "distinct_est",
        F.when(
            F.col("n_kept") < k, F.col("n_kept").cast("double")
        ).otherwise(F.lit(float(k - 1)) / F.col("kth_hash")),
    )


def kmv_distinct_sql(
    table: str,
    group_cols: Sequence[str],
    key_expr: str,
    k: int = 256,
) -> str:
    """DuckDB oracle SQL computing exactly ``kmv_distinct(mode='portable')``."""
    g = ", ".join(group_cols)
    h = portable_unit_hash_sql(key_expr)
    return f"""
WITH hashed AS (
  SELECT DISTINCT {g}, {h} AS kmv_h FROM {table}
), ranked AS (
  SELECT {g}, kmv_h,
         row_number() OVER (PARTITION BY {g} ORDER BY kmv_h) AS rn
  FROM hashed
), agg AS (
  SELECT {g}, count(*) AS n_kept, max(kmv_h) AS kth_hash
  FROM ranked WHERE rn <= {k} GROUP BY {g}
)
SELECT {g}, n_kept, kth_hash,
       CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
            ELSE {float(k - 1)!r} / kth_hash END AS distinct_est
FROM agg
"""


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
# --------------------------------------------------------------------------


def _cms_cells(key: Column, width: int, depth: int) -> Column:
    """array<struct<i, b>>: the ``depth`` (row, bucket) cells a key maps
    to, via the portable md5→affine-permutation family (bit-identical
    in DuckDB; see ``cms_topk_audit_sql``)."""
    from ml_hadoop_experiment_spark.functions.hashing import (
        minhash_permutation_params,
        minhash_permute,
        portable_token_hash_int,
    )

    h = portable_token_hash_int(key)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (minhash_permute(h, a, b) % F.lit(width)).alias("b"),
            )
            for i, (a, b) in enumerate(minhash_permutation_params(depth))
        ]
    )


def cms_counters(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-Min counter table ``(i, b, cnt)`` over the key-instance
    stream: ``depth`` hash rows of ``width`` buckets each.

    THE scale property: the exchange carries at most ``depth*width``
    cells (map-side partial aggregation folds the instance stream into
    cells before any shuffle), so building the sketch over 100 TB of
    tokens shuffles a few thousand rows — the frequency-tracking
    counterpart of ``kmv_distinct``'s bounded cardinality sketch, for
    when the EXACT ``heavy_hitters`` pass (which shuffles candidate
    keys) is still too much, or when sketches from disjoint corpus
    shards must be mergeable by plain cell-wise addition.
    """
    cells = df.select(
        F.explode(_cms_cells(F.col(key_col), width, depth)).alias("c")
    )
    return cells.groupBy(
        F.col("c.i").alias("i"), F.col("c.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_topk_audit(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    k: int = 50,
) -> DataFrame:
    """``(key, n_exact, n_cms)`` for the ``k`` exactly-most-frequent
    keys: the est-vs-truth display for the Count-Min sketch, same
    audit shape as the declared ``kmv_distinct`` query. The CMS
    guarantee ``n_cms >= n_exact`` holds row-for-row (min over depth
    counters only ever OVER-counts, by colliding keys' mass).

    The counter table (``depth*width`` rows) broadcasts to the top-k
    frame; ordering is total (count DESC, key) so LIMIT is
    deterministic.
    """
    exact = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "key")
        .limit(k)
    )
    counters = cms_counters(df, key_col, width, depth)
    probes = exact.select(
        "key",
        "n_exact",
        F.explode(_cms_cells(F.col("key"), width, depth)).alias("c"),
    ).select("key", "n_exact", F.col("c.i").alias("i"), F.col("c.b").alias("b"))
    return (
        probes.join(F.broadcast(counters), ["i", "b"])
        .groupBy("key", "n_exact")
        .agg(F.min("cnt").alias("n_cms"))
    )


def cms_topk_audit_sql(
    relation_tokens: str,
    key_expr: str,
    width: int = 1024,
    depth: int = 4,
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`cms_topk_audit` over a relation/subquery
    producing one row per key INSTANCE (same md5→affine bucket family,
    same min-over-rows estimate, same total order)."""
    from ml_hadoop_experiment_spark.functions.hashing import (
        minhash_permutation_params,
        minhash_permute_sql,
        portable_token_hash_int_sql,
    )

    params = minhash_permutation_params(depth)
    h = portable_token_hash_int_sql(key_expr)
    cell_rows = " UNION ALL ".join(
        f"SELECT key, {i} AS i, ({minhash_permute_sql('h', a, b)}) % {width} AS b"
        " FROM hashed"
        for i, (a, b) in enumerate(params)
    )
    return f"""
WITH stream AS (SELECT {key_expr} AS key FROM {relation_tokens}),
hashed AS (SELECT key, {portable_token_hash_int_sql('key')} AS h FROM stream),
cells AS ({cell_rows}),
counters AS (SELECT i, b, count(*) AS cnt FROM cells GROUP BY i, b),
exact AS (
  SELECT key, count(*) AS n_exact FROM stream GROUP BY key
  ORDER BY n_exact DESC, key LIMIT {k}
),
probes AS (
  SELECT e.key, e.n_exact, c.i, c.b
  FROM exact e
  JOIN (SELECT DISTINCT key, i, b FROM cells) c ON c.key = e.key
)
SELECT p.key, p.n_exact, CAST(min(ct.cnt) AS BIGINT) AS n_cms
FROM probes p JOIN counters ct ON ct.i = p.i AND ct.b = p.b
GROUP BY p.key, p.n_exact
"""
