"""KMV set-operation estimation: Jaccard / union / intersection
between keyed sets from k-minimum-values sketches.

``sketches.kmv_distinct`` answers "how many distinct" per group; this
module answers the BETWEEN-groups questions a corpus pipeline asks
before merging sources — "how much do these two user populations /
document sets overlap?" — from the same k-minima machinery (Beyer et
al., "On Synopses for Distinct-Value Estimation Under Multiset
Operations", SIGMOD 2007 — public literature). The KMV property used:
the k smallest hashes of A ∪ B are computable from the k smallest of
A and the k smallest of B alone, and the fraction of those union
minima present in BOTH sketches is an unbiased Jaccard estimator, so

    union_est     = (k - 1) / theta        (theta = k-th union minimum)
    jaccard_est   = |union minima in both| / k
    intersect_est = jaccard_est * union_est

Exchange shape at 100 TB: each set contributes exactly ``k`` hash rows
(its sketch) to the pairwise stage — set sizes never travel. With the
portable hash the sketch CONTENT is deterministic, so the whole
estimator replays in DuckDB and the estimate itself is
oracle-checkable (the ``kmv_distinct`` precedent). When a pair's
UNION has fewer than ``k`` distinct keys, both sketches are complete
and every estimate degrades to exact (two complete sketches of sets
whose union exceeds ``k`` still truncate at the combine, so the
estimator arm runs).

Reference parity: criteo/ml-hadoop-experiment has no sketch surface
(SURVEY.md §2) — north-star extension, sibling of the KMV and Count-Min
sketches in `operators/sketches.py` and `operators/hll.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    portable_string_unit_hash,
    portable_string_unit_hash_sql,
    portable_unit_hash,
    portable_unit_hash_sql,
)


def kmv_overlap(
    df: DataFrame,
    set_col: str,
    key_col: str,
    k: int = 64,
    round_digits: int = 6,
    with_exact: bool = True,
    hash_mode: str = "int",
) -> DataFrame:
    """Pairwise overlap estimates between the distinct-``key_col``
    sets of every two ``set_col`` values: one row per unordered pair
    ``(set_a < set_b)`` with ``n_both`` (union-sketch members present
    in both sketches), ``jaccard_est``, ``union_est``,
    ``intersect_est`` — and, with ``with_exact``, the exact
    ``jaccard`` yardstick (est-vs-truth audit, the ``cms_audit`` /
    ``hll_audit`` convention; at 100 TB the exact columns are the
    audit-run extra, the sketch columns are the production path).
    Estimates are exact whenever the pair's UNION fits under ``k``.

    Plan: ONE distinct pass builds every set's k-minima sketch (window
    top-k per set — k rows per set leave the stage); the pairwise
    combine runs on sketch-sized data only (sets x k rows). Estimates
    are double arithmetic on deterministic hash integers — identical
    in the DuckDB twin (:func:`kmv_overlap_sql`).
    """
    if k < 2:
        raise ValueError("kmv_overlap requires k >= 2")
    if hash_mode not in ("int", "string"):
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    s, key = F.col(set_col), F.col(key_col)
    hfn = portable_unit_hash if hash_mode == "int" else portable_string_unit_hash
    hashed = df.select(s.alias("t"), hfn(key).alias("h")).distinct()
    w = Window.partitionBy("t").orderBy("h")
    minima = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    types = minima.select("t").distinct()
    pairs = (
        types.alias("x")
        .crossJoin(types.alias("y"))
        .where(F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("ta"), F.col("y.t").alias("tb"))
    )
    ma = pairs.join(minima.alias("m"), F.col("m.t") == F.col("ta")).select(
        "ta", "tb", F.col("m.h").alias("h"),
        F.lit(1).alias("ia"), F.lit(0).alias("ib"),
    )
    mb = pairs.join(minima.alias("m"), F.col("m.t") == F.col("tb")).select(
        "ta", "tb", F.col("m.h").alias("h"),
        F.lit(0).alias("ia"), F.lit(1).alias("ib"),
    )
    merged = (
        ma.unionByName(mb)
        .groupBy("ta", "tb", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    umin = merged.withColumn("rn", F.row_number().over(wu)).where(
        F.col("rn") <= k
    )
    est = umin.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("theta"),
        F.sum((F.col("ia") * F.col("ib")).cast("long")).alias("n_both"),
    )
    union_est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("theta"))
    jac = F.col("n_both").cast("double") / F.col("n_kept")
    out = est.select(
        F.col("ta").alias("set_a"),
        F.col("tb").alias("set_b"),
        "n_both",
        F.round(jac, round_digits).alias("jaccard_est"),
        F.round(union_est, round_digits).alias("union_est"),
        F.round(jac * union_est, round_digits).alias("intersect_est"),
    )
    if not with_exact:
        return out
    keys = df.select(s.alias("t"), key.alias("v")).distinct()
    ex = (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.v") == F.col("b.v")) & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = keys.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        ex.join(sizes.alias("sa"), F.col("sa.t") == F.col("ta"))
        .join(sizes.alias("sb"), F.col("sb.t") == F.col("tb"))
        .select(
            "ta", "tb", "n_inter",
            (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")).alias(
                "n_union"
            ),
        )
    )
    return out.join(
        exact,
        (out["set_a"] == exact["ta"]) & (out["set_b"] == exact["tb"]),
        "left",
    ).select(
        "set_a", "set_b", "n_both", "jaccard_est", "union_est",
        "intersect_est",
        F.coalesce(
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union"),
                round_digits,
            ),
            F.lit(0.0),
        ).alias("jaccard_exact"),
        F.coalesce(F.col("n_inter"), F.lit(0)).alias("intersect_exact"),
    )


def kmv_overlap_sql(
    relation: str,
    set_expr: str,
    key_expr: str,
    k: int = 64,
    round_digits: int = 6,
    with_exact: bool = True,
    hash_mode: str = "int",
) -> str:
    """DuckDB twin of :func:`kmv_overlap`: same portable hash, same
    k-minima windows, same union-minima combine and double
    arithmetic."""
    if k < 2:
        raise ValueError("kmv_overlap requires k >= 2")
    if hash_mode not in ("int", "string"):
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    h = (
        portable_unit_hash_sql(key_expr)
        if hash_mode == "int"
        else portable_string_unit_hash_sql(key_expr)
    )
    ctes = [
        (
            f"hashed AS (SELECT DISTINCT {set_expr} AS t, {h} AS h"
            f" FROM {relation})"
        ),
        (
            "minima AS (SELECT t, h FROM (SELECT t, h, row_number() OVER ("
            "PARTITION BY t ORDER BY h) AS rn FROM hashed) WHERE rn <= "
            f"{k})"
        ),
        "types AS (SELECT DISTINCT t FROM minima)",
        (
            "pairs AS (SELECT x.t AS ta, y.t AS tb FROM types x, types y"
            " WHERE x.t < y.t)"
        ),
        (
            "merged AS (SELECT ta, tb, h, max(ia) AS ia, max(ib) AS ib "
            "FROM ("
            "SELECT p.ta, p.tb, m.h, 1 AS ia, 0 AS ib FROM pairs p "
            "JOIN minima m ON m.t = p.ta "
            "UNION ALL "
            "SELECT p.ta, p.tb, m.h, 0 AS ia, 1 AS ib FROM pairs p "
            "JOIN minima m ON m.t = p.tb"
            ") GROUP BY ta, tb, h)"
        ),
        (
            "umin AS (SELECT * FROM (SELECT ta, tb, h, ia, ib, "
            "row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn "
            f"FROM merged) WHERE rn <= {k})"
        ),
        (
            "est AS (SELECT ta, tb, count(*) AS n_kept, max(h) AS theta, "
            "CAST(sum(ia * ib) AS BIGINT) AS n_both FROM umin "
            "GROUP BY ta, tb)"
        ),
    ]
    union_est = (
        f"CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) / theta END"
    )
    jac = "CAST(n_both AS DOUBLE) / n_kept"
    base_cols = (
        f"est.ta AS set_a, est.tb AS set_b, n_both, "
        f"round({jac}, {round_digits}) AS jaccard_est, "
        f"round({union_est}, {round_digits}) AS union_est, "
        f"round(({jac}) * ({union_est}), {round_digits}) AS intersect_est"
    )
    if not with_exact:
        return "WITH " + ",\n".join(ctes) + f"\nSELECT {base_cols} FROM est\n"
    ctes.append(
        f"keyss AS (SELECT DISTINCT {set_expr} AS t, {key_expr} AS v"
        f" FROM {relation})"
    )
    ctes.append(
        "ex AS (SELECT a.t AS ta, b.t AS tb, count(*) AS n_inter "
        "FROM keyss a JOIN keyss b ON a.v = b.v AND a.t < b.t "
        "GROUP BY a.t, b.t)"
    )
    ctes.append("sizes AS (SELECT t, count(*) AS n FROM keyss GROUP BY t)")
    ctes.append(
        "exact AS (SELECT ex.ta, ex.tb, ex.n_inter, "
        "sa.n + sb.n - ex.n_inter AS n_union FROM ex "
        "JOIN sizes sa ON sa.t = ex.ta JOIN sizes sb ON sb.t = ex.tb)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {base_cols},
       coalesce(round(CAST(x.n_inter AS DOUBLE) / x.n_union,
                      {round_digits}), 0.0) AS jaccard_exact,
       CAST(coalesce(x.n_inter, 0) AS BIGINT) AS intersect_exact
FROM est LEFT JOIN exact x ON x.ta = est.ta AND x.tb = est.tb
"""
    )
