"""Single-pass stratified weighted sampling.

Parity target: reference ``tensorflow/sampling.py`` (whole file, 98 LoC):

- ``add_random_sampling_col``       <- sampling.py:10-11 (engine adds a seed)
- ``add_deterministic_sampling_col``<- sampling.py:15-23 (Murmur3 -> [0,1);
  engine adds an oracle-portable hash mode and does not leak the intermediate
  ``hash`` column into the output)
- ``get_filter_sampling_ratio``     <- sampling.py:27-34 (trivial-predicate
  folding; Catalyst would fold these anyway, kept for plan readability)
- ``sample_with_predicate``         <- sampling.py:37-98, semantics preserved
  exactly: null predicate counts as negative for both the filter and the
  re-weighting; ``weight`` column synthesized as 1.0 when absent; *relative*
  re-weighting by ``max(gp, gn)/gp`` resp. ``/gn``.

Scale notes: the whole operator is a single Catalyst expression pipeline —
no shuffle, no Python boundary; it fuses into the scan's whole-stage-codegen
and the sampling filter combines with pushed-down predicates. At 100 TB this
is a pure map-side pass.

Beyond the reference: split/fold assignment, priority and mixture
sampling, and ``neyman_sample`` (stratified sampling with Neyman-optimal
allocation).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import (
    portable_int_hash,
    portable_unit_hash,
    portable_unit_hash_sql,
    spark_unit_hash,
)

#: Name of the example-weight column, reference tensorflow/constant.py:1.
WEIGHT_COLUMN_NAME = "weight"


def add_random_sampling_col(
    df: DataFrame, seed: Optional[int] = None
) -> Tuple[str, DataFrame]:
    """Uniform [0,1) sampling column. Seeded for reproducibility (the
    reference's variant is unseeded and therefore non-deterministic)."""
    rand = F.rand(seed) if seed is not None else F.rand()
    return "sampling_rand", df.withColumn("sampling_rand", rand)


def add_deterministic_sampling_col(
    df: DataFrame,
    columns_for_sample: List[str],
    portable: bool = False,
    seed: Optional[int] = None,
) -> Tuple[str, DataFrame]:
    """Deterministic [0,1) sampling column from a hash of key columns.

    ``portable=False``: Murmur3 scaled to [0,1) exactly like the reference
    (sampling.py:18-22) — fast JVM path, Spark-only determinism; with
    ``seed=None`` the values are bit-identical to the reference's.
    ``portable=True``: multiplicative hash of the (single, integral) key
    column that evaluates identically in DuckDB — used by oracle checks.
    Rows sharing key values sample together (the reference's documented
    contract), which is what makes sampling stable across reruns/engines.
    """
    if portable:
        if len(columns_for_sample) != 1:
            raise ValueError("portable mode requires exactly one integral key column")
        col = portable_unit_hash(F.col(columns_for_sample[0]), salt=seed or 0)
    else:
        col = spark_unit_hash(*[df[c] for c in columns_for_sample], seed=seed)
    return "sampling_hash", df.withColumn("sampling_hash", col)


def get_filter_sampling_ratio(column: Column, sampling_ratio: float) -> Column:
    """Fold trivial ratios to literals (reference sampling.py:27-34)."""
    if sampling_ratio <= 0.0:
        return F.lit(False)
    if sampling_ratio >= 1.0:
        return F.lit(True)
    return column < sampling_ratio


def sample_with_predicate(
    df: DataFrame,
    global_sampling: float,
    positive_sampling: float,
    negative_sampling: float,
    positive_predicate: Column,
    columns_for_sample: Optional[List[str]] = None,
    sampling_col: Optional[str] = None,
    seed: Optional[int] = 42,
    portable: bool = False,
) -> DataFrame:
    """Stratified sample + re-weight in one declarative pass.

    Keeps positives with probability ``global_sampling * positive_sampling``
    and negatives with ``global_sampling * negative_sampling``; adjusts (or
    creates) the ``weight`` column by the *relative* inverse ratios so the
    reweighted sample is unbiased up to a common factor. Rows whose predicate
    evaluates to NULL are treated as negatives (reference sampling.py:76-79).

    ``sampling_col`` lets callers supply a pre-materialized [0,1) column
    (exactly how the reference's own tests make the operator deterministic,
    tests/tensorflow/test_sampling.py:32-38).
    """
    if sampling_col is None:
        if columns_for_sample:
            sampling_col, df = add_deterministic_sampling_col(
                df, columns_for_sample, portable=portable, seed=seed
            )
        else:
            sampling_col, df = add_random_sampling_col(df, seed=seed)

    global_pos = global_sampling * positive_sampling
    global_neg = global_sampling * negative_sampling
    max_sampling = max(global_pos, global_neg)

    pos_filter = get_filter_sampling_ratio(df[sampling_col], global_pos)
    neg_filter = get_filter_sampling_ratio(df[sampling_col], global_neg)

    # NULL predicate -> False, i.e. the row is a negative for filtering.
    pos_pred = positive_predicate & positive_predicate.isNotNull()
    df = df.filter((pos_pred & pos_filter) | (~pos_pred & neg_filter))

    weight_col = (
        df[WEIGHT_COLUMN_NAME] if WEIGHT_COLUMN_NAME in df.columns else F.lit(1.0)
    )

    # Relative re-weighting: ratios (0.2, 0.1) re-weight as (1.0, 2.0).
    # Guard the divisions so an all-filtered stratum (ratio 0) yields weight
    # NULL instead of Infinity; such rows cannot exist post-filter anyway.
    pos_w = weight_col * max_sampling / global_pos if global_pos > 0 else F.lit(None)
    neg_w = weight_col * max_sampling / global_neg if global_neg > 0 else F.lit(None)
    return df.withColumn(
        WEIGHT_COLUMN_NAME, F.when(positive_predicate, pos_w).otherwise(neg_w)
    )


def sample_stratified_by(
    df: DataFrame,
    strata_col: str,
    ratios: dict,
    key_cols: Optional[List[str]] = None,
    default_ratio: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """N-stratum generalization of ``sample_with_predicate``: a per-value
    sampling ratio for ``strata_col`` (e.g. per-class rates for training
    sets), with relative inverse re-weighting against the largest kept
    ratio. Strata absent from ``ratios`` use ``default_ratio``.

    The sampling draw is the portable deterministic hash of ``key_cols``,
    which is REQUIRED and must identify rows more finely than the strata:
    hashing the strata column itself would give every row of a stratum the
    same draw, keeping each class 100% or 0% instead of sampling at its
    ratio (the round-1 advisor's all-or-nothing footgun). The hash makes
    the kept set deterministic across reruns and engines. Like the binary
    operator this is a pure expression pipeline: no shuffle, no Python,
    fuses with the scan at any scale.
    """
    if not ratios:
        raise ValueError("ratios must be a non-empty {stratum: ratio} dict")
    if not key_cols:
        raise ValueError(
            "key_cols is required: pass a row-unique (or near-unique) key to "
            "hash — without one the draw cannot vary within a stratum"
        )
    key_cols = list(key_cols)
    if len(key_cols) != 1:
        raise ValueError("portable hashing requires exactly one integral key column")
    if key_cols == [strata_col]:
        raise ValueError(
            "key_cols must differ from strata_col: the draw would be constant "
            "within each stratum (all-or-nothing sampling)"
        )
    u = portable_unit_hash(F.col(key_cols[0]), salt=seed)

    ratio_expr: Column = F.lit(float(default_ratio))
    for value, ratio in ratios.items():
        ratio_expr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(float(ratio))
        ).otherwise(ratio_expr)

    kept = df.where(u < ratio_expr)
    max_ratio = max([*map(float, ratios.values()), float(default_ratio)])
    weight_col = (
        kept[WEIGHT_COLUMN_NAME] if WEIGHT_COLUMN_NAME in kept.columns else F.lit(1.0)
    )
    # ratio > 0 for every surviving row (u in [0,1) < ratio implies ratio > 0)
    return kept.withColumn(WEIGHT_COLUMN_NAME, weight_col * max_ratio / ratio_expr)


def assign_split(
    df: DataFrame,
    key_cols: List[str],
    splits: "dict[str, float]",
    split_col: str = "split",
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Deterministic train/val/test split assignment by stable key hash.

    ``splits`` maps name -> fraction (must sum to 1 within 1e-9); each row
    lands in the split whose cumulative-[0,1) interval contains its key
    hash, in the dict's insertion order. Hashing the KEY (not ``rand()``)
    is what makes the split reproducible across reruns, engines, and —
    critically for leakage — across *tables*: every row of the same entity
    (user, document, session) lands in the same split wherever it appears,
    so feature/label tables can be split independently and still agree.

    Pure expression (one when/otherwise chain over a hash): no shuffle, no
    Python, fuses into the scan at any scale. ``portable=True`` switches to
    the DuckDB-identical multiplicative hash (single integral key) used by
    the oracle gate; the default is native Murmur3 over any key columns.
    """
    if not splits:
        raise ValueError("splits must be a non-empty {name: fraction} dict")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if not key_cols:
        raise ValueError("key_cols is required: the split must hash a stable key")
    if portable:
        if len(key_cols) != 1:
            raise ValueError("portable mode requires exactly one integral key column")
        u = portable_unit_hash(F.col(key_cols[0]), salt=seed)
    else:
        u = spark_unit_hash(*[F.col(c) for c in key_cols], seed=seed)

    expr: Optional[Column] = None
    bounds, last_name = _split_boundaries(splits)
    for name, cum in bounds:
        branch = F.when(u < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(cum), F.lit(name))
    last = F.lit(last_name)
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def _split_boundaries(splits: "dict[str, float]") -> "tuple[list, str]":
    """Cumulative [0,1) interval bounds for ``assign_split``, accumulated in
    exact rational arithmetic (``Fraction.limit_denominator`` snaps each
    float fraction to its intended rational, so 0.8 + 0.1 -> exactly 0.9,
    not 0.9000000000000001). Shared by the Spark literals and the SQL CASE
    thresholds so both engines compare against the identical boundary."""
    from fractions import Fraction

    names = list(splits)
    cum = Fraction(0)
    bounds = []
    for name in names[:-1]:
        cum += Fraction(splits[name]).limit_denominator(10**9)
        bounds.append((name, float(cum)))
    return bounds, names[-1]


def assign_split_sql(
    key_expr: str, splits: "dict[str, float]", seed: int = 0
) -> str:
    """DuckDB twin of ``assign_split(portable=True)`` as a CASE expression."""
    u = portable_unit_hash_sql(key_expr, salt=seed)
    bounds, last_name = _split_boundaries(splits)
    parts = [f"WHEN {u} < {cum!r} THEN '{name}'" for name, cum in bounds]
    return "CASE " + " ".join(parts) + f" ELSE '{last_name}' END"


def weighted_priority_sample(
    df: DataFrame,
    key_expr: Column,
    weight_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``k`` rows —
    priority sampling (Duffield, Lund, Thorup, JACM 2007).

    Each row gets priority ``q = w / u`` with ``u`` a deterministic unit
    hash of ``key_expr`` (non-negative integral row key); the sample is
    the ``k`` largest priorities, taken here as the ``k`` smallest
    ``s = u / w``. Output adds:

    - ``priority_key`` — the row's ``s`` (audit/replay);
    - ``est_weight``  — ``max(w, tau)`` where ``tau = 1/s*`` and ``s*``
      is the (k+1)-th smallest key. ``SUM(est_weight)`` over the sample
      is an unbiased estimator of ``SUM(w)`` over the population — the
      property that makes this the production scheme for weighted
      subsampling with totals preserved in expectation.

    Determinism & portability: ``u`` is the md5-free multiplicative
    portable hash and ``s``/``tau`` are single IEEE divisions, so the
    sampled set and both output columns are bit-identical in DuckDB
    (oracle query ``weighted_sample``).

    Scale: ``orderBy(s).limit(k+1)`` compiles to TakeOrderedAndProject —
    per-partition top-(k+1) heaps, only ``(k+1) x partitions`` rows move,
    no global sort. The single-partition window that ranks the k+1
    finalists is k-bounded (k is a sample size, thousands at most), not
    data-bounded. Rows with ``w <= 0`` or null are excluded (zero weight
    means zero inclusion probability).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w_col = F.col(weight_col).cast("double")
    s = portable_unit_hash(key_expr, salt=salt) / w_col
    # The row key is the total-order tiebreaker: the unit hash wraps at the
    # portable modulus, so distinct rows can share a priority — without a
    # tiebreak the k-th/k+1-th choice would be engine-dependent.
    finalists = (
        df.where(w_col > 0)
        .withColumn("priority_key", s)
        .withColumn("__tb", key_expr)
        .orderBy(F.col("priority_key").asc(), F.col("__tb").asc())
        .limit(k + 1)
    )
    win = Window.orderBy(
        F.col("priority_key").asc(), F.col("__tb").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rn_win = Window.orderBy(F.col("priority_key").asc(), F.col("__tb").asc())
    return (
        finalists.withColumn("__n", F.count(F.lit(1)).over(win))
        .withColumn("__smax", F.max("priority_key").over(win))
        .withColumn("__rn", F.row_number().over(rn_win))
        .where(F.col("__rn") <= k)
        .withColumn(
            "est_weight",
            F.when(
                F.col("__n") == k + 1,
                F.greatest(w_col, F.lit(1.0) / F.col("__smax")),
            ).otherwise(w_col),
        )
        .drop("__n", "__smax", "__rn", "__tb")
    )


def weighted_priority_sample_sql(
    relation: str,
    key_expr: str,
    weight_expr: str,
    cols: str,
    k: int,
    salt: int = 0,
) -> str:
    """DuckDB twin of ``weighted_priority_sample``: same hash, same
    divisions, same threshold rule, bit-identical rows."""
    u = portable_unit_hash_sql(key_expr, salt=salt)
    return f"""
WITH finalists AS (
  SELECT {cols}, CAST({weight_expr} AS DOUBLE) AS __w,
         {u} / CAST({weight_expr} AS DOUBLE) AS priority_key,
         {key_expr} AS __tb
  FROM {relation}
  WHERE CAST({weight_expr} AS DOUBLE) > 0
  ORDER BY priority_key ASC, __tb ASC
  LIMIT {k + 1}
),
stats AS (SELECT max(priority_key) AS smax, count(*) AS n FROM finalists)
SELECT {cols}, __w, priority_key,
       CASE WHEN stats.n = {k + 1}
            THEN greatest(__w, 1.0 / stats.smax)
            ELSE __w END AS est_weight
FROM finalists, stats
QUALIFY row_number() OVER (ORDER BY priority_key ASC, __tb ASC) <= {k}
"""


def cap_per_key(
    df: DataFrame,
    key_cols: List[str],
    k: int,
    order_col: str,
) -> DataFrame:
    """Keep the ``k`` smallest-``order_col`` rows per key — the
    per-domain/document-cap pattern for crawl curation. For a random-but-
    deterministic cap, pass a hash column (e.g. ``portable_unit_hash`` of a
    row-unique id) as ``order_col``; ties beyond it break on the remaining
    columns so the survivors are total-order deterministic.

    One shuffle on the key (the window's hash partitioning); survivors
    keep all their columns. For skewed keys the exchange carries the full
    key group through one task — at 100 TB pre-aggregate pathological keys
    or raise ``spark.sql.windowExec.buffer.spill.threshold``; AQE cannot
    split a window partition.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    order = [F.col(order_col).asc()] + [
        F.col(c).asc() for c in df.columns if c not in key_cols and c != order_col
    ][:2]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def assign_fold(
    df: DataFrame,
    key_cols: List[str],
    k: int,
    fold_col: str = "fold",
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment by stable key hash.

    ``fold`` in 0..k-1. Like ``assign_split``, hashing the ENTITY key (not
    ``rand()``) makes folds reproducible across reruns and across tables:
    every row of the same entity lands in the same fold, so cross-
    validation never leaks an entity between train and holdout even when
    features and labels live in different tables.

    Pure expression, no shuffle, fuses into the scan. Fold sizes are
    hash-uniform (± binomial noise), not exactly equal — use
    ``assign_fold_stratified`` when exact per-stratum balance matters
    more than scan-fusion. ``portable=True`` uses the DuckDB-identical
    integer hash (single integral key) for the oracle gate.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not key_cols:
        raise ValueError("key_cols is required: the fold must hash a stable key")
    if portable:
        if len(key_cols) != 1:
            raise ValueError("portable mode requires exactly one integral key column")
        from ml_hadoop_experiment_spark.functions.hashing import portable_int_hash

        fold = (portable_int_hash(F.col(key_cols[0]), salt=seed) % F.lit(int(k))).cast(
            "int"
        )
    else:
        fold = F.pmod(F.hash(*[F.col(c) for c in key_cols], F.lit(seed)), F.lit(int(k)))
    return df.withColumn(fold_col, fold)


def assign_fold_sql(key_expr: str, k: int, seed: int = 0) -> str:
    """DuckDB twin of ``assign_fold(portable=True)``."""
    from ml_hadoop_experiment_spark.functions.hashing import portable_int_hash_sql

    return f"CAST({portable_int_hash_sql(key_expr, salt=seed)} % {int(k)} AS INT)"


def assign_fold_stratified(
    df: DataFrame,
    strata_cols: List[str],
    order_cols: List[str],
    k: int,
    fold_col: str = "fold",
) -> DataFrame:
    """Exactly balanced k-fold per stratum: rows are numbered within each
    stratum in ``order_cols`` order (must be a total order for
    determinism) and dealt round-robin — fold sizes per stratum differ by
    at most one.

    One shuffle (the per-stratum window). The skew caveat of any
    per-group window applies: a stratum's rows pass through one task, so
    at 100 TB use this for bounded strata (labels, languages) and
    ``assign_fold`` for entity-level assignment.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = Window.partitionBy(*strata_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn(
        fold_col, ((F.row_number().over(w) - F.lit(1)) % F.lit(int(k))).cast("int")
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    target_rows: int,
    alpha: float = 0.5,
    seed: int = 0,
    weight_col: str = "mix_weight",
) -> DataFrame:
    """Temperature-based multi-source mixture sampling — the standard
    LLM data-mixing step (multilingual / multi-corpus training mixes
    resample sources by ``n_s^alpha`` so small sources are up-weighted
    relative to their raw share; alpha=1 keeps natural proportions,
    alpha->0 approaches uniform-over-sources).

    Draws ~``target_rows`` rows: source s gets expected
    ``target_rows * n_s^alpha / sum_t n_t^alpha`` rows via deterministic
    per-row hash thresholding (same row set every run, any cluster
    size). ``weight_col`` carries the inverse keep-rate so weighted
    estimates stay unbiased. A source whose quota meets or exceeds its
    size is kept whole with weight 1.

    Plan: one KB-sized per-source count agg broadcast back; the corpus
    itself is touched by a pure map (hash + compare) — zero data
    shuffle, scales to any corpus.

    Cross-engine determinism (the oracle twin must agree bit-for-bit):
    ``sqrt`` (the alpha=0.5 default) is IEEE-correctly-rounded in both
    engines, per-source weights round to decimal(28,12) and sum
    EXACTLY, the keep rate is then two multiplies and one divide in
    double with pinned association, and the hash threshold is an exact
    integer ``floor(rate * 2^32)`` compared against the integer portable
    hash. Non-sqrt alphas go through ``pow`` whose last ulp is NOT
    pinned by IEEE — fine in production, avoid in oracle-checked paths.
    """
    if alpha == 0.5:
        w_expr = F.round(F.sqrt(F.count(F.lit(1))), 12)
    else:
        w_expr = F.round(F.pow(F.count(F.lit(1)), F.lit(alpha)), 12)
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("__n"),
        w_expr.cast("decimal(28,12)").alias("__w"),
    )
    total_w = counts.agg(F.sum("__w").alias("__tw"))  # exact decimal sum
    rates = counts.crossJoin(F.broadcast(total_w)).select(
        source_col,
        # pinned association: (K * w) / (W * n) — three IEEE double ops
        (
            (F.lit(float(target_rows)) * F.col("__w").cast("double"))
            / (F.col("__tw").cast("double") * F.col("__n").cast("double"))
        ).alias("__rate"),
    )
    rates = rates.select(
        source_col,
        F.least(F.col("__rate"), F.lit(1.0)).alias("__rate"),
        F.floor(F.col("__rate") * F.lit(4294967296.0)).cast("bigint").alias("__thr"),
    )
    out = (
        df.join(F.broadcast(rates), on=source_col, how="inner")
        .where(
            (F.col("__thr") >= F.lit(4294967296))
            | (portable_int_hash(F.col(key_col), salt=seed) < F.col("__thr"))
        )
        .withColumn(weight_col, F.lit(1.0) / F.col("__rate"))
    )
    return out.drop("__rate", "__thr")


def mixture_sample_sql(
    relation: str,
    source_expr: str,
    key_expr: str,
    target_rows: int,
    seed: int = 0,
    weight_col: str = "mix_weight",
) -> str:
    """DuckDB twin of ``mixture_sample`` (alpha=0.5 only — the
    correctly-rounded sqrt path). Emits all source columns plus
    ``weight_col``."""
    from ml_hadoop_experiment_spark.functions.hashing import (
        portable_int_hash_sql,
    )

    return f"""
WITH cnt AS (
  SELECT {source_expr} AS s, count(*) AS n,
         CAST(round(sqrt(count(*)), 12) AS DECIMAL(28,12)) AS w
  FROM {relation} GROUP BY 1
),
tot AS (SELECT sum(w) AS tw FROM cnt),
rates AS (
  SELECT s,
         least((CAST({target_rows} AS DOUBLE) * CAST(w AS DOUBLE))
               / (CAST(tw AS DOUBLE) * CAST(n AS DOUBLE)), 1.0) AS rate,
         CAST(floor(least((CAST({target_rows} AS DOUBLE) * CAST(w AS DOUBLE))
               / (CAST(tw AS DOUBLE) * CAST(n AS DOUBLE)), 1.0)
               * 4294967296.0) AS BIGINT) AS thr
  FROM cnt, tot
)
SELECT t.*, 1.0 / r.rate AS {weight_col}
FROM {relation} t JOIN rates r ON t.{source_expr} = r.s
WHERE r.thr >= 4294967296 OR {portable_int_hash_sql(f"t.{key_expr}", salt=seed)} < r.thr
"""


# --------------------------------------------------------------------------
# Stratified sampling with statistically optimal (Neyman) allocation
# --------------------------------------------------------------------------


def neyman_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    key_expr: Column,
    total_n: int,
    salt: int = 0,
) -> DataFrame:
    """Neyman-allocation stratified sample: a total budget of
    ``total_n`` rows allocated across strata proportional to
    ``N_h * sigma_h`` (Neyman 1934 — the allocation that minimizes the
    variance of the estimated population mean of ``value_col`` for a
    fixed budget), each stratum's quota then drawn by deterministic
    portable-hash rank on ``key_expr`` (a non-negative integral row
    key). Returns the sampled rows with ``stratum``, ``n_rows``
    (stratum population) and ``alloc`` (stratum quota) attached.

    Determinism & portability (the oracle contract): the per-stratum
    moments are EXACT decimal sums (count / sum / sum-of-squares of the
    value rounded to 6 decimals), so the variance expression
    ``(sumsq - sum^2/n)/n`` sees identical doubles in both engines; the
    allocation is largest-remainder rounding of ``total_n * w_h / W``
    under the total order (remainder DESC, stratum) — integer-exact
    given identical doubles; quotas cap at the stratum population
    (capped strata simply under-fill the budget, documented, not
    silently redistributed); and the within-stratum draw ranks the
    portable unit hash with the row key as tie-break. Every step is
    replayable in DuckDB SQL (:func:`neyman_sample_sql`).

    Scale: the moments are one map-combined aggregation; the allocation
    math runs entirely on the strata-bounded stats frame (its global
    windows hold |strata| rows, never data); the draw is the canonical
    one-shuffle rank window partitioned by stratum — the sort cost is
    the largest stratum, the usual stratified-sampling bound. All-zero
    variance corpora fall back to proportional allocation (w_h = N_h).
    """
    if total_n < 1:
        raise ValueError(f"total_n must be positive, got {total_n}")
    from pyspark.sql import Window

    v = F.col(value_col).cast("decimal(18,6)")
    stats = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(v).alias("__sum"),
        F.sum(v * v).alias("__sumsq"),
    )
    n_d = F.col("n_rows").cast("double")
    var = (
        F.col("__sumsq").cast("double")
        - F.col("__sum").cast("double") * F.col("__sum").cast("double") / n_d
    ) / n_d
    stats = stats.withColumn(
        "__w", n_d * F.sqrt(F.greatest(var, F.lit(0.0)))
    )
    everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # all-constant strata: Neyman weights all zero -> proportional
    stats = stats.withColumn(
        "__w",
        F.when(F.sum("__w").over(everything) > 0, F.col("__w")).otherwise(
            n_d
        ),
    )
    raw = F.lit(float(total_n)) * F.col("__w") / F.sum("__w").over(everything)
    stats = stats.withColumn("__base", F.floor(raw).cast("long")).withColumn(
        "__rem", raw - F.floor(raw)
    )
    leftover = F.lit(total_n) - F.sum("__base").over(everything)
    rk = F.row_number().over(Window.orderBy(F.desc("__rem"), "stratum"))
    alloc = stats.select(
        "stratum",
        "n_rows",
        F.least(
            F.col("__base")
            + F.when(rk <= leftover, F.lit(1)).otherwise(F.lit(0)),
            F.col("n_rows"),
        ).alias("alloc"),
    )
    keyed = df.withColumn("__key", key_expr.cast("bigint")).withColumn(
        "__u", portable_unit_hash(F.col("__key"), salt)
    )
    ranked = keyed.join(
        F.broadcast(alloc),
        keyed[stratum_col] == alloc["stratum"],
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("stratum").orderBy("__u", "__key")
        ),
    )
    return ranked.where(F.col("__rk") <= F.col("alloc")).drop(
        "__key", "__u", "__rk"
    )


def neyman_sample_sql(
    relation: str,
    stratum_expr: str,
    value_expr: str,
    key_expr: str,
    total_n: int,
    salt: int = 0,
    select: str = "stratum, key, n_rows, alloc",
) -> str:
    """DuckDB twin of :func:`neyman_sample` (same decimal moments, same
    largest-remainder allocation, same hash-rank draw); emits
    ``stratum, key`` plus the audit columns by default."""
    u = portable_unit_hash_sql("key", salt)
    return f"""
WITH base AS (
  -- the square is computed at DECIMAL(28,6): DuckDB stores DECIMAL(18)
  -- in int64 and overflows on the raw (18,6)*(18,6) multiply; at
  -- (28,6) it works in int128 and the (38,12) product equals Spark's
  -- (37,12) exactly (both exact decimal arithmetic, no rounding)
  SELECT {stratum_expr} AS stratum, CAST({key_expr} AS BIGINT) AS key,
         CAST({value_expr} AS DECIMAL(18,6)) AS v,
         CAST({value_expr} AS DECIMAL(28,6)) AS vw
  FROM {relation}
),
stats AS (
  SELECT stratum, count(*) AS n_rows,
         CAST(sum(v) AS DOUBLE) AS s, CAST(sum(vw * vw) AS DOUBLE) AS sq
  FROM base GROUP BY stratum
),
weighted AS (
  SELECT stratum, n_rows,
         CAST(n_rows AS DOUBLE)
           * sqrt(greatest((sq - s * s / CAST(n_rows AS DOUBLE))
                           / CAST(n_rows AS DOUBLE), 0.0)) AS w
  FROM stats
),
weighted2 AS (
  SELECT stratum, n_rows,
         CASE WHEN sum(w) OVER () > 0 THEN w
              ELSE CAST(n_rows AS DOUBLE) END AS w
  FROM weighted
),
rawalloc AS (
  SELECT stratum, n_rows,
         CAST({total_n} AS DOUBLE) * w / sum(w) OVER () AS raw
  FROM weighted2
),
rounded AS (
  SELECT stratum, n_rows, CAST(floor(raw) AS BIGINT) AS base,
         raw - floor(raw) AS rem
  FROM rawalloc
),
alloc AS (
  SELECT stratum, n_rows,
         least(base + CASE WHEN row_number()
                 OVER (ORDER BY rem DESC, stratum)
               <= {total_n} - sum(base) OVER () THEN 1 ELSE 0 END,
               n_rows) AS alloc
  FROM rounded
),
ranked AS (
  SELECT b.stratum, b.key, a.n_rows, a.alloc,
         row_number() OVER (PARTITION BY b.stratum
                            ORDER BY {u}, b.key) AS rk
  FROM base b JOIN alloc a ON a.stratum = b.stratum
)
SELECT {select} FROM ranked WHERE rk <= alloc
"""
