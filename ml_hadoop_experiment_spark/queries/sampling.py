"""Sampling, splits, and data-mixture planning queries.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import portable_unit_hash_sql
from ml_hadoop_experiment_spark.queries._shared import _t


def q_sample_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-stratum keyed sampling: per-returnflag rates (A=0.5, N=0.1,
    R=1.0) with relative inverse re-weighting — the per-class training-set
    sampler generalizing the reference's binary operator."""
    from ml_hadoop_experiment_spark.operators.sampling import sample_stratified_by

    li = _t(spark, sf_dir, "lineitem")
    out = sample_stratified_by(
        li,
        "l_returnflag",
        {"A": 0.5, "N": 0.1, "R": 1.0},
        key_cols=["l_orderkey"],
        seed=11,
    )
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "weight")


SQL_SAMPLE_BY_CLASS = f"""
WITH h AS (
  SELECT *, {portable_unit_hash_sql('l_orderkey', salt=11)} AS u FROM lineitem
),
r AS (
  SELECT *, CASE l_returnflag WHEN 'A' THEN 0.5 WHEN 'N' THEN 0.1
                              WHEN 'R' THEN 1.0 ELSE 1.0 END AS ratio
  FROM h
)
SELECT l_orderkey, l_linenumber, l_returnflag, 1.0 * 1.0 / ratio AS weight
FROM r WHERE u < ratio
"""


def q_cap_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key cap: at most 2 lineitems per order, smallest linenumber
    first (the crawl-curation per-domain cap pattern)."""
    from ml_hadoop_experiment_spark.operators.sampling import cap_per_key

    li = _t(spark, sf_dir, "lineitem")
    out = cap_per_key(li, ["l_orderkey"], k=2, order_col="l_linenumber")
    return out.select("l_orderkey", "l_linenumber")


SQL_CAP_PER_KEY = """
SELECT l_orderkey, l_linenumber FROM (
  SELECT l_orderkey, l_linenumber,
         row_number() OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber ASC
         ) AS rk
  FROM lineitem
) WHERE rk <= 2
"""


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment of orders by
    customer key — entity-level hashing so every order of a customer lands
    in the same split (no cross-split leakage), reproducible across
    engines. Pure expression, zero shuffle until the audit count."""
    from ml_hadoop_experiment_spark.operators.sampling import assign_split

    orders = _t(spark, sf_dir, "orders")
    out = assign_split(orders, ["o_custkey"], _SPLITS, seed=7, portable=True)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


def _sql_train_split() -> str:
    from ml_hadoop_experiment_spark.operators.sampling import assign_split_sql

    case = assign_split_sql("o_custkey", _SPLITS, seed=7)
    return f"""
SELECT {case} AS split,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY 1
"""


SQL_TRAIN_SPLIT = _sql_train_split()


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (priority
    sampling, Duffield-Lund-Thorup): 200 lineitem rows weighted by
    l_extendedprice, plus the est_weight column whose sample-sum is an
    unbiased estimator of the population weight total. Distributed as
    TakeOrderedAndProject (per-partition heaps); the row key
    l_orderkey*10+l_linenumber seeds the portable hash."""
    from ml_hadoop_experiment_spark.operators.sampling import (
        weighted_priority_sample,
    )

    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return weighted_priority_sample(
        li, key, "l_extendedprice", k=200
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("weight"),
        "priority_key",
        "est_weight",
    )


def _sql_weighted_sample() -> str:
    from ml_hadoop_experiment_spark.operators.sampling import (
        weighted_priority_sample_sql,
    )

    inner = weighted_priority_sample_sql(
        "lineitem",
        "(l_orderkey * 10 + l_linenumber)",
        "l_extendedprice",
        "l_orderkey, l_linenumber",
        k=200,
    )
    return f"""
SELECT l_orderkey, l_linenumber, __w AS weight, priority_key, est_weight
FROM ({inner})
"""


SQL_WEIGHTED_SAMPLE = _sql_weighted_sample()


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mix plan (operators/mixture.mixture_plan):
    allocate a 1M-token budget across the 20 document sources by
    p^0.3-smoothed shares — the planning step before mixture_sample
    draws the mix and token_budget_select caps it, with epochs > 1
    flagging oversampled tail sources. One partial-aggregated count
    per source over the corpus, then k-row arithmetic under a
    broadcast of the single totals row."""
    from ml_hadoop_experiment_spark.functions.text import token_count
    from ml_hadoop_experiment_spark.operators.mixture import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(
        docs.withColumn("n_tok", token_count(F.col("text"))),
        "source", "n_tok", budget=1_000_000, alpha=0.3,
    )


def _sql_mixture_plan() -> str:
    from ml_hadoop_experiment_spark.functions.text import token_count_sql
    from ml_hadoop_experiment_spark.operators.mixture import (
        mixture_plan_sql,
    )

    return mixture_plan_sql(
        "documents", "source", token_count_sql("text"),
        budget=1_000_000, alpha=0.3,
    )


SQL_MIXTURE_PLAN = _sql_mixture_plan()


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-packing: documents laid out in id order and cut
    into 2048-token bins via the exact TWO-PHASE distributed prefix sum
    (plans/prefix.py) — no single-partition window anywhere; the DuckDB
    oracle is the plain window cumsum the two-phase plan must equal."""
    from ml_hadoop_experiment_spark.operators.packing import concat_pack

    docs = _t(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_toks"),
    )
    return concat_pack(with_counts, "doc_id", "n_toks", budget=2048).select(
        F.col("id").alias("doc_id"), "n_tokens", "bin", "bin_offset",
        "spans_boundary",
    )


def _sql_pack_bins() -> str:
    from ml_hadoop_experiment_spark.operators.packing import concat_pack_sql

    inner = concat_pack_sql(
        "(SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks"
        " FROM documents)",
        "doc_id",
        "n_toks",
        budget=2048,
    )
    return (
        "SELECT id AS doc_id, n_tokens, bin, bin_offset, spans_boundary "
        f"FROM ({inner})"
    )


SQL_PACK_BINS = _sql_pack_bins()


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level 5-fold cross-validation assignment: every order of
    the same CUSTOMER lands in the same fold (hash of o_custkey, not
    rand()), so CV never leaks a customer between train and holdout.
    Pure expression — fuses into the scan, zero shuffle."""
    from ml_hadoop_experiment_spark.operators.sampling import assign_fold

    orders = _t(spark, sf_dir, "orders")
    out = assign_fold(orders, ["o_custkey"], k=5, seed=11, portable=True)
    return out.select("o_orderkey", "o_custkey", "fold")


def _sql_kfold_assign() -> str:
    from ml_hadoop_experiment_spark.operators.sampling import assign_fold_sql

    fold = assign_fold_sql("o_custkey", k=5, seed=11)
    return f"SELECT o_orderkey, o_custkey, {fold} AS fold FROM orders"


SQL_KFOLD_ASSIGN = _sql_kfold_assign()


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multi-source data mixing (alpha=0.5): each
    source keeps a deterministic hash-sampled share sized to
    sqrt(n_source), the canonical multilingual/multi-corpus resampling
    step. Per-source stats are a KB agg broadcast back; the corpus is
    touched by a pure map — zero data shuffle. Cross-engine exact by
    construction: correctly-rounded sqrt -> decimal(28,12) exact sum ->
    pinned-association double rate -> integer hash threshold."""
    from ml_hadoop_experiment_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, "source", "doc_id", target_rows=200, alpha=0.5, seed=7
    )
    return out.select("doc_id", "source", "lang", "n_chars", "mix_weight")


def _sql_mixture_sample() -> str:
    from ml_hadoop_experiment_spark.operators.sampling import mixture_sample_sql

    inner = mixture_sample_sql("documents", "source", "doc_id", 200, seed=7)
    return (
        "SELECT doc_id, source, lang, n_chars, mix_weight FROM (" + inner + ")"
    )


SQL_MIXTURE_SAMPLE = _sql_mixture_sample()


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: fill a 20k-token training budget with the
    highest-quality documents first (exact whitespace token counts,
    quality-desc order, doc_id tiebreak). The running total rides the
    two-phase global prefix sum — no single-partition window — and the
    doc crossing the budget line is the last one in."""
    from ml_hadoop_experiment_spark.functions.text import quality_score
    from ml_hadoop_experiment_spark.operators.curation import token_budget_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.withColumn("q", quality_score(F.col("text")))
    kept = token_budget_select(
        scored, "doc_id", "text", budget_tokens=20_000, priority_col="q"
    )
    return kept.select("doc_id", "q", "cum_tokens")


def _sql_token_budget() -> str:
    from ml_hadoop_experiment_spark.functions.text import quality_score_sql
    from ml_hadoop_experiment_spark.operators.curation import (
        token_budget_select_sql,
    )

    inner_rel = (
        "(SELECT doc_id, text, "
        + quality_score_sql("text")
        + " AS q FROM documents)"
    )
    sel = token_budget_select_sql(
        inner_rel, "doc_id", "text", 20_000, priority_expr="q"
    )
    return "SELECT doc_id, q, cum_tokens FROM (" + sel + ")"


SQL_TOKEN_BUDGET = _sql_token_budget()


def q_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample
    (operators/sampling.neyman_sample): a 1000-row budget allocated
    across l_returnflag strata proportional to N_h*sigma_h of
    l_extendedprice (the minimum-variance allocation for estimating the
    population mean), rows drawn by deterministic portable-hash rank —
    allocation AND draw replayed exactly by the DuckDB twin."""
    from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return neyman_sample(
        li, "l_returnflag", "l_extendedprice", key, total_n=1000
    ).select(
        "stratum",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("key"),
        "n_rows",
        "alloc",
    )


def _sql_neyman_sample() -> str:
    from ml_hadoop_experiment_spark.operators.sampling import neyman_sample_sql

    return neyman_sample_sql(
        "lineitem",
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey * 10 + l_linenumber",
        total_n=1000,
    )


SQL_NEYMAN_SAMPLE = _sql_neyman_sample()


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al. 2023):
    importance-weight every raw document by its unigram log-likelihood
    ratio against a target corpus (stand-in: source = 'src1', the
    domain we want more of; raw = every other source), then keep the
    50 most target-like by the length-normalized ratio (ties to the
    smaller doc_id — a total order). The resampled variant composes
    `weighted_priority_sample` over exp(logratio) instead of the
    deterministic cut; the deterministic form is the oracle-gated one.
    Smoothing, rounding, and the decimal term sums follow the
    unigram_xent precedent, so the doubles hash exactly."""
    from ml_hadoop_experiment_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("source") != "src1")
    target = docs.where(F.col("source") == "src1")
    w = dsir_weights(raw, target, "doc_id", "text")
    score = F.round(
        F.col("logratio") / F.col("n_tokens").cast("double"), 6
    )
    return (
        w.select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "logratio",
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(50)
    )


def _sql_dsir_select() -> str:
    from ml_hadoop_experiment_spark.operators.dsir import dsir_weights_sql

    inner = dsir_weights_sql(
        "(SELECT * FROM documents WHERE source <> 'src1')",
        "(SELECT * FROM documents WHERE source = 'src1')",
        "doc_id",
        "text",
    )
    return f"""
SELECT id AS doc_id, n_tokens, logratio,
       round(logratio / CAST(n_tokens AS DOUBLE), 6) AS score
FROM ({inner})
ORDER BY score DESC, doc_id ASC
LIMIT 50
"""


SQL_DSIR_SELECT = _sql_dsir_select()


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (operators/dsir.dsir_resample — the
    paper's actual selection artifact, closing the q_dsir_select
    composition gap): weight every raw document by
    exp(logratio/n_tokens) against the src1 target and draw 50 without
    replacement by deterministic priority sampling (portable-unit-hash
    Gumbel noise), so the sampled SET — not just a top-k cut — replays
    bit-identically in DuckDB, est_weight included."""
    from ml_hadoop_experiment_spark.operators.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("source") != "src1")
    target = docs.where(F.col("source") == "src1")
    return dsir_resample(raw, target, "doc_id", "text", k=50).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "logratio",
        "score",
        "priority_key",
        "est_weight",
    )


def _sql_dsir_resample() -> str:
    from ml_hadoop_experiment_spark.operators.dsir import dsir_resample_sql

    inner = dsir_resample_sql(
        "(SELECT * FROM documents WHERE source <> 'src1')",
        "(SELECT * FROM documents WHERE source = 'src1')",
        "doc_id",
        "text",
        k=50,
    )
    return (
        f"SELECT id AS doc_id, n_tokens, logratio, score,"
        f" priority_key, est_weight FROM ({inner})"
    )


SQL_DSIR_RESAMPLE = _sql_dsir_resample()
