"""Plan inspection and skew-mitigation utilities.

The engine has no custom optimizer (SURVEY.md §4: Catalyst provides pushdown,
pruning, join selection, AQE — no custom rule needed for parity). This module
holds the two things that *are* worth hand-rolling:

- plan assertions used by tests/benchmarks to keep plans honest (filters
  pushed to the scan, wide codegen spans, broadcast where intended);
- salting for joins whose key skew exceeds what AQE's skew-join splitting
  handles (e.g. a single mega-key in a 100 TB join).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def executed_plan_str(df: DataFrame) -> str:
    """The physical plan Spark would execute (post-AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan_str(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the formatted plan shows ``fragment`` inside PushedFilters of
    a scan node — i.e. the predicate reached parquet."""
    explained = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    for line in explained.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans in the executed plan (fewer, wider
    spans = more operators fused into single JVM loops)."""
    plan = executed_plan_str(df)
    ids = set()
    for token in plan.split("*("):
        head = token.split(")", 1)[0]
        if head.isdigit():
            ids.add(int(head))
    return len(ids)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Repartition ONLY when the plan yields fewer partitions than the
    cluster's parallelism — the guard that makes narrow scans compute-bound
    work parallel without ever adding a shuffle at scale.

    Why: a parquet scan can't split below row-group granularity, so a table
    written as one file/one row group (exactly the local fixtures) executes
    as a single task no matter how many cores exist, serializing every
    downstream per-row expression (simhash, MinHash, text scoring). On a
    real 100 TB input there are thousands of row groups and
    ``df.rdd.getNumPartitions() >= min_partitions`` already — this becomes a
    no-op and costs nothing. Use before compute-heavy per-row pipelines;
    never needed before groupBy/join (their shuffle already redistributes).

    Only safe when downstream results are row-value deterministic (true for
    every engine operator that matters: portable hash, md5 digests, column
    expressions). Not for ``F.rand``-seeded columns, whose draw depends on
    partition assignment.

    ``partitions`` is ``df``'s partition count when the caller already
    knows it (``queries._shared._t`` keeps it per file); otherwise it is
    probed from the physical plan.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if partitions is None:
        partitions = df.rdd.getNumPartitions()
    if partitions >= target:
        return df
    return df.repartition(target)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: split each left key into ``salt`` sub-keys and
    replicate the right side across them.

    Use when one key's row count dwarfs the rest (AQE splits oversized
    partitions, but a single key cannot be split without salting). Cost:
    right side is replicated ``salt``× — keep it the smaller input.
    """
    left_salted = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    right_salted = right.withColumn(
        "__salt_arr", F.sequence(F.lit(0), F.lit(salt - 1))
    ).withColumn("__salt", F.explode(F.col("__salt_arr"))).drop("__salt_arr")
    out = left_salted.join(right_salted, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and bucket-sorted) table keyed for joins.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT any Exchange — the shuffle was paid once at write time, which
    is the right trade for fact tables joined repeatedly at 100 TB
    (verified by ``tests/test_optimize.py``: the join plan has zero
    exchanges). Bucket count should target HDFS-block-sized files per
    bucket at the expected table size.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def partition_sizes(df: DataFrame) -> List[Tuple[int, int]]:
    """(partition_id, row_count) — cheap skew diagnostic."""
    return [
        (r["pid"], r["n"])
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
