"""Leakage-safe splits: the no-straddle guarantee, fraction semantics,
determinism, and the audit's census on a deliberately leaky split."""

from __future__ import annotations

from pyspark.sql import functions as F


def _doc_fixture(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")


class TestLeakageSafeSplit:
    def test_no_near_dup_pair_straddles_any_boundary(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import (
            simhash_near_dup_pairs,
        )
        from ml_hadoop_experiment_spark.operators.group_split import (
            leakage_safe_split,
            split_leakage_audit,
        )

        docs = _doc_fixture(spark)
        pairs = simhash_near_dup_pairs(
            docs, "doc_id", "text", bits=32, max_hamming=3
        )
        assert pairs.count() > 0  # a pair-free fixture would prove nothing
        out = leakage_safe_split(
            docs, pairs, "doc_id",
            {"train": 0.7, "val": 0.15, "test": 0.15}, seed=3,
        )
        assert split_leakage_audit(out, pairs, "id", "split").count() == 0
        # every row labeled, exactly once
        assert out.count() == docs.count()

    def test_row_hash_split_leaks_where_cluster_split_does_not(self, spark):
        """The motivating A/B: the same pair frame audited against a
        row-level hash split must report straddling pairs (the fixture
        is dup-heavy), while the cluster split reports none."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            simhash_near_dup_pairs,
        )
        from ml_hadoop_experiment_spark.operators.group_split import (
            split_leakage_audit,
        )
        from ml_hadoop_experiment_spark.operators.sampling import assign_split

        docs = _doc_fixture(spark)
        pairs = simhash_near_dup_pairs(
            docs, "doc_id", "text", bits=32, max_hamming=3
        )
        row_split = assign_split(
            docs.select(F.col("doc_id").alias("id")),
            ["id"], {"train": 0.8, "test": 0.2}, seed=7, portable=True,
        )
        leaks = split_leakage_audit(row_split, pairs, "id", "split").collect()
        assert leaks and sum(r["n_pairs"] for r in leaks) > 0

    def test_cluster_members_share_split_and_assignment_is_stable(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import (
            simhash_near_dup_pairs,
        )
        from ml_hadoop_experiment_spark.operators.group_split import (
            leakage_safe_split,
        )

        docs = _doc_fixture(spark)
        pairs = simhash_near_dup_pairs(
            docs, "doc_id", "text", bits=32, max_hamming=3
        )
        out = leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.8, "test": 0.2}, seed=7
        )
        per_cluster = out.groupBy("cluster").agg(
            F.count_distinct("split").alias("k")
        )
        assert per_cluster.where(F.col("k") > 1).count() == 0
        again = leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.8, "test": 0.2}, seed=7
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, again.collect())
        )

    def test_non_castable_ids_fail_loudly_not_silently_clean(self, spark):
        """String/UUID ids must raise at execution, not cast to NULL
        join keys and report zero leaks — a false all-clear is the
        worst failure mode for a leak detector."""
        import pytest as _pytest
        from py4j.protocol import Py4JJavaError

        from ml_hadoop_experiment_spark.operators.group_split import (
            split_leakage_audit,
        )

        split_df = spark.createDataFrame(
            [("doc-a", "train"), ("doc-b", "test")], "id string, split string"
        )
        pairs = spark.createDataFrame(
            [("doc-a", "doc-b")], "id_a string, id_b string"
        )
        with _pytest.raises((Py4JJavaError, Exception), match="castable"):
            split_leakage_audit(split_df, pairs, "id", "split").collect()

    def test_singletons_split_independently(self, spark):
        """With an empty pair frame every doc is its own cluster and
        the operator degrades to the plain portable row split on the
        id — same hash, same boundaries."""
        from ml_hadoop_experiment_spark.operators.group_split import (
            leakage_safe_split,
        )
        from ml_hadoop_experiment_spark.operators.sampling import assign_split

        docs = _doc_fixture(spark)
        empty = docs.sparkSession.createDataFrame(
            [], "id_a bigint, id_b bigint"
        )
        got = {
            r["id"]: r["split"]
            for r in leakage_safe_split(
                docs, empty, "doc_id", {"train": 0.8, "test": 0.2}, seed=7
            ).collect()
        }
        want = {
            r["id"]: r["split"]
            for r in assign_split(
                docs.select(F.col("doc_id").alias("id")),
                ["id"], {"train": 0.8, "test": 0.2}, seed=7, portable=True,
            ).collect()
        }
        assert got == want
