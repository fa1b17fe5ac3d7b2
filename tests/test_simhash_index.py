"""Equivalence gate for the steady-state SimHash corpus index: the
prebuilt-index path must return exactly what the per-call path returns,
batch after batch, while the corpus side computes once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return df.select("doc_id", "text")


def _rows(df):
    return sorted(
        (r["id_new"], r["id_corpus"], r["hamming"]) for r in df.collect()
    )


class TestSimhashIndexEquivalence:
    def test_index_path_equals_per_call_path(self, spark, docs):
        from ml_hadoop_experiment_spark.operators.dedup import simhash_against
        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
            simhash_against_index,
        )

        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=32, max_hamming=3
        )
        try:
            for batch_sel in (0, 5):  # two distinct "crawl batches"
                new = docs.where(F.col("doc_id") % 10 == batch_sel)
                got = _rows(
                    simhash_against_index(new, index, "doc_id", "text")
                )
                want = _rows(
                    simhash_against(
                        new, corpus, "doc_id", "text", bits=32, max_hamming=3
                    )
                )
                assert got == want
                assert want, f"batch {batch_sel}: fixture found no near-dups"
        finally:
            index.unpersist()

    def test_index_blocks_are_pinned(self, spark, docs):
        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
        )

        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=16, max_hamming=2
        )
        try:
            lvl = index.blocks.storageLevel
            assert lvl.useMemory or lvl.useDisk
            # (d+1) pigeonhole rows per corpus doc
            assert index.blocks.count() == corpus.count() * 3
        finally:
            index.unpersist()

    def test_parameters_travel_with_index(self, spark, docs):
        """A batch filtered through the index uses the INDEX's bits and
        radius — equivalent to the per-call path at those parameters,
        regardless of what the caller would have guessed."""
        from ml_hadoop_experiment_spark.operators.dedup import simhash_against
        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
            simhash_against_index,
        )

        corpus = docs.where(F.col("doc_id") % 10 != 0)
        new = docs.where(F.col("doc_id") % 10 == 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=24, max_hamming=1
        )
        try:
            got = _rows(simhash_against_index(new, index, "doc_id", "text"))
            want = _rows(
                simhash_against(
                    new, corpus, "doc_id", "text", bits=24, max_hamming=1
                )
            )
            assert got == want
        finally:
            index.unpersist()


def _plan_nodes(df) -> list:
    """Node names of the executed plan's tree. A cached side is the leaf
    ``InMemoryTableScan``: the plan it caches is not one of its children."""

    def walk(node, out):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        out.append(node.nodeName())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)
        return out

    return walk(df._jdf.queryExecution().executedPlan(), [])


def test_probe_side_runs_the_kernel_once(spark, docs):
    """The fingerprint is non-nullable, so the ``bit_count(xor) <= d`` join
    condition infers no ``isnotnull(fp)`` filter to push below the
    projection: the probe side plans one ``ArrowEvalPython``, and the
    index side stays a scan of the pinned blocks."""
    from ml_hadoop_experiment_spark.operators.dedup import simhash
    from ml_hadoop_experiment_spark.operators.simhash_index import (
        build_simhash_index,
        simhash_against_index,
    )

    fp = docs.select(simhash(F.col("text"), 32).alias("fp"))
    assert fp.schema["fp"].nullable is False
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    index = build_simhash_index(
        corpus, "doc_id", "text", bits=32, max_hamming=3, register=False
    )
    try:
        probe = simhash_against_index(new, index, "doc_id", "text")
        nodes = _plan_nodes(probe)
        assert nodes.count("ArrowEvalPython") == 1, nodes
        assert nodes.count("InMemoryTableScan") == 1, nodes
    finally:
        index.unpersist()
