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

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=16, max_hamming=2, register=False
        )
        try:
            lvl = index.blocks.storageLevel
            assert lvl.useMemory and lvl.useDisk  # MEMORY_AND_DISK default
            assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
            # (d+1) pigeonhole rows per corpus doc
            assert index.blocks.count() == corpus.count() * 3
        finally:
            index.unpersist()
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()

    def test_explicit_storage_level_is_honoured(self, spark, docs):
        from pyspark import StorageLevel

        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
        )

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        index = build_simhash_index(
            docs, "doc_id", "text", storage_level=StorageLevel.DISK_ONLY,
            register=False,
        )
        try:
            assert index.blocks.storageLevel == StorageLevel.DISK_ONLY
            assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
        finally:
            index.unpersist()

    def test_duplicate_rows_keep_set_semantics(self, spark, docs):
        """Repeated ``(id, text)`` rows on both sides repeat candidate
        pairs; the probe's ``.distinct()`` still answers each pair once,
        as the per-call path and the DuckDB twin's ``SELECT DISTINCT``
        do."""
        import duckdb

        from ml_hadoop_experiment_spark.operators.dedup import simhash_against
        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
            simhash_against_index,
        )
        from ml_hadoop_experiment_spark.queries import ORACLE_SQL

        dup = docs.unionAll(docs.where(F.col("doc_id") % 3 == 0))
        new = dup.where(F.col("doc_id") % 10 == 0)
        corpus = dup.where(F.col("doc_id") % 10 != 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=32, max_hamming=3, register=False
        )
        try:
            got = _rows(simhash_against_index(new, index, "doc_id", "text"))
        finally:
            index.unpersist()
        want = _rows(
            simhash_against(new, corpus, "doc_id", "text", bits=32, max_hamming=3)
        )
        con = duckdb.connect()
        con.register("documents", dup.toPandas())
        oracle = sorted(
            tuple(r) for r in con.execute(
                f"SELECT id_new, id_corpus, hamming FROM ({ORACLE_SQL['simhash_index']})"
            ).fetchall()
        )
        con.close()
        assert got == want == oracle
        assert got and len(got) == len(set(got))

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


def test_index_is_partitioned_by_corpus_id(spark, docs):
    """The repartition by ``id`` is the cached plan's last operator, so
    the pinned relation reports ``hashpartitioning(id, n)``."""
    from ml_hadoop_experiment_spark.operators.simhash_index import (
        build_simhash_index,
    )

    corpus = docs.where(F.col("doc_id") % 10 != 0)
    index = build_simhash_index(
        corpus, "doc_id", "text", bits=32, max_hamming=3, register=False
    )
    try:
        cached = (
            index.blocks._jdf.queryExecution().withCachedData()
            .cacheBuilder().cachedPlan()
        )
        if cached.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            cached = cached.executedPlan()
        n = max(spark.sparkContext.defaultParallelism, corpus.rdd.getNumPartitions())
        part = cached.outputPartitioning().toString()
        assert part.startswith("hashpartitioning(id#"), part
        assert part.endswith(f", {n})"), part
    finally:
        index.unpersist()


def test_probe_dedups_inside_the_join_stage(spark, docs):
    """With the batch side broadcast and the index side streamed, the
    candidate ``.distinct()`` is already clustered by the corpus id: no
    shuffle outside the cached relation, one broadcast, and both
    aggregates sit directly above the join."""
    from ml_hadoop_experiment_spark.operators.simhash_index import (
        build_simhash_index,
        simhash_against_index,
    )

    corpus = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    index = build_simhash_index(
        corpus, "doc_id", "text", bits=32, max_hamming=3, register=False
    )
    try:
        nodes = _plan_nodes(simhash_against_index(new, index, "doc_id", "text"))
        assert "Exchange" not in nodes, nodes
        assert nodes.count("BroadcastExchange") == 1, nodes
        assert nodes[:4] == [
            "HashAggregate", "HashAggregate", "Project", "BroadcastHashJoin"
        ], nodes
    finally:
        index.unpersist()
