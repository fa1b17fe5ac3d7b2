"""Persisted, reusable corpus side of incremental SimHash near-dup.

:func:`~.dedup.simhash_against` recomputes the corpus fingerprints and
their pigeonhole block rows on every call — fine for a one-shot sweep,
wrong for the steady-state production loop where every new crawl batch
filters against the SAME training corpus. Both corpus frames are pure
functions of the corpus, so they should be paid for once per corpus
rotation, not once per batch — exactly the argument (and the API shape)
of :class:`~.dedup.NearDupCorpusIndex` / ``build_corpus_index`` for the
MinHash pipeline (SCALE.md "near_dup_incr steady-state index A/B").

It composes dedup.py's ``simhash`` fingerprint and its block rows.

Partitioning contract: the pinned block rows are hash-partitioned by
corpus document ``id``. A probe dedups its candidate pairs on a key
that contains the corpus id, so when the probe side is broadcast and
the index side is streamed through the join, the ``.distinct()`` is
already clustered: its partial and final aggregates run inside the
join's stage, with no shuffle, on as many tasks as the index has
partitions. This is the build-once, query-many layout of Odyssey
(VLDB 2023) and REPOSE (ICDE 2021): partition the index once, by the
key every query needs.

Reference parity: criteo/ml-hadoop-experiment has no dedup surface at
all (its ~2.1k LoC are ML-inference glue; see SURVEY.md §2) — this is
north-star extension surface for training-data curation.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _simhash_blocks, simhash


class SimHashCorpusIndex:
    """Pinned ``(id, fp, part, block)`` pigeonhole rows of a corpus,
    hash-partitioned by ``id``, plus the fingerprint/blocking
    parameters used to build them — the parameters travel with the
    index so every batch is fingerprinted and blocked identically to
    the corpus (a bits or radius mismatch between sides would silently
    destroy the pigeonhole guarantee).

    Build with :func:`build_simhash_index`; feed to
    :func:`simhash_against_index`; :meth:`unpersist` when the corpus
    rotates.
    """

    def __init__(self, blocks: DataFrame, bits: int, max_hamming: int):
        self.blocks = blocks
        self.bits = bits
        self.max_hamming = max_hamming

    def unpersist(self) -> None:
        self.blocks.unpersist()


def build_simhash_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 2,
    storage_level: Optional["StorageLevel"] = None,  # noqa: F821
    eager: bool = True,
    register: bool = True,
) -> SimHashCorpusIndex:
    """Precompute and pin the corpus block frame ``simhash_against``
    derives per call: one ``bits``-wide fingerprint scan over the
    corpus plus the ``max_hamming + 1`` pigeonhole rows per document.
    Exactly one frame is persisted, at ``storage_level`` (default
    MEMORY_AND_DISK: spill-safe — at 100 TB the block frame is ~(d+1)
    skinny rows per doc, landing on local disk rather than OOM) and,
    with ``eager``, materialized here so the first batch's job doesn't
    pay the corpus fingerprint scan. The block rows come from dedup.py's
    own ``_simhash_blocks`` — shared code, so index blocking can never
    drift from the per-call path's.

    The last operator before the persist is ``repartition(n, "id")``
    with ``n = max(defaultParallelism, the block rows' partition
    count)``; an explicit count makes it a by-number repartition, which
    adaptive execution does not coalesce, so the cached plan reports
    ``hashpartitioning(id, n)``. It must come last: the fingerprint's
    ``ArrowEvalPython`` and the block explode's ``Generate`` both drop
    their child's partitioning, so a corpus repartitioned before
    fingerprinting is cached as unknown partitioning and every probe
    shuffles again for its ``.distinct()``.

    ``register=True`` (default) tracks the pin with
    ``common.cache_registry`` so sweep drivers reclaim it between
    queries; a steady-state caller that holds the index across many
    batches (the bench's amortized entry, a long-lived service) passes
    ``register=False`` and owns the :meth:`~SimHashCorpusIndex.unpersist`.
    """
    from pyspark import StorageLevel

    from ..common.cache_registry import register_pinned

    fp_corp = corpus_df.select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), bits).alias("fp"),
    )
    blocks = _simhash_blocks(fp_corp, bits, max_hamming)
    n = max(
        blocks.sparkSession.sparkContext.defaultParallelism,
        blocks.rdd.getNumPartitions(),
    )
    blocks = blocks.repartition(n, "id").persist(
        storage_level or StorageLevel.MEMORY_AND_DISK
    )
    if eager:
        blocks.count()
    if register:
        register_pinned(blocks)
    return SimHashCorpusIndex(blocks, bits, max_hamming)


def simhash_against_index(
    new_df: DataFrame,
    index: SimHashCorpusIndex,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Steady-state sibling of :func:`~.dedup.simhash_against`: NEW
    documents within the index's ``max_hamming`` of an EXISTING corpus
    document, ``(id_new, id_corpus, hamming)`` — same result frame,
    same construction (pytest-gated equivalence in
    tests/test_simhash_index.py), but the corpus contributes ZERO
    recomputation: its block rows come out of the pinned index. The
    batch is fingerprinted and blocked with the index's own parameters;
    per-batch cost is the batch's fingerprint scan plus the
    segment-keyed join against the pinned frame. Recall stays EXACT at
    the declared radius (pigeonhole over ``max_hamming + 1`` disjoint
    segments, verified by ``bit_count(xor)``).

    When the batch side fits under the broadcast threshold, the join
    streams the index and keeps its ``id`` partitioning through the
    ``id_corpus`` alias, so the candidate ``.distinct()`` plans no
    exchange (see the module docstring). A batch too large to broadcast
    plans a sort-merge join on ``(part, block)`` and shuffles for the
    ``.distinct()`` as the per-call path does.
    """
    fp_new = new_df.select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), index.bits).alias("fp"),
    )
    n = _simhash_blocks(fp_new, index.bits, index.max_hamming).alias("n")
    c = index.blocks.alias("c")
    cands = (
        n.join(
            c,
            (F.col("n.part") == F.col("c.part"))
            & (F.col("n.block") == F.col("c.block")),
        )
        .select(
            F.col("n.id").alias("id_new"),
            F.col("c.id").alias("id_corpus"),
            F.col("n.fp").alias("fp_a"),
            F.col("c.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select("id_new", "id_corpus", hamming.alias("hamming")).where(
        F.col("hamming") <= index.max_hamming
    )
