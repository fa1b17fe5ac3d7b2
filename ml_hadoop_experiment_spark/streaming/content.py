"""Streaming content near-dup: crawl batches against a static corpus index.

The steady-state production shape of content dedup: the corpus SimHash
index (``operators/simhash_index.build_simhash_index`` — fingerprint +
pigeonhole block rows, pinned once per corpus rotation) is STATIC; each
streaming micro-batch of new documents is fingerprinted in-flight (the
Arrow SimHash projection, ``operators/dedup.simhash``, runs on a
streaming DataFrame unchanged — and, unlike the older ~1.5k-node codegen
expression, is not re-Janino-compiled per micro-batch: measured 15.6 ->
2.6 s on the isolated sf0.1 drain) and equi-joined against the pinned blocks — a
stream-static join, stateless on the stream side except for the
candidate de-duplication. Recall stays EXACT at the index's declared
Hamming radius (the pigeonhole guarantee is per-pair, independent of
batching), so the drained result equals the batch operator's —
which makes a real streaming content-dedup pipeline fully
oracle-checkable.

Why a separate entry point instead of reusing
``simhash_against_index``: the batch path finishes with ``.distinct()``,
and streaming de-duplication must be the stateful ``dropDuplicates``
(per-key state, exactly-once emission per candidate pair across ALL
batches, not per-batch). The block rows are the batch path's own
``_simhash_blocks``, which never persists (caching is illegal on a
streaming plan).

Reference parity: criteo/ml-hadoop-experiment has no streaming surface
(SURVEY.md §2.10) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _simhash_blocks, simhash
from ..operators.simhash_index import SimHashCorpusIndex


def stream_simhash_against_index(
    stream_df: DataFrame,
    index: SimHashCorpusIndex,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Streaming sibling of
    :func:`~..operators.simhash_index.simhash_against_index`: new
    documents arriving as micro-batches, matched within the index's
    ``max_hamming`` of an existing corpus document —
    ``(id_new, id_corpus, hamming)``, identical result contract to the
    batch operator (the drained stream is oracle-checked against the
    SAME SQL as ``simhash_incr``).

    Per-batch cost: the batch's fingerprint scan (one Arrow projection)
    plus the segment-keyed stream-static join against the pinned block
    frame. The stream-side state is the ``dropDuplicates`` key set over
    emitted candidate pairs — proportional to matches, not corpus.
    """
    fp_new = stream_df.select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), index.bits).alias("fp"),
    )
    n = _simhash_blocks(fp_new, index.bits, index.max_hamming).select(
        F.col("id").alias("id_new"),
        F.col("fp").alias("fp_a"),
        "part",
        "block",
    )
    c = index.blocks.select(
        F.col("id").alias("id_corpus"),
        F.col("fp").alias("fp_b"),
        "part",
        "block",
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    cands = (
        n.join(c, ["part", "block"])
        .select("id_new", "id_corpus", hamming.alias("hamming"))
        .where(F.col("hamming") <= index.max_hamming)
        # a true pair collides in >= 1 segment and may collide in
        # several (and across batches if the source re-lists): stateful
        # exactly-once emission per (new, corpus) pair
        .dropDuplicates(["id_new", "id_corpus"])
    )
    return cands
