"""Deduplication operators for training-data pipelines at 100 TB scale.

Extensions beyond the reference (BASELINE.json north-star). Four families:

- exact:      content-hash groupBy — one shuffle on a 128-bit digest, never
              on the raw text (a 100 TB corpus shuffles ~32 bytes/row);
              ``dedup_by_url`` keys it on the canonical URL.
- MinHash:    k min-hash aggregates over the token set -> LSH banding ->
              bucket self-join for candidates -> exact Jaccard verify.
              The classic shingle->minhash->band->bucket-join pipeline; every
              stage is a DataFrame op with one shuffle.
- SimHash:    b-bit fingerprint from per-token hash bits, one Arrow
              projection (no shuffle at all); near-dups share fingerprints
              or differ in few bits.
- n-gram Jaccard: exact pairwise similarity on candidate pairs via distinct
              n-gram joins.

All hashes are md5-based and portable (DuckDB-identical) so every stage is
oracle-checkable; swap ``F.xxhash64`` in for raw speed where cross-engine
reproducibility is not needed (see functions/hashing.py docstring).
"""

from __future__ import annotations

import hashlib
import logging
import math
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.common.cache_registry import register_pinned, release
from ml_hadoop_experiment_spark.functions.hashing import (
    minhash_permutation_params,
    minhash_permute,
    portable_token_hash_int,
)

_logger = logging.getLogger(__name__)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def content_digest(cols: List[Column]) -> Column:
    """128-bit md5 digest of the concatenated content columns.

    Null-safe: columns are null-coalesced with a sentinel and joined with an
    unlikely separator so ("a", None) != ("a", "") != ("a",).
    """
    safe = [F.coalesce(c.cast("string"), F.lit("\x00null")) for c in cols]
    return F.md5(F.concat_ws("", *safe))


def dedup_exact(
    df: DataFrame,
    content_cols: List[str],
    id_col: str,
) -> DataFrame:
    """Keep one representative row (lowest ``id_col``) per distinct content.

    Single shuffle, keyed on the digest (not the payload): at scale the
    exchange carries 16-byte keys + row ids. Window row_number (not
    groupBy+join) so the surviving row keeps all its columns in one pass.
    """
    w = Window.partitionBy("__digest").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__digest", content_digest([F.col(c) for c in content_cols]))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__digest", "__rn")
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    content_cols: List[str],
    ref_content_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Cross-corpus dedup: drop rows whose content digest appears in
    ``reference`` (dedup a new crawl against the existing training set —
    the incremental companion to ``dedup_exact``'s self-dedup).

    A left-anti join on 16-byte digests: the exchange carries digests,
    never payloads, and the reference side reduces to its DISTINCT digest
    set before shuffling (map-side combined). With a small reference the
    join broadcasts; at 100 TB-vs-100 TB it degrades gracefully to a
    digest-keyed sort-merge anti join.
    """
    ref_cols = list(ref_content_cols or content_cols)
    ref_digests = reference.select(
        content_digest([F.col(c) for c in ref_cols]).alias("__digest")
    ).distinct()
    return (
        df.withColumn("__digest", content_digest([F.col(c) for c in content_cols]))
        .join(ref_digests, "__digest", "left_anti")
        .drop("__digest")
    )


def duplicate_stats(df: DataFrame, content_cols: List[str]) -> DataFrame:
    """(digest, n_copies) for groups with more than one row — the audit view."""
    return (
        df.select(content_digest([F.col(c) for c in content_cols]).alias("digest"))
        .groupBy("digest")
        .count()
        .where(F.col("count") > 1)
    )


def dedup_by_url(
    df: DataFrame,
    id_col: str,
    url_col: str,
    out_col: str = "canonical_url",
) -> DataFrame:
    """URL-level dedup — the crawl pipeline's standard FIRST pass
    (CCNet / RefinedWeb order: URL dedup before any content is fetched
    or compared): canonicalize ``url_col``
    (:func:`~..functions.url.canonicalize_url` — scheme/host case,
    ``www.``, default ports, fragments, tracking params, param order,
    trailing slashes) and keep one representative row (lowest
    ``id_col``) per canonical URL, via the :func:`dedup_exact` digest
    machinery. The surviving rows carry the canonical form in
    ``out_col``.

    At 100 TB: canonicalization is a map-only expression; the single
    shuffle is ``dedup_exact``'s, keyed on the 16-byte digest of the
    canonical URL — never on page payloads.
    """
    from ml_hadoop_experiment_spark.functions.url import canonicalize_url

    with_canon = df.withColumn(out_col, canonicalize_url(F.col(url_col)))
    return dedup_exact(with_canon, [out_col], id_col)


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def tokens_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 1,
    distinct: bool = True,
) -> DataFrame:
    """(id, token) distinct pairs; token = word or word-``shingle_size``-gram.

    Shingles are built relationally with ``shingle_size`` whole-array
    slices zipped together (O(shingle_size) array ops per doc), not a
    per-index ``slice``+``concat_ws`` transform (O(n*shingle) interpreted
    expression evals — measured 3-5x slower); then one explode. No
    posexplode self-join: zero shuffle before the distinct.

    Documents SHORTER than ``shingle_size`` words emit their whole
    whitespace-normalized text as a single shingle (round 4; previously
    they emitted nothing and could never be near-dup candidates). Exact
    copies of a short doc therefore match at Jaccard 1.0; empty/blank
    docs all share the empty shingle and form one bucket — bounded by the
    LSH width cap, and better routed to ``dedup_exact`` anyway.
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    if shingle_size > 1:
        n = F.size(tokens)
        m = n - F.lit(shingle_size - 1)
        zipped = F.arrays_zip(
            *[F.slice(tokens, i + 1, m) for i in range(shingle_size)]
        )
        shingles = F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(shingle_size)]),
        )
        whole_text = F.array(F.concat_ws(" ", tokens))
        tokens = F.when(n >= shingle_size, shingles).otherwise(whole_text)
    out = df.select(F.col(id_col).alias("id"), F.explode(tokens).alias("token"))
    # distinct=False keeps the frame map-only (no shuffle) for callers that
    # dedup later in a cheaper place (e.g. after a selective semi-join)
    return out.distinct() if distinct else out


def minhash_signatures(
    tokens: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """k MinHash values per document as columns ``mh_0..mh_{k-1}``.

    One md5 per token produces a 32-bit integer ``h``; the k hash functions
    are affine permutations ``(a_i*h + b_i) mod p`` (functions/hashing.py)
    — pure integer codegen, so hashing cost is O(tokens), not O(k*tokens),
    and the shuffle carries bigints instead of strings. One shuffle on id;
    all k mins compute in the same aggregation (map-side partial min).
    """
    hashed = tokens.withColumn("__h", portable_token_hash_int(F.col("token")))
    aggs = [
        F.min(minhash_permute(F.col("__h"), a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_permutation_params(num_hashes))
    ]
    return hashed.groupBy("id").agg(*aggs)


def lsh_band_frame(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket_ids: Optional[int] = None,
) -> DataFrame:
    """(id, band, band_key) rows from a signature frame — ONE explode of
    an ``array(struct(band, key))`` column (a single scan, not one union
    arm per band), with the optional bucket-width cap applied as a
    map-combined width agg + left-anti join. Shared by the self-join
    candidate generator and the incremental new-vs-corpus join."""
    num_hashes = len([c for c in signatures.columns if c.startswith("mh_")])
    assert bands * rows_per_band <= num_hashes, "bands*rows exceeds signature size"
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    frames = signatures.select(F.col("id"), F.explode(entries).alias("__e")).select(
        "id", F.col("__e.band").alias("band"), F.col("__e.band_key").alias("band_key")
    )
    if max_bucket_ids is not None:
        over = (
            frames.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__width"))
            .where(F.col("__width") > max_bucket_ids)
            .drop("__width")
        )
        frames = frames.join(over, ["band", "band_key"], "left_anti")
    return frames


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_ids: Optional[int] = None,
    scale_safe_joins: bool = True,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band.

    Band key = the band's signature slice joined with '|' (no extra md5 —
    the values are already uniform hashes). The (band, band_key, id)
    frame is built by exploding ONE ``array(struct(band, key))`` column —
    a single scan of the signature frame, versus ``bands`` scans with the
    round-1 per-band ``unionByName`` (each union branch re-read the
    signature aggregation) — then self-joined per bucket: the textbook
    banding join; skewed buckets are split by AQE skew-join handling at
    scale.

    ``max_bucket_ids`` (optional here; ``minhash_dedup_pairs`` defaults it
    to 1024) drops buckets wider than N ids before the self-join. A
    degenerate band key (e.g. near-empty documents all hashing alike)
    creates one bucket whose self-join is O(width²); the cap bounds the
    worst case at the cost of recall ON THOSE PATHOLOGICAL BUCKETS ONLY —
    a bucket that wide is not discriminating anyway (the standard
    production guard). The cap is a map-combined width aggregate +
    left-anti join (measured cheaper than a count window: the agg shuffle
    carries one row per bucket per partition, and the anti-join's
    over-cap side is near-empty on healthy corpora so AQE runs it
    broadcast). Audit what a cap drops with ``lsh_bucket_overflow``.

    ``scale_safe_joins`` MERGE-hints the bucket self-join. Both sides are
    the same corpus-derived frame, so a compile-time broadcast is always
    wrong at scale — and the cap/persist nodes can collapse the size
    ESTIMATE below autoBroadcastJoinThreshold while the actual frame is
    unbounded (observed on the 10x corpus: planner broadcast the capped
    frame and OOM'd the driver). ``minhash_dedup_pairs`` wires this to
    its big-input policy so toy corpora keep their (correct) broadcasts.
    """
    frames = lsh_band_frame(signatures, bands, rows_per_band, max_bucket_ids)
    left = frames.alias("a")
    right = frames.alias("b")
    if scale_safe_joins:
        right = right.hint("merge")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_bucket_overflow(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_ids: int = 1024,
) -> DataFrame:
    """Audit table of LSH buckets wider than ``max_bucket_ids`` — exactly
    the buckets ``lsh_candidate_pairs`` would drop at that cap.

    Returns (band, band_key, width) — one map-combined aggregation, no
    join, so running it alongside a capped dedup is cheap. Production
    jobs should count/log this frame per run: a growing overflow count
    means the corpus has a degenerate content class (empty docs,
    boilerplate) that deserves an upstream filter rather than a wider cap.
    """
    num_hashes = len([c for c in signatures.columns if c.startswith("mh_")])
    assert bands * rows_per_band <= num_hashes, "bands*rows exceeds signature size"
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        signatures.select(F.explode(entries).alias("__e"))
        .select(F.col("__e.band").alias("band"), F.col("__e.band_key").alias("band_key"))
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("width"))
        .where(F.col("width") > max_bucket_ids)
    )


def _candidate_pair_metrics(
    candidates: DataFrame,
    tokens: DataFrame,
    scale_safe_joins: bool,
    keep_empty: bool,
) -> DataFrame:
    """Shared verifier core for ``jaccard_pairs``/``overlap_pairs``:
    (id_a, id_b, n_inter, n_a, n_b) per candidate pair. |A∩B| via a
    two-sided token join restricted to the candidates (never all-pairs);
    sizes from one groupBy over the token frame.

    ``scale_safe_joins`` MERGE-hints the token-frame joins: the token frame
    is corpus-sized (one row per distinct token per document) and must
    never be broadcast off a compile-time estimate — an un-materialized
    persisted token frame reports its tiny COMPRESSED parquet estimate and
    the planner would happily broadcast millions of rows (observed OOM on
    the 10x corpus). ``minhash_dedup_pairs`` wires this to its big-input
    policy; direct callers get the scale-safe default.

    ``keep_empty`` backfills candidate pairs whose docs share no token
    (n_inter = 0) via a left join from the candidate frame — only needed
    when a threshold <= 0 promises every candidate a scored row, so the
    extra join is gated on it. Pairs naming a doc with NO tokens at all
    still drop at the sizes join: both metrics are undefined there
    (division by a zero-token set) and the doc never entered blocking.
    """
    sizes = tokens.groupBy("id").agg(F.count("*").alias("n_tokens"))
    ta = tokens.select(F.col("id").alias("id_a"), "token")
    tb = tokens.select(F.col("id").alias("id_b"), "token")
    if scale_safe_joins:
        sizes = sizes.hint("merge")
        ta = ta.hint("merge")
        tb = tb.hint("merge")
    inter = (
        candidates.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    if keep_empty:
        if scale_safe_joins:
            inter = inter.hint("merge")
        inter = (
            candidates.select("id_a", "id_b")
            .join(inter, ["id_a", "id_b"], "left")
            .select(
                "id_a", "id_b",
                F.coalesce("n_inter", F.lit(0).cast("long")).alias("n_inter"),
            )
        )
    return (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_tokens", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_tokens", "n_b"),
            "id_b",
        )
    )


def jaccard_pairs(
    candidates: DataFrame,
    tokens: DataFrame,
    threshold: float = 0.0,
    scale_safe_joins: bool = True,
) -> DataFrame:
    """Exact Jaccard for candidate pairs from the distinct token sets.

    |A∩B| via a two-sided token join restricted to candidate pairs; |A∪B| =
    |A|+|B|-|A∩B|. Output: (id_a, id_b, jaccard) with jaccard >= threshold;
    at threshold <= 0 every candidate pair appears, zero-intersection ones
    with jaccard = 0.0 (see ``_candidate_pair_metrics`` for the one caveat:
    pairs naming a doc with no tokens at all). Cost scales with candidate
    count (LSH already pruned), never all-pairs. Join/broadcast discipline
    in ``_candidate_pair_metrics``.
    """
    out = _candidate_pair_metrics(
        candidates, tokens, scale_safe_joins, keep_empty=threshold <= 0.0
    ).select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    if threshold > 0.0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


def overlap_pairs(
    candidates: DataFrame,
    tokens: DataFrame,
    threshold: float = 0.0,
    scale_safe_joins: bool = True,
) -> DataFrame:
    """Exact OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|) for candidate
    pairs — the asymmetric-duplication verifier: a short document fully
    quoted inside a long one scores 1.0 here while its Jaccard
    (|A∩B|/|A∪B|) can be arbitrarily small. The containment check a
    curation pipeline runs AFTER near-dup pairing to catch
    subset/quote inclusion that symmetric similarity misses.

    Same join discipline as ``jaccard_pairs`` (two-sided token join
    restricted to LSH candidates, never all-pairs; MERGE hints under
    ``scale_safe_joins`` because persisted token frames lie about their
    size). Output: (id_a, id_b, overlap, jaccard) with overlap >=
    threshold — jaccard rides along for free (same n_inter/n_a/n_b
    terms) so callers can threshold on both without a second verify.

    Recall caveat, documented not hidden: candidates from MinHash LSH
    are recalled by JACCARD similarity, so a containment pair whose
    Jaccard is far below the band threshold may never become a
    candidate (the short-in-long extreme). At corpus scale the
    standard fix is banding the shorter side's bottom-k sketch; here
    the candidate generator is pluggable — pass candidates from any
    blocker (equi-key, simhash segment, LSH) and this verifier stays
    exact for whatever reaches it (at threshold <= 0 every candidate
    pair appears, zero-intersection ones scored 0.0 — see
    ``_candidate_pair_metrics`` for the zero-token-doc caveat).
    """
    out = _candidate_pair_metrics(
        candidates, tokens, scale_safe_joins, keep_empty=threshold <= 0.0
    ).select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")),
            6,
        ).alias("overlap"),
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    if threshold > 0.0:
        out = out.where(F.col("overlap") >= threshold)
    return out


def minhash_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cache_intermediates: Optional[bool] = None,
    max_bucket_ids: Optional[int] = 1024,
) -> DataFrame:
    """End-to-end containment detection: shingle → minhash → LSH band
    candidates → exact overlap-coefficient verify. Identical pipeline
    shape (and scale policy) to ``minhash_dedup_pairs``; only the
    verifier differs — see ``overlap_pairs`` for the semantics and the
    Jaccard-recall caveat."""
    toks = tokens_frame(df, id_col, text_col, shingle_size)
    if cache_intermediates is None:
        cache_intermediates = _estimated_input_bytes(df) > AUTO_PERSIST_BYTES
    safe_joins = bool(cache_intermediates)
    if cache_intermediates:
        from pyspark import StorageLevel

        level = StorageLevel.MEMORY_AND_DISK
        toks = toks.persist(level)
        sigs = minhash_signatures(toks, num_hashes).persist(level)
    else:
        sigs = minhash_signatures(toks, num_hashes)
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band, max_bucket_ids, scale_safe_joins=safe_joins
    )
    return overlap_pairs(cands, toks, threshold, scale_safe_joins=safe_joins)


#: auto-persist threshold for ``minhash_dedup_pairs`` (Catalyst's estimate
#: is COMPRESSED parquet bytes, so this is far smaller than the in-memory
#: token frame it gates). Measured A/B, local[32] steady state: at 5k docs
#: (595 KB estimate) persisting LOSES (2.19 s off vs 2.72 s on — stage
#: overhead dominates); at 50k docs (5.8 MB estimate) persisting WINS
#: (20.6 s on vs 26.6 s off — three shingle+distinct recomputes dominate).
#: 4 MB sits between the two measured points; production corpora are far
#: above it, interactive toy inputs far below.
AUTO_PERSIST_BYTES = 4 << 20


def _estimated_input_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (falls back to 'big' when the
    stats are unavailable so the safe-at-scale branch wins)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cache_intermediates: Optional[bool] = None,
    storage_level: Optional["StorageLevel"] = None,  # noqa: F821
    max_bucket_ids: Optional[int] = 1024,
) -> DataFrame:
    """End-to-end near-dup pipeline: shingle -> minhash -> band -> verify.

    ``max_bucket_ids`` defaults ON (1024): the candidate-verify stage is
    the one superlinear term in the pipeline (SCALE.md measured 8.7× time
    at 10× rows on a dup-heavy corpus) and its size is driven by bucket
    width squared, so a width cap is the scale guard, not an optimization.
    Dropping a 1024-wide bucket costs recall only on content so uniform
    that a 16-bit band key cannot discriminate it — run
    ``lsh_bucket_overflow(sigs, bands, rows_per_band, max_bucket_ids)``
    to see exactly what a corpus loses; pass ``None`` to uncap.

    The token frame is consumed three times (signatures + both sides of the
    Jaccard verify) and the signature frame ``2*bands`` times (each band
    branch of the LSH union, on both sides of the bucket self-join) — left
    lazy, that is three full shingle+distinct passes and ``2*bands``
    aggregation passes over the corpus. ``cache_intermediates`` persists
    both at MEMORY_AND_DISK (spill-safe — a 100 TB token frame lands on
    local disk, never OOM); the default ``None`` auto-enables it when
    Catalyst estimates the input above ``AUTO_PERSIST_BYTES``, so small
    interactive inputs skip the materialization stage overhead while
    anything at production scale gets the single-pass plan.

    The persisted frames stay registered until the caller drops them
    (``spark.catalog.clearCache()`` or garbage collection of the returned
    plan); they are scoped to this job's lineage only.
    """
    toks = tokens_frame(df, id_col, text_col, shingle_size)
    if cache_intermediates is None:
        cache_intermediates = _estimated_input_bytes(df) > AUTO_PERSIST_BYTES
    # the same big-input bit gates the MERGE hints: once intermediates are
    # persisted, compile-time size estimates lie (compressed-scan bytes for
    # in-memory frames), so broadcast decisions must not be made from them;
    # small un-persisted inputs keep their honest estimates and their
    # (measured faster) broadcast plans.
    safe_joins = bool(cache_intermediates)
    if cache_intermediates:
        from pyspark import StorageLevel

        level = storage_level or StorageLevel.MEMORY_AND_DISK
        toks = toks.persist(level)
        sigs = minhash_signatures(toks, num_hashes).persist(level)
    else:
        sigs = minhash_signatures(toks, num_hashes)
    if max_bucket_ids is not None:
        _logger.info(
            "minhash_dedup_pairs: LSH bucket cap active (max_bucket_ids=%d); "
            "audit dropped buckets with lsh_bucket_overflow(signatures, %d, %d, %d)",
            max_bucket_ids, bands, rows_per_band, max_bucket_ids,
        )
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band, max_bucket_ids, scale_safe_joins=safe_joins
    )
    return jaccard_pairs(cands, toks, threshold, scale_safe_joins=safe_joins)


def near_dup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cache_intermediates: Optional[bool] = None,
    max_bucket_ids: Optional[int] = 1024,
) -> DataFrame:
    """Incremental near-dup: which NEW documents are near-duplicates of
    an EXISTING corpus — the filter-new-crawl-against-training-set step,
    the fuzzy sibling of ``dedup_against``.

    Returns ``(id_new, id_corpus, jaccard)`` with ``jaccard >=
    threshold``. Candidates come from an LSH band join of the new
    batch's band frame against the corpus's band frame — new-vs-corpus
    ONLY: the corpus is never self-paired, so incremental cost scales
    with the new batch (the corpus contributes one signature pass and
    its side of the band/verify joins). The bucket-width cap applies to
    the CORPUS side, where degenerate buckets live; the exact-Jaccard
    verify then runs two-sided against both token frames, so ids may
    collide across the two inputs without corrupting the result.

    Scale policy mirrors ``minhash_dedup_pairs``: above
    ``AUTO_PERSIST_BYTES`` the token frames persist (each is consumed
    by signatures AND verify) and the verify joins take MERGE hints
    (compile-time size estimates lie for persisted frames). For steady
    production — many batches against one corpus — precompute the
    corpus frames once with :func:`build_corpus_index` and filter each
    batch via :func:`near_dup_against_index` instead.
    """
    toks_new = tokens_frame(new_df, id_col, text_col, shingle_size)
    toks_corp = tokens_frame(corpus_df, id_col, text_col, shingle_size)
    if cache_intermediates is None:
        cache_intermediates = (
            _estimated_input_bytes(corpus_df) > AUTO_PERSIST_BYTES
        )
    safe_joins = bool(cache_intermediates)
    if cache_intermediates:
        from pyspark import StorageLevel

        toks_new = toks_new.persist(StorageLevel.MEMORY_AND_DISK)
        toks_corp = toks_corp.persist(StorageLevel.MEMORY_AND_DISK)
    bands_new = lsh_band_frame(
        minhash_signatures(toks_new, num_hashes), bands, rows_per_band, None
    )
    bands_corp = lsh_band_frame(
        minhash_signatures(toks_corp, num_hashes),
        bands,
        rows_per_band,
        max_bucket_ids,
    )
    return _near_dup_verify(
        toks_new, bands_new, toks_corp, bands_corp, threshold,
        safe_new=safe_joins, safe_corp=safe_joins,
    )


def _near_dup_verify(
    toks_new: DataFrame,
    bands_new: DataFrame,
    toks_corp: DataFrame,
    bands_corp: DataFrame,
    threshold: float,
    safe_new: bool,
    safe_corp: bool,
) -> DataFrame:
    """Shared tail of the incremental near-dup paths: LSH band equi-join
    (new-vs-corpus only) -> distinct candidate pairs -> two-sided exact
    Jaccard verify. ``safe_new``/``safe_corp`` apply MERGE hints per
    side — a persisted frame's compile-time size estimate lies
    (compressed-scan bytes), so broadcast decisions must not be made
    from it, while an un-persisted side keeps its honest estimate and
    its (measured faster) broadcast plan."""
    if safe_corp:
        bands_corp = bands_corp.hint("merge")
    cands = (
        bands_new.alias("n")
        .join(
            bands_corp.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.id").alias("id_new"), F.col("c.id").alias("id_corpus")
        )
        .distinct()
    )
    sizes_new = toks_new.groupBy("id").agg(F.count("*").alias("n_new"))
    sizes_corp = toks_corp.groupBy("id").agg(F.count("*").alias("n_corp"))
    tn = toks_new.select(F.col("id").alias("id_new"), "token")
    tc = toks_corp.select(F.col("id").alias("id_corpus"), "token")
    if safe_new:
        tn, sizes_new = tn.hint("merge"), sizes_new.hint("merge")
    if safe_corp:
        tc, sizes_corp = tc.hint("merge"), sizes_corp.hint("merge")
    inter = (
        cands.join(tn, "id_new")
        .join(tc, ["id_corpus", "token"])
        .groupBy("id_new", "id_corpus")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes_new.withColumnRenamed("id", "id_new"), "id_new")
        .join(sizes_corp.withColumnRenamed("id", "id_corpus"), "id_corpus")
        .select(
            "id_new",
            "id_corpus",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_new") + F.col("n_corp") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    if threshold > 0.0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


class NearDupCorpusIndex:
    """Persisted, reusable corpus side of the incremental near-dup
    pipeline — the steady-state production shape: the shingle token
    frame and the LSH band frame are pure functions of the corpus, so
    filtering every new crawl batch against the same training corpus
    should pay their computation ONCE, not once per batch
    (``near_dup_against`` recomputes both per call).

    Build with :func:`build_corpus_index`; feed to
    :func:`near_dup_against_index`; release executor storage with
    :meth:`unpersist` when the corpus rotates. The LSH parameters used
    at build time travel with the index so every batch is banded
    identically.
    """

    def __init__(
        self,
        tokens: DataFrame,
        bands_frame: DataFrame,
        shingle_size: int,
        num_hashes: int,
        bands: int,
        rows_per_band: int,
    ):
        self.tokens = tokens
        self.bands_frame = bands_frame
        self.shingle_size = shingle_size
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = rows_per_band

    def unpersist(self) -> None:
        self.tokens.unpersist()
        self.bands_frame.unpersist()


def build_corpus_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_ids: Optional[int] = 1024,
    storage_level: Optional["StorageLevel"] = None,  # noqa: F821
    eager: bool = True,
) -> NearDupCorpusIndex:
    """Precompute the corpus frames ``near_dup_against`` derives per
    call: the distinct shingle token frame (consumed by the Jaccard
    verify and the per-doc size aggregate) and the bucket-capped LSH
    band frame (the corpus side of every batch's candidate join). Both
    persist at MEMORY_AND_DISK (spill-safe: a 100 TB corpus's token
    frame lands on local disk, never OOM) and, with ``eager``, are
    materialized here so the first batch doesn't pay the build inside
    its own job. Amortized steady-state cost per batch is then only the
    batch's own shingle/signature work plus the band join and verify —
    see SCALE.md "near_dup_incr steady-state index A/B"."""
    from pyspark import StorageLevel

    level = storage_level or StorageLevel.MEMORY_AND_DISK
    toks = tokens_frame(corpus_df, id_col, text_col, shingle_size).persist(level)
    band_frame = lsh_band_frame(
        minhash_signatures(toks, num_hashes), bands, rows_per_band, max_bucket_ids
    ).persist(level)
    if eager:
        # materialize bottom-up; banding reads the already-pinned tokens
        toks.count()
        band_frame.count()
    return NearDupCorpusIndex(
        toks, band_frame, shingle_size, num_hashes, bands, rows_per_band
    )


def near_dup_against_index(
    new_df: DataFrame,
    index: NearDupCorpusIndex,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    cache_new: Optional[bool] = None,
) -> DataFrame:
    """Steady-state sibling of ``near_dup_against``: filter a NEW batch
    against a prebuilt :class:`NearDupCorpusIndex`. Same result frame
    ``(id_new, id_corpus, jaccard >= threshold)``, same construction —
    the batch is shingled and banded with the index's own LSH
    parameters, then runs the shared band-join + exact-verify tail —
    but the corpus contributes ZERO recomputation: both its frames come
    out of the persisted index. The corpus side always takes the
    persisted-frame MERGE posture; the batch side persists (it feeds
    signatures, verify, and the size aggregate) when Catalyst estimates
    it above ``AUTO_PERSIST_BYTES``, or per ``cache_new``."""
    toks_new = tokens_frame(new_df, id_col, text_col, index.shingle_size)
    if cache_new is None:
        cache_new = _estimated_input_bytes(new_df) > AUTO_PERSIST_BYTES
    if cache_new:
        from pyspark import StorageLevel

        toks_new = toks_new.persist(StorageLevel.MEMORY_AND_DISK)
    bands_new = lsh_band_frame(
        minhash_signatures(toks_new, index.num_hashes),
        index.bands,
        index.rows_per_band,
        None,
    )
    return _near_dup_verify(
        toks_new, bands_new, index.tokens, index.bands_frame, threshold,
        safe_new=bool(cache_new), safe_corp=True,
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


#: per-bits cache of the Arrow fingerprint UDFs (pandas_udf registration
#: costs a py4j round trip; every call site reuses one function object)
_SIMHASH_ARROW_UDFS: dict = {}


def _simhash_arrow_udf(bits: int):
    """Vectorized SimHash vote kernel: an Arrow ``pandas_udf`` taking the
    TOKEN ARRAY column and returning the ``bits``-bit fingerprint. Per
    batch: flatten the token arrays and factorize them, so each DISTINCT
    token is hashed once (md5/sha256 via hashlib — C speed); extract the
    top bit of each used digest nibble with two numpy shifts; give each
    token occurrence its bit row by inverse id; ``np.add.reduceat`` sums
    the votes per document; pack the sign bits.

    Nibble b of the hex digest >= '8' == bit 7 (even b) / bit 3 (odd b)
    of digest byte b//2; vote rule ``2 * set_count > n`` strict; NULL or
    empty token array -> 0."""
    if bits in _SIMHASH_ARROW_UDFS:
        return _SIMHASH_ARROW_UDFS[bits]
    assert 1 <= bits <= 63, "bigint fingerprint holds at most 63 bits"
    nbytes = (bits + 1) // 2  # digest bytes that carry the used nibbles
    hasher = hashlib.md5 if bits <= 32 else hashlib.sha256
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("long")
    def _fp(tokens: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if t is None else len(t) for t in tokens), np.int64, len(tokens)
        )
        out = np.zeros(len(tokens), dtype=np.int64)
        rows = np.flatnonzero(lens)
        if rows.size == 0:
            return pd.Series(out)
        codes, uniq = pd.factorize(
            np.concatenate([tokens.iat[i] for i in rows]), use_na_sentinel=False
        )
        digests = np.frombuffer(
            b"".join(hasher(t.encode("utf-8")).digest()[:nbytes] for t in uniq),
            dtype=np.uint8,
        ).reshape(len(uniq), nbytes)
        # even nibble index 2j = high nibble of byte j (>= 8 == top
        # bit); odd nibble 2j+1 = low nibble (its bit 3)
        token_bits = np.empty((len(uniq), 2 * nbytes), dtype=np.uint8)
        token_bits[:, 0::2] = digests >> 7
        token_bits[:, 1::2] = (digests >> 3) & 1
        n = lens[rows]
        votes = np.add.reduceat(
            token_bits[codes, :bits], np.cumsum(n) - n, axis=0, dtype=np.int64
        )
        out[rows] = (votes * 2 > n[:, None]) @ weights
        return pd.Series(out)

    _SIMHASH_ARROW_UDFS[bits] = _fp
    return _fp


def simhash(col: Column, bits: int = 16) -> Column:
    """``bits``-bit SimHash fingerprint of the whitespace token multiset.

    Bit b of a token's hash = (hex digit b of md5(token)) >= '8' — i.e. the
    top bit of each md5 nibble, giving up to 32 independent bits; wider
    fingerprints read sha2-256's 64 nibbles. The fingerprint sets bit b
    when the signed token-vote sum is positive: sum_b = 2*|{t: bit_b(t)}|
    - n. NULL text -> 0. Zero shuffle.

    Tokenization (``split(trim(lower(col)), '\\s+')``) stays in the JVM,
    so the token contract is Spark's own; only the token arrays cross to
    Python, where one Arrow ``pandas_udf`` projection hashes and votes.
    A per-bit expression form (32 filter scans, ~1.5k Catalyst nodes)
    costs more to analyze and compile than to run, and is recompiled per
    streaming micro-batch (measured at sf0.1 local[32]: simhash 1.30 ->
    0.84 s, streaming_simhash 15.6 -> 2.6 s). ``simhash_sql`` is the
    value-identical DuckDB twin; tests/test_simhash_arrow.py pins
    bit-identity against the expression form.

    The fingerprint column is non-nullable (``coalesce(kernel, 0)``; the
    kernel already returns 0 for NULL or empty input). A nullable one lets
    a ``bit_count(fp_a ^ fp_b) <= d`` join condition infer
    ``isnotnull(fp)``, which Catalyst pushes below the projection, so each
    probe side planned the kernel twice.
    """
    tokens = F.split(F.trim(F.lower(col)), r"\s+")
    return F.coalesce(_simhash_arrow_udf(bits)(tokens), F.lit(0).cast("long"))


def simhash_sql(expr: str, bits: int = 16) -> str:
    """DuckDB twin of ``simhash`` (list_filter over the same md5 nibbles;
    digests computed once via list_transform, matching the Spark plan;
    sha256 nibbles above 32 bits, like the operator)."""
    toks = f"regexp_split_to_array(trim(lower({expr})), '\\s+')"
    fn = "md5" if bits <= 32 else "sha256"
    hashes = f"list_transform({toks}, t -> {fn}(t))"
    terms = []
    for b in range(bits):
        set_count = (
            f"len(list_filter({hashes}, h -> substring(h, {b + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f')))"
        )
        terms.append(
            f"CASE WHEN {set_count} * 2 > len({toks}) THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def simhash_block_bounds(bits: int, max_hamming: int) -> List[tuple]:
    """(start, width) of the ``max_hamming + 1`` disjoint bit segments used
    for pigeonhole blocking: if two fingerprints differ in at most d bits,
    at least one of d+1 disjoint segments contains zero flips, so the pair
    shares that segment exactly. Widths are as even as the split allows.

    Shared by the Spark operator and the DuckDB SQL twin so both sides
    block identically by construction.
    """
    num_blocks = max_hamming + 1
    if num_blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {num_blocks} non-empty blocks "
            f"but the fingerprint has only {bits} bits"
        )
    base, rem = divmod(bits, num_blocks)
    bounds, start = [], 0
    for i in range(num_blocks):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def _simhash_blocks(fp: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """(id, fp, part, block) pigeonhole rows for a ``(id, fp)`` frame —
    one row per disjoint fingerprint segment per doc. Single-scan
    blocking (the round-3 minhash banding lesson): ONE explode of an
    array(struct(part, block)) column, not one union arm per segment —
    union arms re-evaluate the fingerprint per arm AND per join side
    (measured 2.6x slower at sf0.1). Never persists, so a streaming
    frame and the pinned corpus index build on it unchanged."""
    entries = F.array(
        *[
            F.struct(
                F.lit(part).alias("part"),
                F.shiftright(F.col("fp"), start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("block"),
            )
            for part, (start, width) in enumerate(
                simhash_block_bounds(bits, max_hamming)
            )
        ]
    )
    return fp.select("id", "fp", F.explode(entries).alias("__e")).select(
        "id",
        "fp",
        F.col("__e.part").alias("part"),
        F.col("__e.block").alias("block"),
    )


def _simhash_block_frame(
    fp: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """:func:`_simhash_blocks` for a per-call join: the exploded frame
    auto-persists above the measured crossover so the fingerprint
    computes exactly once; toy inputs skip the materialization stage
    overhead."""
    parts = _simhash_blocks(fp, bits, max_hamming)
    if _estimated_input_bytes(fp) > AUTO_PERSIST_BYTES:
        parts = parts.persist()
    return parts


def simhash_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """Incremental SimHash near-dup: NEW documents within
    ``max_hamming`` bit flips of an EXISTING corpus document — the
    fingerprint-space sibling of ``near_dup_against``, for the
    filter-new-crawl-batch step when the dedup policy is SimHash-based.

    Returns ``(id_new, id_corpus, hamming)`` with ``hamming <=
    max_hamming``. Candidates come from the same pigeonhole segment
    blocking as the full pipeline, joined new-vs-corpus ONLY: the
    corpus is never self-paired, so per-batch cost scales with the
    batch's side of the segment join (the corpus contributes one
    fingerprint scan + its block rows). Unlike Jaccard-recalled
    MinHash-LSH, recall here is EXACT at the declared radius
    (pigeonhole over ``max_hamming + 1`` disjoint segments), so the
    incremental result equals the full self-join restricted to cross
    pairs — pytest-gated. Ids may collide across the two inputs without
    corrupting the result (sides are joined by role, not pooled).

    Steady-state posture: the corpus block frame is a pure function of
    the corpus — pin it across batches with
    ``simhash_index.build_simhash_index`` (the frame auto-persists above
    ``AUTO_PERSIST_BYTES`` within one call already).
    """
    fp_new = new_df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("fp")
    )
    fp_corp = corpus_df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("fp")
    )
    n = _simhash_block_frame(fp_new, bits, max_hamming).alias("n")
    c = _simhash_block_frame(fp_corp, bits, max_hamming).alias("c")
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
        F.col("hamming") <= max_hamming
    )


def simhash_pairs_from_fingerprints(
    fp: DataFrame, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Candidate-join + exact-verify stage of SimHash near-dup, on a frame
    with columns ``(id, fp)``. Exposed separately so recall can be tested
    against brute-force popcount on crafted fingerprints.

    Blocking: one row per (segment index, segment value) per doc —
    ``max_hamming + 1`` disjoint segments (see ``simhash_block_bounds``).
    Pigeonhole guarantees every true pair collides in at least one segment;
    ``bit_count(xor)`` then verifies exactly, so the result is exact recall
    at the declared ``max_hamming`` (the old two-half blocking only
    guaranteed recall at hamming <= 1). Scale shape is unchanged: a
    segment-keyed self-join, never all-pairs; segments shrink as
    max_hamming grows, so degenerate-block fan-out is the cost of deeper
    radius — cap with an upstream filter if a segment value dominates.
    """
    parts = _simhash_block_frame(fp, bits, max_hamming)
    a, b = parts.alias("a"), parts.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def auto_simhash_bits(n_docs: int, max_hamming: int = 2) -> int:
    """Fingerprint width that keeps pigeonhole blocking discriminating at
    ``n_docs`` corpus size.

    Blocking splits the fingerprint into ``max_hamming + 1`` disjoint
    segments; a segment of width w has 2^w buckets, and expected bucket
    load is n/2^w for near-random fingerprints. Candidate-join fan-out
    stays ~linear while the load is O(1), so size each segment to
    ``w >= log2(n)``: total bits = (max_hamming+1) * ceil(log2(n)),
    clamped to [16, 63] (bigint fingerprint; 63-bit saturates around
    n = 2^21 per segment at d=2 — beyond that, cap dominant blocks
    upstream the way minhash banding caps ``max_bucket_ids``).

    The trade: fingerprint cost is O(n * bits * tokens) (one vote
    per bit) while candidate-join cost is O(sum over buckets of
    load^2) — the n^2-shaped term blocking exists to control. Measured
    at sf0.1 (5k docs, d=2): auto=39 bits cuts candidates 6.9x vs
    16-bit (5.35M -> 0.78M) but costs more wall-clock there because at
    5k docs the fingerprint term still dominates. The heuristic is the
    100 TB path: bucket load stays O(1) as n grows, so the quadratic
    term never takes over (SCALE.md "SimHash auto bit-width A/B" has
    the full table). Pin a small fixed width only when the corpus is
    known-small.
    """
    n_docs = max(2, int(n_docs))
    seg = max(6, math.ceil(math.log2(n_docs)))
    return min(63, max(16, (max_hamming + 1) * seg))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits=16,
    max_hamming: int = 2,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips of their ``bits``-bit SimHash.

    Fingerprint is one Arrow projection (zero shuffle); candidates come
    from pigeonhole blocking on ``max_hamming + 1`` disjoint bit segments
    (exact recall — see ``simhash_pairs_from_fingerprints``), then exact
    popcount verifies. Never materializes all-pairs.

    ``bits="auto"`` sizes the fingerprint to the corpus via
    ``auto_simhash_bits`` (one count() job — negligible next to the
    candidate join it right-sizes). Fixed widths stay available for
    reproducibility-pinned pipelines (the declared oracle query pins 32).
    """
    if bits == "auto":
        bits = auto_simhash_bits(df.count(), max_hamming)
    fp = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("fp"))
    return simhash_pairs_from_fingerprints(fp, bits=bits, max_hamming=max_hamming)


def simhash_blocks_sql(bits: int, max_hamming: int) -> str:
    """DuckDB twin of the blocking stage: the ``blocks`` CTE body over a
    ``fps(id, fp)`` relation, one UNION ALL arm per segment, generated from
    the same ``simhash_block_bounds`` as the Spark operator."""
    arms = []
    for part, (start, width) in enumerate(simhash_block_bounds(bits, max_hamming)):
        # fp is nonnegative, so integer div/mod == shift/mask
        arms.append(
            f"SELECT id, fp, {part} AS part, (fp // {1 << start}) % {1 << width} AS block FROM fps"
        )
    return "\n  UNION ALL\n  ".join(arms)


# --------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs.
# --------------------------------------------------------------------------


#: observability: stats of the most recent connected_components run in
#: this process ({"rounds": n, "changed": [per-round changed-label
#: counts]}). bench.py reports the round count next to wall time so CC
#: convergence regressions are visible round-over-round, not just as an
#: unexplained slowdown.
LAST_CC_STATS: dict = {}


CC_SINGLE_TASK_EDGES = 5_000_000
"""Base-case floor for ``connected_components``: a contracted graph at or
below this edge count is solved by ONE union-find task (a Python
dict-based find/union over ~5M edges runs in seconds and bounded memory);
larger graphs take another contraction level instead."""


def _union_find_partition(batches):
    """Per-partition union-find over (src, dst) edge batches: emit one
    (id, root) row per node seen in this partition, root = the node set's
    minimum id (union-by-min + path compression keeps that invariant).
    Runs inside mapInPandas — bounded by the partition's node count."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            a, b = int(a), int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # min id stays the root
    if parent:
        ids = list(parent)
        yield pd.DataFrame(
            {"id": ids, "root": [find(x) for x in ids]},
            dtype="int64",
        )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    single_task_edges: Optional[int] = None,
) -> DataFrame:
    """(id, component) labels for the undirected graph of (id_a, id_b)
    edges; component = smallest id reachable from the node.

    The canonical post-pair-generation dedup step: near-dup PAIRS become
    duplicate CLUSTERS, and "keep one per cluster" is then a groupBy on
    the component label.

    Algorithm (round 5: recursive contraction with per-partition
    union-find — replaced the min-label-propagation loop, whose round
    count tracked graph diameter and cost one shuffle join + one
    localCheckpoint + one driver collect PER ROUND; the semantic-dedup
    graph needed 12 rounds / ~8 s at sf0.1, now 1 level / <1 s):

    1. every edge lives in exactly one partition, so one ``mapInPandas``
       union-find pass collapses ALL intra-partition connectivity into
       (node, local-min-root) mappings — linear work, no shuffle;
    2. cross-partition connectivity survives only through nodes present
       in several partitions (their mappings disagree): one map-combined
       aggregation turns each such node's root set into contracted
       edges, typically a tiny fraction of the input;
    3. recurse on the contracted graph; at or below
       ``CC_SINGLE_TASK_EDGES`` edges one union-find task finishes it.
       Final labels compose back down one join per level.

    Levels are O(log #partitions) in the worst case and 1-2 in practice
    (vs O(diameter) propagation rounds); ``max_iterations`` bounds the
    recursion and a ValueError reports non-contraction rather than
    returning wrong labels. Union-by-min makes every level's root the
    minimum id of its set, so the final label is the component minimum —
    deterministic, engine-checkable (the ``dup_clusters`` oracle is a
    DuckDB recursive-CTE closure). ``LAST_CC_STATS`` records the level
    count and per-level edge counts.

    ``single_task_edges`` overrides the module default
    ``CC_SINGLE_TASK_EDGES`` (5M) — the edge count below which one task
    finishes the graph exactly. At 100 TB a near-dup pair graph's
    level-0 contraction can exceed any single task's budget, forcing
    depth ≥ 2; locally that regime is reproduced by lowering this knob
    (SCALE.md "CC depth-2 contraction", ``tests/test_dedup.py``) rather
    than by fixtures too large to test.
    """
    budget = (
        single_task_edges if single_task_edges is not None else CC_SINGLE_TASK_EDGES
    )
    sym = edges.select(
        F.col("id_a").cast("bigint").alias("src"),
        F.col("id_b").cast("bigint").alias("dst"),
    )
    LAST_CC_STATS.clear()
    LAST_CC_STATS["rounds"] = 0
    LAST_CC_STATS["changed"] = []

    def solve(e: DataFrame, depth: int) -> DataFrame:
        if depth >= max_iterations:
            raise ValueError(
                f"connected_components did not contract in {max_iterations} "
                "levels; the partition structure is not reducing the graph "
                "(raise max_iterations or repartition the edge input)"
            )
        # materialize the edge frame ONCE before branching: the count and
        # the union-find pass(es) below otherwise each re-execute the
        # upstream subtree — at level 0 that subtree is the whole
        # pair-generation pipeline (measured: dup_clusters ran its simhash
        # blocking twice, ~1.2 s of pure recompute at sf0.1)
        e = e.localCheckpoint()
        n_edges = e.count()
        LAST_CC_STATS["rounds"] += 1
        LAST_CC_STATS["changed"].append(int(n_edges))
        if n_edges <= budget:
            # one task unions the whole (contracted) graph exactly
            labels = (
                e.coalesce(1)
                .mapInPandas(_union_find_partition, "id long, root long")
                .select("id", F.col("root").alias("comp"))
                .localCheckpoint()
            )
            release(e)  # materialized into `labels`; never read again
            register_pinned(labels)
            return labels
        mapping = e.mapInPandas(
            _union_find_partition, "id long, root long"
        ).localCheckpoint()  # materialize once: reused by steps 2 and 3
        release(e)
        register_pinned(mapping)  # the caller's labels read from it
        contracted = (
            mapping.groupBy("id")
            .agg(F.min("root").alias("__r0"), F.collect_set("root").alias("__rs"))
            .select(
                F.col("__r0").alias("src"), F.explode("__rs").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            # co-locate the contracted graph by component root before the
            # next level's union-find: every edge of one (partial)
            # component lands in one partition and collapses there, so
            # levels track the CROSS-root structure instead of random
            # placement. Measured on the adversarial scattered-chain
            # graph (180k edges / 32 partitions, budget 20k): levels
            # 7 -> 3, wall 14.8 -> 10.3 s (SCALE.md "CC depth-2
            # contraction"). Single-level runs never build this frame.
            .repartition("src")
        )
        sub = solve(contracted, depth + 1)
        return (
            mapping.join(sub, mapping["root"] == sub["id"], "left")
            .select(
                mapping["id"].alias("id"),
                F.coalesce(sub["comp"], mapping["root"]).alias("comp"),
            )
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )

    return solve(sym, 0)


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """(id, cluster) for EVERY row of ``df``: pair-connected docs share
    their component's min id; singletons are their own cluster. Keeping
    ``min(id) == id`` rows (or ``F.first`` per cluster) then dedups the
    corpus with near-dup semantics instead of exact-hash semantics."""
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("cluster"))
    )


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware near-dup retention: label every row with its
    duplicate cluster (connected components over ``pairs``) and keep
    the highest-``score_col`` row per cluster — the curation decision
    production pipelines actually make: keep the BEST copy of each
    duplicate group, not an arbitrary (min-id) one. Singletons keep
    themselves. Ties break on ascending id — a total order, so the
    survivor is engine-deterministic.

    Output: the kept rows with their original columns plus ``cluster``.
    The per-cluster window is partitioned on the cluster label, whose
    cardinality is ~corpus-sized by construction (clusters are small),
    so there is no low-cardinality window hazard; the only data
    movements are the cluster join and the window's hash exchange on
    ``cluster``.
    """
    if "cluster" in df.columns:
        raise ValueError(
            "keep_best_per_cluster adds a 'cluster' column; rename the "
            "existing one first"
        )
    # Alias the component frame's columns before joining: its id column
    # is literally named "id", so an unqualified join condition would be
    # AMBIGUOUS whenever id_col == "id" (the common case).
    comp = dedup_clusters(df, pairs, id_col).select(
        F.col("id").alias("__cc_id"), "cluster"
    )
    joined = df.join(
        comp, df[id_col].cast("bigint") == comp["__cc_id"]
    ).drop("__cc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col).cast("bigint").asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
