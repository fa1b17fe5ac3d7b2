#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

value = total wall-clock of one pass over all bench queries (median of
BENCH_RUNS runs, default 1 for driver speed; set BENCH_RUNS=3 locally).
Each query is fully materialized via a count-ish action that forces every
operator but avoids driver-side result transfer.

$SPARK_GRAFT_CPUS defaults to the number of CPUs this process may run on,
and the driver heap is an eighth of the machine's RAM, between 1 and 8 GiB.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from ml_hadoop_experiment_spark.common.cache_registry import release_pinned
from ml_hadoop_experiment_spark.common.session import get_session
from ml_hadoop_experiment_spark.plans.prefix import release_prefix_caches
from ml_hadoop_experiment_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
RUNS = int(os.environ.get("BENCH_RUNS", "2"))


def free_record_name(directory: str, name: str) -> str:
    """``name`` if no file in ``directory`` has it, else the first free
    one of ``<stem>_<CPUS>c.json``, ``<stem>_<CPUS>c_2.json``, ...: a
    sweep never replaces a committed record (a sweep on another host's
    core count would otherwise take its name)."""
    stem = name[: -len(".json")]
    candidates = [name, f"{stem}_{CPUS}c.json"]
    candidates += [f"{stem}_{CPUS}c_{i}.json" for i in range(2, 1000)]
    return next(
        n for n in candidates if not os.path.exists(os.path.join(directory, n))
    )


# Headline set: one per operator family (BASELINE.md's bench plan) plus the
# join pipeline. Cheap metadata-only queries are excluded.
BENCH_QUERIES = [
    "udf_linear_score",
    "sample_stratified",
    "vocab_build",
    "vocab_tokens",
    "sparse_coo",
    "pricing_summary",
    "segment_revenue",
    # extensions
    "mixture_sample",
    "token_budget",
    "rare_tokens",
    "text_stats",
    "doc_fingerprint",
    "tfidf_topk",
    "bpe_pairs",
    "dedup_exact",
    "dedup_bloom",
    "near_dup_pairs",
    "near_dup_incr",
    "repeated_spans",
    "simhash",
    "simhash_incr",
    "overlap_pairs",
    "dedup_keep_best",
    "ann_topk",
    "ann_topk_batch",
    "ivf_topk",
    "embedding_near_dup",
    # temporal + relational breadth
    "events_rollup",
    "events_asof",
    "sessionize",
    "session_stats",
    "range_join",
    "json_props",
    # pipeline compositions
    "train_split",
    "doc_pipeline",
    "window_topk",
    "rollup_counts",
    "anti_join",
    "user_similarity",
    "kmv_distinct",
    "quantiles",
    "image_dims",
    "audio_meta",
    "frame_sample",
    "bm25_topk",
    "salted_join",
    # round-4 extensions: curation, weighted sampling, robust stats, layout
    "decontaminate",
    "dedup_normalized",
    "weighted_sample",
    "outlier_stats",
    "segment_trend",
    "zorder_stats",
    "heavy_hitters",
    "feature_hist",
    "corr_matrix",
    "feature_hash",
    "doc_chunks",
    "pack_bins",
    "global_rank",
    "trailing_window",
    "cohort_retention",
    "funnel_counts",
    "event_pivot",
    "pii_redaction",
    "simhash_pairs",
    "tokens_to_ids",
    "llm_pipeline",
    # round-8 diagnostics tier
    "skew_report",
    "snapshot_diff",
    "dq_audit",
    "gap_fill",
    "trimmed_stats",
    "kfold_assign",
    "twap",
    "event_transitions",
    "session_paths",
    "series_topk",
    "chi_square",
    "profile_table",
    "repeated_ngrams",
    "fuzzy_match",
    "snm_pairs",
    "robust_scale",
    "impute_median",
    "cdf_normalize",
    "lag_features",
    "region_revenue",
    "returned_customers",
    "promo_share",
    "big_orders",
    # round-8 additions: oracle-gated iterative clustering + quantized ANN
    "kmeans_clusters",
    "quantized_topk",
    # connected-components pipelines (round 5: benched with convergence
    # round counts — the two most expensive plans must be tracked, not
    # excluded; see "cc_rounds" in the output JSON)
    "dup_clusters",
    "semantic_dedup",
    # structured streaming (availableNow drains: each call runs the whole
    # micro-batch pipeline to completion, so the timing includes source
    # listing, state-store updates, and sink commit — the micro-batch
    # overhead this bench exists to track round-over-round)
    "streaming_dedup",
    "streaming_rollup",
    "streaming_sessionize",
    "streaming_score",
    "streaming_interval_join",
    "streaming_enrich",
    # round-9 promotions (the nine round-8-staged queries, now declared)
    # + the simhash_index steady-state query
    "unigram_xent",
    "jaccard_join",
    "pmi_bigrams",
    "source_overlap",
    "cms_audit",
    "neyman_sample",
    "jl_project",
    "bigram_xent",
    "topk_similar_pairs",
    "simhash_index",
    "group_split",
    "split_leakage",
    "hll_audit",
    "ngram_novelty",
    "quality_rules",
    "pq_topk",
    "streaming_distinct",
    "oov_rate",
    # round-10 additions: steady-state + composed ANN, iterative BPE,
    # streaming MG heavy hitters, image content dedup
    "pq_index_topk",
    "ivf_pq_topk",
    "ivf_pq_residual",
    "pq_residual_index",
    "bpe_merges",
    "bpe_encode",
    "streaming_heavy_hitters",
    "streaming_sample",
    "image_near_dup",
    "kmv_source_overlap",
    # round-10 late additions: trained trigram language ID, streaming
    # fixed-width histogram quantiles, Hilbert layout audit
    "language_id",
    "streaming_quantiles",
    "hilbert_stats",
    "mixture_plan",
    "streaming_moments",
    "psi_drift",
    "streaming_psi",
    "ks_drift",
    "token_fertility",
    # round-11 additions
    "ivf_pq_routed",
    "unigram_learn",
    "unigram_encode",
    "image_near_dup_mixed",
    "decontaminate_spans",
    "line_dedup",
    "dsir_select",
    # round-12 additions: the tokenizer triad's third family, the sklearn
    # adapter's oracle gate, audio content dedup, any-length exact-substring
    # decontamination, and the routed-index serving probe (build amortized
    # across the sweep by the declared query's per-process cache)
    "wordpiece_learn",
    "wordpiece_encode",
    "sklearn_score",
    "audio_near_dup",
    "decontaminate_exact",
    "dedup_substrings",
    "pq_rerank",
    "streaming_simhash",
    "ivf_pq_routed_steady",
    # round-13 additions: URL-level dedup (pure codegen canonicalization
    # + digest window), paragraph-block dedup, the DSIR resampled
    # corpus, and image content dedup over the BMP+PNG+JPEG mix (the
    # JPEG leg prices the Huffman+IDCT decode path)
    "url_dedup",
    "paragraph_dedup",
    "dsir_resample",
    "image_near_dup_jpeg",
    # round-13 late additions: domain-level crawl rollup, per-domain
    # grouped boilerplate removal, CCNet perplexity bucketing,
    # embedding-tier semantic benchmark decontamination
    "domain_stats",
    "boilerplate_grouped",
    "quality_buckets",
    "decontaminate_semantic",
]


def _bench_shuffle_sink(spark) -> None:
    """BASELINE.md bench item 4 — seeded global shuffle + spec-projected
    TFRecord sink of orders (R4/S2), written to a throwaway dir."""
    import shutil
    import tempfile

    from ml_hadoop_experiment_spark.schema.feature_spec import FixedLenFeature
    from ml_hadoop_experiment_spark.sources.tfrecords import write_tfrecords

    specs = {
        "o_orderkey": FixedLenFeature([], "int64", default_value=0),
        "o_custkey": FixedLenFeature([], "int64", default_value=0),
        "o_totalprice": FixedLenFeature([], "float32", default_value=0.0),
    }
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = tempfile.mkdtemp(prefix="bench_tfr_")
    try:
        write_tfrecords(orders, specs, out, shuffle_seed=42)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _bench_quantiles_approx(spark) -> None:
    """The approx-percentile production plan, timed WITHOUT its exact
    yardstick (the declared quantiles_approx query carries the exact
    percentile only to hash-gate the sketch's tolerance): GK summaries,
    bounded memory per group, mergeable partials — the plan that replaces
    exact percentile's per-group value buffering at 100 TB."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
            ).alias("ap"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("ap")[0].alias("p50"),
            F.col("ap")[1].alias("p95"),
            "n_rows",
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _bench_kmv_sketch(spark) -> None:
    """The KMV sketch alone — the declared kmv_distinct query joins an
    exact countDistinct next to the estimate for est-vs-truth display,
    which doubles its cost without being part of the sketch. This entry
    times what a 100 TB cardinality estimate actually runs."""
    from ml_hadoop_experiment_spark.operators.sketches import kmv_distinct

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=256).write.format(
        "noop"
    ).mode("overwrite").save()


def _bench_feature_hist_approx(spark) -> None:
    """The equi-depth histogram production plan: approx_percentile
    boundaries (GK sketch, mergeable, bounded memory) instead of the
    declared query's exact single-group percentile — the same
    exact-vs-approx pairing as quantiles/quantiles_approx."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    fracs = ", ".join(str(i / 10) for i in range(1, 10))
    bnds = li.agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array({fracs}), 10000)"
        ).alias("__bnds")
    )
    v = F.col("l_extendedprice").cast("double")
    (
        li.join(F.broadcast(bnds))
        .withColumn("bin", F.size(F.filter(F.col("__bnds"), lambda b: v > b)))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min(v).alias("lo"), F.max(v).alias("hi"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _bench_profile_approx(spark) -> None:
    """The column-profile production plan: approx_count_distinct replaces
    the declared query's exact count(DISTINCT) trio, collapsing the
    Expand (which duplicates every row once per distinct column) into a
    single-pass aggregation of mergeable HLL sketches — the plan that
    survives 100 TB where the exact profile's 4x row expansion does not."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    aggs = []
    for c in ("l_extendedprice", "l_quantity", "l_discount"):
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c).alias(f"{c}__dist"),
            F.min(F.col(c)).cast("double").alias(f"{c}__min"),
            F.max(F.col(c)).cast("double").alias(f"{c}__max"),
            (
                F.sum(F.col(c).cast("decimal(25,6)")).cast("double")
                / F.count(F.col(c))
            ).alias(f"{c}__mean"),
        ]
    li.agg(*aggs).write.format("noop").mode("overwrite").save()


def _bench_outlier_stats_approx(spark) -> None:
    """mad_outliers production path: approx_percentile medians (mergeable
    GK sketch, bounded memory per group) — the same plan shape as the
    declared outlier_stats query's exact-percentile yardstick."""
    from ml_hadoop_experiment_spark.operators.stats import mad_outliers

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    mad_outliers(li, ["l_returnflag"], "l_extendedprice", approx=True).write.format(
        "noop"
    ).mode("overwrite").save()


_NEAR_DUP_INDEX_CACHE: dict = {}


def _bench_near_dup_incr_steady(spark) -> None:
    """near_dup_against_index steady state: the corpus index (persisted
    token + LSH band frames) is built ONCE — during the warmup passes —
    and every timed pass filters the new batch against it, exactly the
    per-crawl-batch cost a production pipeline pays after amortizing the
    index build. Pair with the declared near_dup_incr entry (which
    rebuilds the corpus side per call) for the A/B."""
    from pyspark.sql import functions as F

    from ml_hadoop_experiment_spark.operators.dedup import (
        build_corpus_index,
        near_dup_against_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    index = _NEAR_DUP_INDEX_CACHE.get("index")
    if index is None:
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_corpus_index(
            corpus, "doc_id", "text", shingle_size=3, num_hashes=8,
            bands=4, rows_per_band=2,
        )
        _NEAR_DUP_INDEX_CACHE["index"] = index
    new = docs.where(F.col("doc_id") % 10 == 0)
    near_dup_against_index(
        new, index, "doc_id", "text", threshold=0.3
    ).write.format("noop").mode("overwrite").save()


_SIMHASH_INDEX_CACHE: dict = {}


def _bench_simhash_incr_steady(spark) -> None:
    """Amortized form of simhash_incr: the corpus fingerprint+block
    frame is built ONCE (first call of the sweep, via
    operators/simhash_index.build_simhash_index) and every timed pass
    filters the new batch against the pinned index — the per-crawl-
    batch cost after amortizing the corpus scan. Pair with the
    declared simhash_incr entry (which re-fingerprints the corpus per
    call) for the A/B; SCALE.md "simhash_incr steady-state index A/B"
    has the isolated numbers."""
    from pyspark.sql import functions as F

    from ml_hadoop_experiment_spark.operators.simhash_index import (
        build_simhash_index,
        simhash_against_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    index = _SIMHASH_INDEX_CACHE.get("index")
    if index is None:
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=32, max_hamming=3,
            register=False,  # this pin amortizes ACROSS sweep entries
        )
        _SIMHASH_INDEX_CACHE["index"] = index
    new = docs.where(F.col("doc_id") % 10 == 0)
    simhash_against_index(new, index, "doc_id", "text").write.format(
        "noop"
    ).mode("overwrite").save()


def _bench_trimmed_stats_approx(spark) -> None:
    """trimmed_stats production path: approx_percentile fences — the
    exact-vs-approx pairing of the declared trimmed_stats query."""
    from ml_hadoop_experiment_spark.operators.stats import trimmed_stats

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    trimmed_stats(li, ["l_returnflag"], "l_extendedprice", approx=True).write.format(
        "noop"
    ).mode("overwrite").save()


_PQ_INDEX_CACHE: dict = {}


def _bench_pq_index_steady(spark) -> None:
    """Amortized form of pq_index_topk: the codebooks + (id, code)
    frame are built ONCE (first call of the sweep) and every timed
    pass is one ADC-lookup probe against the pinned codes — the
    per-query serving cost after amortizing the trainer and encode
    scan. Pair with the declared pq_index_topk entry (which rebuilds
    per call, the driver-gate contract) for the A/B; SCALE.md
    "pq_topk steady-state index A/B" has the isolated numbers."""
    from pyspark.sql import functions as F

    from ml_hadoop_experiment_spark.operators.pq_index import (
        build_pq_index,
        pq_topk_against_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = _PQ_INDEX_CACHE.get("index")
    if idx is None:
        idx = build_pq_index(
            emb, "vec_id", "embedding", dim=64, n_subspaces=4,
            codebook_k=8, iters=2, train_fraction=0.5, seed=3,
            register=False,  # this pin amortizes ACROSS sweep entries
        )
        _PQ_INDEX_CACHE["index"] = idx
        _PQ_INDEX_CACHE["query"] = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
        ]
    pq_topk_against_index(
        idx, _PQ_INDEX_CACHE["query"], k=20, exclude_id=0
    ).write.format("noop").mode("overwrite").save()


EXTRA_BENCHES = {
    "tfrecord_sink": _bench_shuffle_sink,
    "quantiles_approx": _bench_quantiles_approx,
    "kmv_sketch": _bench_kmv_sketch,
    "feature_hist_approx": _bench_feature_hist_approx,
    "profile_approx": _bench_profile_approx,
    "outlier_stats_approx": _bench_outlier_stats_approx,
    "trimmed_stats_approx": _bench_trimmed_stats_approx,
    "near_dup_incr_steady": _bench_near_dup_incr_steady,
    "simhash_incr_steady": _bench_simhash_incr_steady,
    "pq_index_steady": _bench_pq_index_steady,
}


def _run_canary(spark) -> list[float]:
    """Quiet-host gate (r11 verdict task #2): a fixed trivial query —
    lineitem groupBy(l_returnflag).count() — timed 3x after 2 warmups.
    Its max/min ratio measures ambient host load on a plan too small to
    have its own variance; a ratio > CANARY_MAX_RATIO means the sweep
    ran under CPU steal and the durable record is demoted to *_noisy
    (never an anchor — BASELINE.md "Durable bench records").

    The leg starts from a settled heap (explicit System.gc() + 2 s
    pause): the closing leg runs right after a ~240 s allocation burst
    (170 plans' worth of codegen classes and shuffle buffers), and G1's
    concurrent drain of that debt otherwise bleeds into the canary
    samples as a rising 0.23→0.38 s ramp (observed round 13) — GC debt
    is JVM state, not the ambient host load this gate exists to detect.
    The gate itself is unchanged (3 timed samples, max/min ≤ 1.35)."""
    from pyspark.sql import functions as F

    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # canary must never fail the bench
    time.sleep(2.0)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    times: list[float] = []
    for i in range(7):
        t0 = time.perf_counter()
        li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n")
        ).write.format("noop").mode("overwrite").save()
        # First 4 are warmup: 2 warmups left a residual C2 warm-in ramp
        # in the OPENING leg's timed samples (r13 sweeps: 0.62->0.38 s
        # descending, ratio 1.6 on an idle host — JVM state misread as
        # host noise; the closing leg, fully warm, sat at 0.100-0.108).
        if i >= 4:
            times.append(time.perf_counter() - t0)
    return times


CANARY_MAX_RATIO = 1.35
# Cross-leg span ceiling: closing/opening differ by C2 warmth alone on an
# idle host (measured band 2.5-6x across the r12/r13 records); a span past
# this is an opening leg run under load (see the gate comment in main()).
CANARY_MAX_SPAN = 7.0

# Isolated steady probes for the similarity family (r11 verdict task #2):
# each declared query re-run 1 warm + 3 timed back-to-back AFTER the sweep,
# recording the min as "{name}_steady". This is the number a production
# pipeline sees (one query run repeatedly, generated classes hot), free of
# the sweep's residual cross-query interference; the r11 "regression" on
# simhash_incr/overlap_pairs was exactly this gap (codegen cache thrash at
# the default 100-entry cap — see BASELINE.md "Round-12 re-adjudication").
STEADY_PROBES = [
    "simhash_incr",
    "overlap_pairs",
    "jaccard_join",
    "topk_similar_pairs",
    # r13: the recurring in-sweep outlier — three quiet-leg r13 sweeps
    # carried it at 0.97/2.16/2.93 s while isolated fresh-session warm
    # probes sit at 1.0-1.3 s, so the r12 "ambient load" adjudication
    # was wrong: the gap is in-sweep JVM context (GC debt + code-cache
    # pressure from ~173 neighboring plans), not host noise. The
    # steady probe records the serving-shape number every sweep so the
    # in-sweep figure stops being adjudicated by hand (BASELINE.md
    # "Round-13 record").
    "salted_join",
]


def _driver_heap() -> str:
    """An eighth of the machine's RAM, between 1 and 8 GiB."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(8192, ram_mb // 8))}m"


def main() -> None:
    spark = get_session(
        app_name="mlhe-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": _driver_heap(),
            # The sweep holds ~165 distinct plans x ~3 codegen units each;
            # the default 100-entry generated-class cache evicts EVERY
            # plan between passes, so each timed pass re-pays Janino
            # compile + C2 JIT (~5 s on the big simhash/jaccard
            # expression trees) and the warmup passes warm nothing.
            # Measured (round 12): simhash_incr 7.8 s after a cache
            # flush at the default vs 2.9 s at 8192 — identical code.
            # Production tuning, not a bench trick: any query-diverse
            # deployment wants the cache sized to its plan population.
            "spark.sql.codegen.cache.maxEntries": "8192",
        },
    )
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    canary_times = _run_canary(spark)

    # Warmup passes: JIT/codegen compilation (C2 needs repeat executions),
    # parquet footer caching, Python worker spawn — one-time costs that are
    # not steady-state throughput. Two passes measured ~2.5× faster first
    # measured run than one.
    for _ in range(int(os.environ.get("BENCH_WARMUP", "2"))):
        for name in BENCH_QUERIES:
            if name in QUERIES:
                QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                release_prefix_caches()
                release_pinned()
        for fn in EXTRA_BENCHES.values():
            fn(spark)
            release_prefix_caches()
            release_pinned()

    from ml_hadoop_experiment_spark.operators.dedup import LAST_CC_STATS

    per_query: dict[str, float] = {}
    cc_rounds: dict[str, int] = {}
    totals: list[float] = []
    for _ in range(RUNS):
        total = 0.0
        for name in BENCH_QUERIES:
            if name not in QUERIES:
                continue
            t0 = time.perf_counter()
            # noop sink: every row and column is fully computed and consumed
            # by executors (count() would let Catalyst prune computed cols)
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            per_query[name] = min(per_query.get(name, float("inf")), dt)
            total += dt
            if name in ("dup_clusters", "semantic_dedup") and LAST_CC_STATS:
                cc_rounds[name] = int(LAST_CC_STATS.get("rounds", 0))
            # reclaim prefix-sum pinned caches between queries (untimed:
            # steady-state production runs one query, not a 90-query sweep)
            release_prefix_caches()
            release_pinned()
        for name, fn in EXTRA_BENCHES.items():
            t0 = time.perf_counter()
            fn(spark)
            dt = time.perf_counter() - t0
            per_query[name] = min(per_query.get(name, float("inf")), dt)
            total += dt
            release_prefix_caches()
            release_pinned()
        totals.append(total)

    # Closing canary: the opening canary only samples the host BEFORE the
    # sweep — a CPU-steal window opening mid-sweep (observed: a quiet-open
    # sweep carrying one 7x salted_join outlier) is invisible to it. The
    # quiet gate is the WORST PER-LEG ratio (each leg's 3 timed samples
    # are self-consistent); the legs are NOT pooled, because the closing
    # leg runs on a fully C2-warmed JVM and is systematically ~3-6x
    # faster than the opening leg on an idle host (measured 0.10 s vs
    # 0.27-0.6 s) — a cross-leg ratio measures JIT warmth, not load. The
    # cross-leg span is still recorded (canary_span) — AND gated: a load
    # window that covers an entire leg UNIFORMLY leaves that leg's 3
    # samples self-consistent and slips the per-leg ratio (observed
    # round 13: opening leg 0.88-1.04 s under the previous sweep's
    # shutdown tail, span 10.4x, and salted_join at 8.5 s in an
    # otherwise "quiet" record), so a span past the documented
    # JIT-warmth band demotes the record too. Both gates only ADD
    # demotion conditions — a record can never pass by the span gate
    # alone.
    canary_end = _run_canary(spark)
    ratio_open = max(canary_times) / max(min(canary_times), 1e-9)
    ratio_close = max(canary_end) / max(min(canary_end), 1e-9)
    canary_ratio = max(ratio_open, ratio_close)
    pooled = canary_times + canary_end
    canary_span = max(pooled) / max(min(pooled), 1e-9)
    canary_quiet = (
        canary_ratio <= CANARY_MAX_RATIO and canary_span <= CANARY_MAX_SPAN
    )

    # Isolated steady probes (untimed toward "value": they re-run declared
    # queries already counted in the sweep): 1 warm + 3 timed back-to-back,
    # min of 3 — the hot-path serving number for the similarity family.
    steady: dict[str, float] = {}
    for name in STEADY_PROBES:
        if name not in QUERIES:
            continue
        best = float("inf")
        for i in range(4):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if i >= 1:
                best = min(best, dt)
            release_prefix_caches()
            release_pinned()
        steady[f"{name}_steady"] = round(best, 3)

    # Sum of per-query minimums: robust to host-level CPU-steal spikes that
    # hit one query in one pass (observed 5-10x outliers on shared
    # infrastructure); equals the single pass total when RUNS=1.
    value = sum(per_query.values()) if RUNS > 1 else statistics.median(totals)
    # summary fields come from the DECLARED sweep only: the steady
    # probes are re-runs (untimed toward value) and must not inflate
    # n_queries or displace real queries from the top-10 list
    n_declared = len(per_query)
    top10 = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:10])
    per_query.update(steady)
    out = {
        "metric": "bench_total_wall_clock",
        "value": round(value, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in per_query.items()},
        "sf": sf,
        "canary_sec": [round(t, 3) for t in canary_times],
        "canary_end_sec": [round(t, 3) for t in canary_end],
        "canary_span": round(canary_span, 3),
        "canary_ratio": round(canary_ratio, 3),
        "canary_quiet": canary_quiet,
    }
    if cc_rounds:
        # convergence rounds of the connected-components pipelines: a CC
        # regression shows up here before it shows up as wall time
        out["cc_rounds"] = cc_rounds
    # Durable full record: the driver's BENCH_r{N}.json keeps only the tail
    # of stdout, which truncates the first ~15 per-query entries; write the
    # complete dict next to it so every round has the full per-query sweep
    # on disk (BASELINE.md "Durable bench records"). Round number = 1 + the
    # newest round seen in CORRECTNESS_r*.json. An existing record
    # is never replaced: a taken name gets the core count as a suffix,
    # then a counter.
    local_record = "BENCH_LOCAL (write failed)"
    try:
        import glob as _glob
        import re as _re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(_re.search(r"_r(\d+)", p).group(1))
            for p in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        ]
        bench_rounds = [
            int(_re.search(r"_r(\d+)", p).group(1))
            for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
        ]
        last = max(rounds, default=0)
        # Round boundary: the driver records CORRECTNESS_r{N} BEFORE its
        # closing bench sweep and BENCH_r{N} after it, so at that sweep
        # CORRECTNESS_rN exists while BENCH_rN does not yet — name the
        # record as round N's CLOSING sweep instead of colliding with
        # the NEXT round's mid-round sweeps (the r10 verdict's naming
        # skew: the round-10 closing record landed on the r11 name).
        if last > max(bench_rounds, default=0):
            name = f"BENCH_LOCAL_r{last:02d}_final.json"
        else:
            name = f"BENCH_LOCAL_r{last + 1:02d}.json"
        # Quiet-host gate: a sweep whose canary ratio exceeds the gate ran
        # under ambient CPU steal — record it (for forensics) but DEMOTE
        # the filename so it can never be mistaken for an anchor record.
        if not canary_quiet:
            name = name.replace(".json", "_noisy.json")
        name = free_record_name(here, name)
        with open(os.path.join(here, name), "x") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        local_record = name  # only advertise the record once it exists
    except Exception:
        pass  # the durable record must never fail the bench itself
    # compact separators: the driver's BENCH record keeps only the TAIL
    # of stdout, and a pretty-printed ~130-entry line loses its head
    # (every round's "parsed: None"); compacting buys ~30% of the line
    # back, and the durable BENCH_LOCAL record above is the full copy.
    print(json.dumps(out, separators=(",", ":")))
    # LAST line: a summary small enough to survive any stdout-tail
    # window, so the driver's parser always gets at least the scalar
    # (BENCH_r01-r09 all recorded parsed:null off the full line; the
    # complete per-query dict lives in the BENCH_LOCAL record above
    # and on the full line for humans reading the raw log)
    summary = {
        "metric": "bench_total_wall_clock",
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": n_declared,
        "full_record": local_record,
        "canary_ratio": round(canary_ratio, 3),
        "canary_quiet": canary_quiet,
        "steady": steady,
        # type-consistent with the full line (name -> seconds), small
        # enough to parse: the 10 most expensive entries only
        "queries": {k: round(v, 3) for k, v in top10.items()},
    }
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
