"""Embedding ANN queries: exact, LSH, IVF, PQ, and compositions.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    lsh_bucket_sql,
    lsh_bucketed,
)
from ml_hadoop_experiment_spark.queries._shared import (
    _EVENT_TYPES,
    _materialize_ctes,
    _t,
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 vs the vec_id=0 embedding (exactness
    baseline for ANN; TakeOrderedAndProject — no global sort)."""
    emb = _t(spark, sf_dir, "embeddings")
    query_vec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    out = cosine_topk(emb, query_vec, id_col="vec_id", vec_col="embedding", k=20)
    return out.withColumnRenamed("id", "vec_id")


_DOT_Q = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)
_NORM_E = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)
_NORM_Q = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)

SQL_ANN_TOPK = f"""
SELECT e.vec_id, round({_DOT_Q} / ({_NORM_E} * {_NORM_Q}), 6) AS score
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY score DESC, e.vec_id ASC
LIMIT 20
"""


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (IVF-style ANN partitioning)."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed(emb, num_planes=6, dim=64).withColumnRenamed("id", "vec_id")


SQL_LSH_BUCKETS = f"""
SELECT vec_id, {lsh_bucket_sql('embedding', 6, 64)} AS bucket
FROM embeddings
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH sign-bit buckets (4 planes) + exact
    cosine >= 0.3 verification inside buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", num_planes=4, dim=64,
        threshold=0.3,
    )
    return out


# mirrors the Spark plan: norm + normalized vector once per row, then a
# single dot-product fold per candidate pair
_ROW_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)
_PAIR_DOT_NORMED = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), "
    "i -> a.vnorm[i] * b.vnorm[i])), "
    "(acc, v) -> acc + v)"
)

SQL_EMBEDDING_NEAR_DUP = _materialize_ctes(f"""
WITH buckets AS (
  SELECT vec_id,
         {lsh_bucket_sql('embedding', 4, 64)} AS bucket,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {_ROW_NORM}) AS vnorm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_PAIR_DOT_NORMED}, 6) AS score
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({_PAIR_DOT_NORMED}, 6) >= 0.3
""")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with FROZEN centroids (KMeans k=8 seed=42 computed once on
    sf0.01, embedded as literals — operators/ivf_fixture.py): list
    assignment is an expression argmin (map-only, zero shuffle), the 4
    nearest of 8 lists are probed for the vec_id=0 query, exact cosine
    within them. Fully oracle-checked; the data-adaptive KMeans path
    (ivf_index/ivf_topk) is recall-tested in tests/test_similarity.py."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import FROZEN_CENTROIDS_8X64
    from ml_hadoop_experiment_spark.operators.similarity import ivf_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    query_vec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    out = ivf_topk_fixed(
        emb,
        FROZEN_CENTROIDS_8X64,
        query_vec,
        k=20,
        nprobe=4,
        id_col="vec_id",
        vec_col="embedding",
    )
    return out.withColumnRenamed("id", "vec_id")


def _sql_ivf_topk() -> str:
    from ml_hadoop_experiment_spark.operators.ivf_fixture import FROZEN_CENTROIDS_8X64
    from ml_hadoop_experiment_spark.operators.similarity import ivf_fixed_sql

    return ivf_fixed_sql(
        "embeddings",
        "vec_id",
        "embedding",
        FROZEN_CENTROIDS_8X64,
        dim=64,
        query_id=0,
        k=20,
        nprobe=4,
    )


SQL_IVF_TOPK = _sql_ivf_topk()


def q_ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact ANN: top-5 neighbors for each of the 5 query vectors
    (vec_id < 5) in ONE pass — queries broadcast, corpus never moves,
    per-query window top-k. The serving-batch shape of ann_topk."""
    from ml_hadoop_experiment_spark.operators.similarity import cosine_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return cosine_topk_batch(emb, queries, k=5)


# reuses SQL_ANN_TOPK's dot/norm folds (aliases e and q); formatted at the
# bottom of the module after those constants are defined
SQL_ANN_TOPK_BATCH = """
SELECT qid, id, score, rk FROM (
  SELECT q.vec_id AS qid, e.vec_id AS id,
         round({dot} / ({norm_e} * {norm_q}), 6) AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round({dot} / ({norm_e} * {norm_q}), 6) DESC, e.vec_id ASC
         ) AS rk
  FROM embeddings e,
       (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
) WHERE rk <= 5
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class means): 64 per-position
    decimal-exact SUM aggregates in one map-side-combined pass — the
    vector-aggregation plan that shuffles groups×dim partial sums instead
    of rows×dim exploded rows. Output is long-form (label, n, pos, c)
    scalars for the driver's value hash."""
    from ml_hadoop_experiment_spark.operators.similarity import embedding_centroids

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_centroids(emb, "label", "embedding", dim=64)
    exploded = out.select(
        "label", "n", F.posexplode("centroid").alias("pos", "c")
    )
    # posexplode yields int32 positions; DuckDB's range() yields BIGINT —
    # align (the driver's value hash serializes dtypes)
    return exploded.withColumn("pos", F.col("pos").cast("bigint"))


def _sql_embedding_centroids() -> str:
    from ml_hadoop_experiment_spark.operators.similarity import (
        embedding_centroids_sql,
    )

    inner = embedding_centroids_sql("embeddings", "label", "embedding", dim=64)
    # parallel unnests zip in DuckDB: (pos, element) pairs off one scan
    return (
        "SELECT label, n, unnest(range(64)) AS pos, unnest(centroid) AS c\n"
        f"FROM ({inner})"
    )


SQL_EMBEDDING_CENTROIDS = _sql_embedding_centroids()


def q_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF+PQ (operators/pq_index.
    ivf_pq_residual_topk) — the actual FAISS default
    (by_residual=True): vectors quantize as offsets from their routing
    centroid (codebook capacity spent on within-cell variation), the
    query builds a PER-PROBED-LIST ADC table from its residual against
    that list's centroid, and candidates pick their list's table. The
    oracle replays assignment, residual subtraction, the per-subspace
    Lloyd chains over residuals, codes, the RELATIONALLY-built
    per-list ADC tables (no literal probe inlining — the probe set is
    data-dependent) and the final (score, id) order."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        ivf_pq_residual_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_residual_topk(
        emb, FROZEN_CENTROIDS_8X64, "vec_id", "embedding", dim=64,
        query_id=0, k=20, nprobe=4, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
    )


def _sql_ivf_pq_residual() -> str:
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        ivf_pq_residual_topk_sql,
    )

    return ivf_pq_residual_topk_sql(
        "embeddings", "vec_id", "embedding", FROZEN_CENTROIDS_8X64, dim=64,
        query_id=0, k=20, nprobe=4, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
    )


SQL_IVF_PQ_RESIDUAL = _materialize_ctes(_sql_ivf_pq_residual())


def q_pq_residual_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state residual PQ index (operators/pq_index.
    build_pq_index(by_residual=True) + routed pq_topk_against_index):
    the FAISS-default index form — residuals materialized once,
    codebooks trained once on them, (id, list_id, residual-code)
    pinned — then the probe is per-probed-list ADC lookups only. Same
    parameters and same result contract as q_ivf_pq_residual
    (equivalence pytest-gated in tests/test_pq_index.py), so the
    oracle IS SQL_IVF_PQ_RESIDUAL — the pq_index_topk/simhash_index
    precedent."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        build_pq_index,
        pq_topk_against_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = [
        float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    idx = build_pq_index(
        emb, "vec_id", "embedding", dim=64, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
        centroids=FROZEN_CENTROIDS_8X64, by_residual=True,
    )
    return pq_topk_against_index(idx, query, k=20, exclude_id=0, nprobe=4)


SQL_PQ_RESIDUAL_INDEX = SQL_IVF_PQ_RESIDUAL


def q_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral similarity: each user's event-type count vector vs user
    0's, cosine-ranked top-10 (distributed time-series/behavior similarity
    shape: pivot → broadcast the single query vector → codegen cosine).
    Counts are integers so the cosine arithmetic is exact cross-engine up
    to the final rounding."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )
    target = counts.where(F.col("user_id") == 0).select(
        *[F.col(f"n_{t}").alias(f"q_{t}") for t in _EVENT_TYPES]
    )
    joined = counts.where(F.col("user_id") != 0).crossJoin(F.broadcast(target))
    dot = sum(F.col(f"n_{t}") * F.col(f"q_{t}") for t in _EVENT_TYPES)
    norm_a = F.sqrt(sum(F.col(f"n_{t}") * F.col(f"n_{t}") for t in _EVENT_TYPES))
    norm_b = F.sqrt(sum(F.col(f"q_{t}") * F.col(f"q_{t}") for t in _EVENT_TYPES))
    sim = F.round(dot / (norm_a * norm_b), 6)
    return (
        joined.select("user_id", sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("user_id").asc())
        .limit(10)
    )


def _sim_sql() -> str:
    n = lambda t, p: f"{p}.n_{t}"
    counts = ",\n         ".join(
        f"count(*) FILTER (event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
    )
    dot = " + ".join(f"{n(t,'a')} * {n(t,'q')}" for t in _EVENT_TYPES)
    na = " + ".join(f"{n(t,'a')} * {n(t,'a')}" for t in _EVENT_TYPES)
    nb = " + ".join(f"{n(t,'q')} * {n(t,'q')}" for t in _EVENT_TYPES)
    return f"""
WITH counts AS (
  SELECT user_id,
         {counts}
  FROM events GROUP BY user_id
),
q AS (SELECT * FROM counts WHERE user_id = 0)
SELECT a.user_id,
       round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS cosine
FROM counts a, q
WHERE a.user_id <> 0
ORDER BY cosine DESC, a.user_id ASC
LIMIT 10
"""


SQL_USER_SIMILARITY = _sim_sql()


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.pq_topk): 4 sub-space
    codebooks of 8 centroids each (64-dim float32 -> 4 codes, 64x
    compression), trained by the deterministic Lloyd on a 50%
    portable-hash sample — the FAISS sample-training posture,
    driver-gated — then top-20 neighbors of vec_id=0 by asymmetric
    distance (per-subspace table lookup). The oracle replays the
    ENTIRE pipeline: sample, per-subspace Lloyd chains, codes, ADC
    tables, final (score, id) order."""
    from ml_hadoop_experiment_spark.operators.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, "vec_id", "embedding", dim=64, query_id=0, k=20,
        n_subspaces=4, codebook_k=8, iters=2,
        train_fraction=0.5, seed=3,
    )


def _sql_pq_topk() -> str:
    from ml_hadoop_experiment_spark.operators.pq import pq_topk_sql

    return pq_topk_sql(
        "embeddings", "vec_id", "embedding", dim=64, query_id=0, k=20,
        n_subspaces=4, codebook_k=8, iters=2,
        train_fraction=0.5, seed=3,
    )


SQL_PQ_TOPK = _materialize_ctes(_sql_pq_topk())


def q_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state PQ (operators/pq_index.build_pq_index +
    pq_topk_against_index): train-once/encode-once — the codebooks and
    the (id, code) frame are built and pinned ONCE, then the probe is
    pure ADC table lookups over the pinned codes, no per-query Lloyd
    and no per-query argmin. Same parameters and same result contract
    as q_pq_topk (equivalence pytest-gated in tests/test_pq_index.py),
    so the oracle IS SQL_PQ_TOPK — the simhash_index precedent. The
    pin is registered with cache_registry for sweep reclaim."""
    from ml_hadoop_experiment_spark.operators.pq_index import (
        build_pq_index,
        pq_topk_against_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    idx = build_pq_index(
        emb, "vec_id", "embedding", dim=64, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
    )
    return pq_topk_against_index(idx, query, k=20, exclude_id=0)


SQL_PQ_INDEX_TOPK = SQL_PQ_TOPK


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN (operators/pq_index.ivf_pq_topk) — the
    FAISS billion-scale recipe, no-residual variant: frozen-centroid
    IVF routing (the q_ivf_topk fixture centroids) prunes the corpus
    to the 4 of 8 lists nearest vec_id=0, then PQ asymmetric distance
    (the q_pq_topk codebooks: 4 subspaces x 8 centroids, 50%
    portable-hash training sample) scores ONLY those candidates by
    table lookup. One map-only scan fuses list argmin + code argmins +
    ADC sum; the oracle replays probe selection, assignment, the
    per-subspace Lloyd chains, codes, ADC tables, and the final
    (score, id) order."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, FROZEN_CENTROIDS_8X64, "vec_id", "embedding", dim=64,
        query_id=0, k=20, nprobe=4, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
    )


def _sql_ivf_pq_topk() -> str:
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import ivf_pq_topk_sql

    return ivf_pq_topk_sql(
        "embeddings", "vec_id", "embedding", FROZEN_CENTROIDS_8X64, dim=64,
        query_id=0, k=20, nprobe=4, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
    )


SQL_IVF_PQ_TOPK = _materialize_ctes(_sql_ivf_pq_topk())


_ROUTED_DIRS: dict = {}
_ROUTED_DIRS_LOCK = None  # created lazily to keep import light


def _routed_index_dir() -> str:
    """One reusable routed-index directory PER THREAD (keyed by thread
    id, creation guarded by a lock): per-process-singleton was racy if
    two invocations ever shared a process concurrently (parallel test
    workers / a threaded sweep) — invocation A's ``mode='overwrite'``
    could destroy the files under invocation B's lazy read-back.
    Per-thread keeps the no-leak property (bounded by thread count,
    each dir overwritten in place per call, all removed at exit) while
    making concurrent callers disjoint."""
    global _ROUTED_DIRS_LOCK
    import atexit
    import shutil
    import tempfile
    import threading

    if _ROUTED_DIRS_LOCK is None:
        _ROUTED_DIRS_LOCK = threading.Lock()
    tid = threading.get_ident()
    with _ROUTED_DIRS_LOCK:
        d = _ROUTED_DIRS.get(tid)
        if d is None:
            d = tempfile.mkdtemp(prefix="ivf_pq_routed_")
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            _ROUTED_DIRS[tid] = d
    return d


def q_ivf_pq_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ over LIST-PARTITIONED STORAGE
    (operators/pq_index.route_index_to_storage) — the 100 TB serving
    form the r10 verdict named: the code frame is written
    ``partitionBy(list_id)``, so the probe's ``isin(probes)`` routing
    filter becomes a PARTITION filter on the parquet scan and Spark
    reads only the ``nprobe`` list directories (measured: 4 of 8
    files at nprobe=4 — plans/inspect.files_read receipt in
    SCALE.md). Same training/probe parameters and same result
    contract as q_ivf_pq_topk (equivalence pytest-gated in
    tests/test_pq_index.py), so the oracle IS SQL_IVF_PQ_TOPK — the
    pq_index_topk precedent."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        build_pq_index,
        pq_topk_against_index,
        route_index_to_storage,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    idx = build_pq_index(
        emb, "vec_id", "embedding", dim=64, n_subspaces=4, codebook_k=8,
        iters=2, train_fraction=0.5, seed=3,
        centroids=FROZEN_CENTROIDS_8X64, eager=False, register=False,
    )
    # the stored form REPLACES the in-memory pin (eager=False above:
    # the write job is the only materialization). ONE tmpdir per
    # PROCESS, overwritten per invocation and removed at exit: a fresh
    # mkdtemp per call leaked a full parquet index copy every sweep
    # entry / parity run; per-process (not a fixed path) because the
    # driver's sweep and a local sweep may run concurrently
    stored = route_index_to_storage(idx, _routed_index_dir())
    return pq_topk_against_index(stored, query, k=20, exclude_id=0, nprobe=4)


SQL_IVF_PQ_ROUTED = SQL_IVF_PQ_TOPK


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 3 iterations) over the 64-dim
    embeddings: smallest-id init, argmin assignment as a codegen
    expression (zero shuffle — centroids are literals), decimal-exact
    rounded centroid updates. The oracle replays the ENTIRE iterative
    algorithm in DuckDB (unrolled CTE chain, same fold order, same
    quantization), so this is an oracle-gated iterative algorithm, not
    a rows-only check. Returns (vec_id, cluster)."""
    from ml_hadoop_experiment_spark.operators.clustering import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lloyd(
        emb, "vec_id", "embedding", dim=64, k=8, iters=3
    )
    return assigned.withColumnRenamed("id", "vec_id")


def _sql_kmeans_clusters() -> str:
    from ml_hadoop_experiment_spark.operators.clustering import kmeans_lloyd_sql

    return kmeans_lloyd_sql(
        "embeddings", "vec_id", "embedding", dim=64, k=8, iters=3,
        out_id="vec_id",
    )


SQL_KMEANS_CLUSTERS = _sql_kmeans_clusters()


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity search: SYMMETRIC global-scale codes
    (one 1-scalar absmax pass; zero-point-free so int dot preserves
    dot-product order), then top-20 neighbors of vec_id=0 by EXACT
    int64 dot product over the codes — map-only scoring into
    TakeOrderedAndProject, zero shuffle, and an oracle with no rounding
    contract at all on the scoring path (pure integer arithmetic). The
    4x-smaller scan is the memory path ANN takes at 100 TB.

    The corpus-level reconstruction-error audit of the STORAGE codes
    (per-dim affine int8, operators/quantize.quantization_error — the
    go/no-go check before switching the ANN scan to quantized codes)
    rides along as a broadcast one-row ``mse`` column, so both
    quantization schemes are oracle-gated by this one query."""
    from ml_hadoop_experiment_spark.operators.quantize import (
        quantization_error,
        quantized_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = quantized_topk(emb, "vec_id", "embedding", dim=64, query_id=0, k=20)
    audit = quantization_error(emb, "embedding", dim=64).select("mse")
    return out.withColumnRenamed("id", "vec_id").crossJoin(F.broadcast(audit))


def _sql_quantized_topk() -> str:
    from ml_hadoop_experiment_spark.operators.quantize import (
        quantization_error_sql,
        quantized_topk_sql,
    )

    topk = quantized_topk_sql(
        "embeddings", "vec_id", "embedding", dim=64, query_id=0, k=20,
        out_id="vec_id",
    )
    err = quantization_error_sql("embeddings", "vec_id", "embedding", dim=64)
    return f"SELECT t.*, e.mse FROM ({topk}) t, ({err}) e"


SQL_QUANTIZED_TOPK = _sql_quantized_topk()


SQL_ANN_TOPK_BATCH = SQL_ANN_TOPK_BATCH.format(
    dot=_DOT_Q, norm_e=_NORM_E, norm_q=_NORM_Q
)


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64→16
    (operators/projection.jl_project): deterministic ±1 literal
    coefficients baked into one codegen map expression — the
    dimensionality-reduction front end for ANN/clustering, exploded to
    (id, j, val) scalars for the oracle gate."""
    from ml_hadoop_experiment_spark.operators.projection import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    return jl_project(emb, "vec_id", "embedding", dim=64, out_dim=16)


def _sql_jl_project() -> str:
    from ml_hadoop_experiment_spark.operators.projection import jl_project_sql

    return jl_project_sql("embeddings", "vec_id", "embedding", 64, 16)


SQL_JL_PROJECT = _sql_jl_project()


_ROUTED_STEADY: dict = {}


def q_ivf_pq_routed_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state routed IVF+PQ probe (round 12 — the pq_index_steady
    convention PROMOTED to a declared query, so the driver bench sees
    the serving number): the routed list-partitioned index is built and
    written ONCE per process per sf_dir (its OWN directory — disjoint
    from q_ivf_pq_routed's per-invocation overwrite dir, so a sweep
    running both never races a lazy read-back against an overwrite) and
    every subsequent call pays ONLY the partition-pruned probe: the
    isin(probes) routing filter prunes at the parquet scan, nprobe=4 of
    8 list directories read (plans/inspect.files_read receipt in
    SCALE.md), 0.16-0.17 s vs the 6.4 s one-shot build+write+probe.
    Result contract identical to q_ivf_pq_routed / q_ivf_pq_topk (same
    frozen centroids, same training parameters), so the oracle IS
    SQL_IVF_PQ_TOPK."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        build_pq_index,
        pq_topk_against_index,
        route_index_to_storage,
    )

    # key by (application id, sf_dir): a cached PQIndex's DataFrames are
    # bound to the SparkSession alive at build time — a process that
    # stops that session and starts another (sequential harness
    # sessions, a REPL) must rebuild, not probe through a dead handle
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    entry = _ROUTED_STEADY.get(cache_key)
    if entry is None:
        import atexit
        import shutil
        import tempfile

        emb = _t(spark, sf_dir, "embeddings")
        query = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
        ]
        idx = build_pq_index(
            emb, "vec_id", "embedding", dim=64, n_subspaces=4,
            codebook_k=8, iters=2, train_fraction=0.5, seed=3,
            centroids=FROZEN_CENTROIDS_8X64, eager=False, register=False,
        )
        d = tempfile.mkdtemp(prefix="ivf_pq_routed_steady_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        stored = route_index_to_storage(idx, d)
        entry = (stored, query)
        _ROUTED_STEADY[cache_key] = entry
    stored, query = entry
    return pq_topk_against_index(stored, query, k=20, exclude_id=0, nprobe=4)


SQL_IVF_PQ_ROUTED_STEADY = SQL_IVF_PQ_TOPK


def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving: IVF+PQ shortlist → EXACT cosine re-rank
    (round 12 — operators/pq_index.ivf_pq_rerank_topk, the FAISS
    refine stage): the quantized composition produces a 100-candidate
    shortlist (same frozen centroids / codebook parameters as
    q_ivf_pq_topk), the ORIGINAL vectors of only those candidates are
    fetched by a broadcast semi-join (the embedding payload never
    shuffles), and exact cosine re-ranks to the final top-20 — the
    near-exact-recall-at-PQ-cost pattern every production deployment
    runs. The oracle nests the full ivf_pq_topk replay as the
    shortlist CTE and re-scores with the SQL_ANN_TOPK cosine folds."""
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        ivf_pq_rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_rerank_topk(
        emb, FROZEN_CENTROIDS_8X64, "vec_id", "embedding", dim=64,
        query_id=0, k=20, shortlist=100, nprobe=4, n_subspaces=4,
        codebook_k=8, iters=2, train_fraction=0.5, seed=3,
    ).withColumnRenamed("id", "vec_id")


def _sql_pq_rerank() -> str:
    from ml_hadoop_experiment_spark.operators.ivf_fixture import (
        FROZEN_CENTROIDS_8X64,
    )
    from ml_hadoop_experiment_spark.operators.pq_index import (
        ivf_pq_topk_sql,
    )

    shortlist_stmt = ivf_pq_topk_sql(
        "embeddings", "vec_id", "embedding", FROZEN_CENTROIDS_8X64,
        dim=64, query_id=0, k=100, nprobe=4, n_subspaces=4,
        codebook_k=8, iters=2, train_fraction=0.5, seed=3,
    )
    return f"""
WITH shortlist AS (
{shortlist_stmt}
)
SELECT e.vec_id, round({_DOT_Q} / ({_NORM_E} * {_NORM_Q}), 6) AS score
FROM embeddings e
JOIN shortlist s ON e.vec_id = s.id,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY score DESC, e.vec_id ASC
LIMIT 20
"""


SQL_PQ_RERANK = _materialize_ctes(_sql_pq_rerank())


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination (operators/semdecon.
    cosine_decontaminate): the embedding tier of the decontamination
    stack — n-gram tiers catch verbatim leakage, this one flags
    paraphrased leakage by exact cosine against the benchmark split
    (vec_id %% 10 == 0, the decontaminate convention) inside shared
    LSH sign-bit buckets (4 planes — the embedding_near_dup recall
    contract). Every corpus vector reports its max in-bucket benchmark
    cosine and a contaminated flag at threshold 0.3; the benchmark
    side never exceeds benchmark size, so the per-bucket matmul slab
    stays bounded at crawl scale."""
    from ml_hadoop_experiment_spark.operators.semdecon import (
        cosine_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_decontaminate(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        id_col="vec_id",
        vec_col="embedding",
        num_planes=4,
        dim=64,
        threshold=0.3,
    )
    return out.withColumnRenamed("id", "vec_id")


SQL_DECONTAMINATE_SEMANTIC = f"""
WITH buckets AS (
  SELECT vec_id,
         {lsh_bucket_sql('embedding', 4, 64)} AS bucket,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {_ROW_NORM}) AS vnorm
  FROM embeddings
),
cor AS (SELECT * FROM buckets WHERE vec_id % 10 <> 0),
ben AS (SELECT * FROM buckets WHERE vec_id % 10 = 0),
m AS (
  SELECT a.vec_id AS vec_id, max(round({_PAIR_DOT_NORMED}, 6)) AS max_score
  FROM cor a JOIN ben b ON a.bucket = b.bucket
  WHERE {_PAIR_DOT_NORMED} IS NOT NULL
  GROUP BY a.vec_id
)
SELECT c.vec_id, m.max_score,
       coalesce(m.max_score >= 0.3, false) AS contaminated
FROM cor c LEFT JOIN m USING (vec_id)
"""
