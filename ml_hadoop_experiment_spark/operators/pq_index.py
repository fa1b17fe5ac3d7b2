"""Steady-state product-quantization index + the IVF+PQ composition.

:func:`~.pq.pq_topk` retrains codebooks and re-encodes the corpus on
every call — the right shape for a one-shot driver-gated query, the
wrong amortization for production ANN, where PQ is train-ONCE /
encode-ONCE / probe-MANY (Jégou et al., TPAMI 2011; the FAISS
posture). This module is the third instance of the repo's steady-state
index pattern (``dedup.NearDupCorpusIndex`` round 7,
``simhash_index.SimHashCorpusIndex`` round 9): pay the trainer and the
corpus encode once per corpus rotation, pin the skinny ``(id, code)``
frame, and serve every query with pure ADC table lookups.

It also composes the two halves the engine already has into the actual
FAISS billion-scale recipe, IVF routing x PQ codes
(:func:`ivf_pq_topk`): frozen-centroid IVF list assignment
(`similarity.ivf_assign_fixed` semantics) prunes the corpus to
``nprobe`` lists, and PQ asymmetric distance scores ONLY those
candidates — table lookups instead of exact 64-dim folds. Codes here
quantize the raw vectors, not the residuals (FAISS
``by_residual=False``): residual encoding needs per-list codebook
arithmetic that would put a second Lloyd chain per list into the
oracle; the no-residual variant is the documented, oracle-replayable
member of the family.

It composes pq.py / clustering.py / similarity.py public helpers.

Scale shape: build cost is the sample-bounded trainer plus ONE encode
scan; the pinned index is ``n_subspaces`` ints per vector (64-dim
float32 -> 4 bytes at the default geometry, 64x). Probes are map-only
scans of the pinned frame — zero shuffle, TakeOrderedAndProject top-k,
driver traffic bounded by ``n_subspaces x codebook_k`` table floats.
With IVF routing the probe scan touches ~nprobe/num_centroids of the
codes (partition pruning when the index is written partitioned by
``list_id``).

Reference parity: criteo/ml-hadoop-experiment has no ANN surface
(SURVEY.md §2) — north-star extension for embedding pipelines.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import fastexpr as FX
from ..functions.hashing import portable_unit_hash_sql
from .clustering import _sqdist_sql, kmeans_assign_expr, kmeans_ctes
from .pq import _adc_table, _check_geometry, pq_code_expr, pq_train
from .similarity import ivf_probes_fixed


class PQIndex:
    """Pinned ``(id, code array<int>)`` PQ codes of a corpus — plus
    ``(id, list_id, code)`` when built with IVF routing centroids —
    and the trained codebooks that decode them. The codebooks travel
    with the index: scoring against codes produced by OTHER codebooks
    is silently meaningless, so the pairing is structural.
    ``by_residual`` indexes remember that their codes quantize
    RESIDUALS (offsets from the routing centroid), so probes build
    per-list ADC tables from the query's residuals.

    Build with :func:`build_pq_index`; probe with
    :func:`pq_topk_against_index`; :meth:`unpersist` when the corpus
    rotates.
    """

    def __init__(
        self,
        codes: DataFrame,
        codebooks: List[List[List[float]]],
        dim: int,
        round_digits: int,
        centroids: Optional[Sequence[Sequence[float]]] = None,
        by_residual: bool = False,
    ):
        self.codes = codes
        self.codebooks = codebooks
        self.dim = dim
        self.round_digits = round_digits
        self.centroids = centroids
        self.by_residual = by_residual

    @property
    def n_subspaces(self) -> int:
        return len(self.codebooks)

    def unpersist(self) -> None:
        self.codes.unpersist()


def build_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
    centroids: Optional[Sequence[Sequence[float]]] = None,
    by_residual: bool = False,
    storage_level: Optional["StorageLevel"] = None,  # noqa: F821
    eager: bool = True,
    register: bool = True,
) -> PQIndex:
    """Train codebooks once (:func:`~.pq.pq_train` — deterministic
    per-subspace Lloyd on the portable-hash sample) and encode the
    corpus once (:func:`~.pq.pq_code_expr`, one map-only scan), pinning
    the result at MEMORY_AND_DISK (spill-safe: the code frame is
    ``n_subspaces`` ints per vector, landing on local disk at 100 TB
    rather than OOM). With ``centroids`` the frame also carries the
    frozen-IVF ``list_id`` (same argmin expression as
    ``similarity.ivf_assign_fixed``), enabling routed probes; with
    ``by_residual`` (requires ``centroids``) training and codes run
    over each vector's RESIDUAL against its routing centroid — the
    FAISS-default index form whose one-shot twin is
    :func:`ivf_pq_residual_topk`.

    ``eager`` materializes the pin here so the first probe doesn't pay
    the encode scan; ``register=True`` tracks the pin with
    ``common.cache_registry`` so sweep drivers reclaim it between
    queries — a long-lived service passes ``register=False`` and owns
    :meth:`PQIndex.unpersist` (the ``build_simhash_index`` contract).
    """
    from pyspark import StorageLevel

    from ..common.cache_registry import register_pinned

    _check_geometry(dim, n_subspaces)
    level = storage_level or StorageLevel.MEMORY_AND_DISK
    if by_residual:
        if centroids is None:
            raise ValueError("by_residual requires centroids")
        # materialize residuals once: the trainer's Lloyd aggregations
        # and the encode scan all read them (the ivf_pq_residual_topk
        # lesson: recomputing the argmin+subtract per scan cost 1.5x)
        resid = _residual_frame(df, centroids, id_col, vec_col).persist(
            level
        )
        codebooks = pq_train(
            resid, "id", "res", dim, n_subspaces, codebook_k, iters,
            train_fraction, seed, round_digits,
        )
        codes = resid.select(
            "id",
            "list_id",
            pq_code_expr(F.col("res"), codebooks).alias("code"),
        ).persist(level)
        if eager:
            codes.count()
            resid.unpersist()  # codes materialized; scaffold not needed
        elif register:
            register_pinned(resid)
        if register:
            register_pinned(codes)
        return PQIndex(
            codes, codebooks, dim, round_digits, centroids, by_residual=True
        )
    codebooks = pq_train(
        df, id_col, vec_col, dim, n_subspaces, codebook_k, iters,
        train_fraction, seed, round_digits,
    )
    cols = [
        F.col(id_col).alias("id"),
        pq_code_expr(F.col(vec_col), codebooks).alias("code"),
    ]
    if centroids is not None:
        cols.insert(
            1, kmeans_assign_expr(F.col(vec_col), centroids).alias("list_id")
        )
    codes = df.select(*cols).persist(level)
    if eager:
        codes.count()
    if register:
        register_pinned(codes)
    return PQIndex(codes, codebooks, dim, round_digits, centroids)


def _adc_score_expr(index: PQIndex, query: Sequence[float]) -> "Column":  # noqa: F821
    """Asymmetric-distance column over the index's ``code`` array:
    sum over subspaces of ``element_at(adc_table_s, code[s] + 1)`` —
    the SAME literal tables (:func:`~.pq._adc_table`, IEEE doubles) and
    the same ascending-subspace addition order as ``pq.pq_topk``, so
    the probe scores are bit-identical to the from-scratch path. One
    SQL parse (functions/fastexpr); "+" chains left-associate like the
    replaced accumulation loop."""
    sub_dim = index.dim // index.n_subspaces
    terms = []
    for s in range(index.n_subspaces):
        adc = _adc_table(query, index.codebooks[s], s * sub_dim)
        terms.append(
            f"element_at({FX.double_array(adc)}, "
            f"element_at(`code`, {s + 1}) + 1)"
        )
    return F.expr(" + ".join(terms))


def _residual_adc_score_expr(
    index: PQIndex, query: Sequence[float], probes: Sequence[int]
) -> "Column":  # noqa: F821
    """Residual-index ADC score: per subspace, a CASE over ``list_id``
    selects the probed list's table (built from the query's residual
    against that list's centroid — :func:`~.pq._adc_table` doubles,
    identical to :func:`ivf_pq_residual_topk`'s), then one lookup by
    the stored code."""
    sub_dim = index.dim // index.n_subspaces
    qres = {
        p: [
            float(query[j]) - float(index.centroids[p][j])
            for j in range(index.dim)
        ]
        for p in probes
    }
    terms = []
    for s in range(index.n_subspaces):
        # CASE chain == the replaced F.when chain (no ELSE -> NULL)
        arms = " ".join(
            "WHEN `list_id` = {p} THEN {arr}".format(
                p=p,
                arr=FX.double_array(
                    _adc_table(qres[p], index.codebooks[s], s * sub_dim)
                ),
            )
            for p in probes
        )
        terms.append(
            f"element_at(CASE {arms} END, "
            f"element_at(`code`, {s + 1}) + 1)"
        )
    return F.expr(" + ".join(terms))


def pq_topk_against_index(
    index: PQIndex,
    query: Sequence[float],
    k: int = 10,
    exclude_id: Optional[int] = None,
    nprobe: Optional[int] = None,
) -> DataFrame:
    """Top-``k`` neighbors of ``query`` out of the pinned index:
    ``(id, score)``, PQ asymmetric distance ascending, ties to the
    smaller id — the steady-state sibling of :func:`~.pq.pq_topk`
    (pytest-gated equivalence in tests/test_pq_index.py). Per-probe
    cost is ``n_subspaces`` table LOOKUPS per code row (no argmin —
    that was paid at encode time) over one map-only scan of the pinned
    frame. ``nprobe`` (index built with centroids only) routes the
    scan to the lists nearest the query first — the IVF+PQ serving
    path. Against a ``by_residual`` index the ADC tables are built
    per probed list from the query's residual against that list's
    centroid (unrouted probes build tables for every list) — the
    steady-state sibling of :func:`ivf_pq_residual_topk`."""
    query = [float(x) for x in query]
    if len(query) != index.dim:
        raise ValueError(
            f"query vector has {len(query)} dims, expected {index.dim}"
        )
    base = index.codes
    probes = None
    if nprobe is not None:
        if index.centroids is None:
            raise ValueError(
                "nprobe routing requires an index built with centroids"
            )
        probes = ivf_probes_fixed(index.centroids, query, nprobe)
        base = base.where(F.col("list_id").isin(probes))
    if exclude_id is not None:
        base = base.where(F.col("id") != exclude_id)
    if index.by_residual:
        if probes is None:
            probes = list(range(len(index.centroids)))
        score = _residual_adc_score_expr(index, query, probes)
    else:
        score = _adc_score_expr(index, query)
    return (
        base.select(
            "id",
            F.round(score, index.round_digits).alias("score"),
        )
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str,
    vec_col: str,
    dim: int,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
    query_vec: Optional[Sequence[float]] = None,
) -> DataFrame:
    """One-shot IVF+PQ: frozen-centroid routing x PQ ADC scoring —
    ``(id, score)`` for the ``k`` nearest candidates inside the
    ``nprobe`` lists closest to ``query_id``'s vector, asymmetric
    distance ascending, ties to the smaller id, the query row itself
    excluded. The from-scratch, fully oracle-replayable form of the
    composition (:func:`ivf_pq_topk_sql`); the steady-state form is
    :func:`build_pq_index` with ``centroids`` + routed
    :func:`pq_topk_against_index`.

    Plan shape: codebook training is sample-bounded (`pq.pq_train`),
    then ONE map-only corpus scan computes (list argmin, code argmins,
    ADC sum) fused — candidates outside the probed lists are cut by a
    pushed filter before any scoring work, and TakeOrderedAndProject
    cuts k with zero shuffle.
    """
    sub_dim = _check_geometry(dim, n_subspaces)
    codebooks = pq_train(
        df, id_col, vec_col, dim, n_subspaces, codebook_k, iters,
        train_fraction, seed, round_digits,
    )
    if query_vec is not None:
        # caller already holds the query row (the rerank composition
        # fetches it once for its exact stage) — skip the driver scan
        query = [float(x) for x in query_vec]
    else:
        qrow = (
            df.where(F.col(id_col) == query_id)
            .select(F.col(vec_col))
            .collect()
        )
        if len(qrow) != 1:
            raise ValueError(
                f"query_id {query_id}: expected 1 row, got {len(qrow)}"
            )
        query = [float(x) for x in qrow[0][0]]
    if len(query) != dim:
        raise ValueError(f"query vector has {len(query)} dims, expected {dim}")
    probes = ivf_probes_fixed(centroids, query, nprobe)
    vec_sql = FX.sql_of(F.col(vec_col))
    terms = []
    for s in range(n_subspaces):
        adc = _adc_table(query, codebooks[s], s * sub_dim)
        code = FX.argmin_frag(
            FX.slice_frag(vec_sql, s * sub_dim + 1, sub_dim), codebooks[s]
        )
        terms.append(f"element_at({FX.double_array(adc)}, {code} + 1)")
    score = F.expr(" + ".join(terms))
    list_id = kmeans_assign_expr(F.col(vec_col), centroids)
    return (
        df.where(F.col(id_col) != query_id)
        .where(list_id.isin(probes))
        .select(
            F.col(id_col).alias("id"),
            F.round(score, round_digits).alias("score"),
        )
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(k)
    )


def _residual_frame(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(id, list_id, res array<double>)``: each vector's frozen-IVF
    list plus its residual against that list's centroid — one IEEE
    subtraction per component, so both engines compute identical
    doubles from identical inputs."""
    list_id = kmeans_assign_expr(F.col(vec_col), centroids)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        list_id.alias("list_id"),
    )
    # one SQL parse for the k x dim centroid matrix + subtraction fold
    # (fastexpr): semantics identical to the replaced zip_with lambda
    return base.select(
        "id",
        "list_id",
        F.expr(
            f"zip_with(`v`, element_at("
            f"{FX.nested_double_array(centroids)}, `list_id` + 1), "
            "(x, y) -> CAST(x AS DOUBLE) - y)"
        ).alias("res"),
    )


def ivf_pq_residual_topk(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str,
    vec_col: str,
    dim: int,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
    query_vec: Optional[Sequence[float]] = None,
) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding — the actual FAISS default
    (``by_residual=True``): vectors are quantized as offsets from
    their routing centroid, which concentrates the codebooks' capacity
    on within-cell variation (coarse position is already carried by
    the list id), and the query builds a PER-PROBED-LIST ADC table
    from the query's residual against that list's centroid. Same
    result contract as :func:`ivf_pq_topk` ((id, score) ascending,
    query row excluded); scores are residual-space asymmetric
    distances.

    Plan shape: the residual column is one fused map expression
    (argmin + element_at + zip_with subtract), MATERIALIZED once
    (MEMORY_AND_DISK pin, registered for sweep reclaim): the trainer's
    ~(iters + 2) x n_subspaces Lloyd aggregations and the scoring scan
    all read the computed residuals instead of re-running the
    assignment argmin per scan (measured 14.3 s -> see SCALE.md);
    training is sample-bounded Lloyd on residual slices; scoring is
    one map-only scan of the probed lists with nprobe x n_subspaces
    literal lookup tables. The ENTIRE pipeline — assignment,
    residuals, per-subspace Lloyd chains on residuals, codes, per-list
    ADC tables, final order — replays in DuckDB
    (:func:`ivf_pq_residual_topk_sql`).
    """
    from pyspark import StorageLevel

    from ..common.cache_registry import register_pinned

    sub_dim = _check_geometry(dim, n_subspaces)
    resid = _residual_frame(df, centroids, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    register_pinned(resid)
    codebooks = pq_train(
        resid, "id", "res", dim, n_subspaces, codebook_k, iters,
        train_fraction, seed, round_digits,
    )
    if query_vec is not None:
        # caller already holds the query row (the rerank composition
        # fetches it once for its exact stage) — skip the driver scan
        query = [float(x) for x in query_vec]
    else:
        qrow = (
            df.where(F.col(id_col) == query_id)
            .select(F.col(vec_col))
            .collect()
        )
        if len(qrow) != 1:
            raise ValueError(
                f"query_id {query_id}: expected 1 row, got {len(qrow)}"
            )
        query = [float(x) for x in qrow[0][0]]
    if len(query) != dim:
        raise ValueError(f"query vector has {len(query)} dims, expected {dim}")
    probes = ivf_probes_fixed(centroids, query, nprobe)
    # per-probe query residuals -> per (probe, subspace) literal tables
    qres = {
        p: [query[j] - float(centroids[p][j]) for j in range(dim)]
        for p in probes
    }
    terms = []
    for s in range(n_subspaces):
        code = FX.argmin_frag(
            FX.slice_frag("`res`", s * sub_dim + 1, sub_dim), codebooks[s]
        )
        arms = " ".join(
            "WHEN `list_id` = {p} THEN {arr}".format(
                p=p,
                arr=FX.double_array(
                    _adc_table(qres[p], codebooks[s], s * sub_dim)
                ),
            )
            for p in probes
        )
        terms.append(f"element_at(CASE {arms} END, {code} + 1)")
    score = F.expr(" + ".join(terms))
    return (
        resid.where(F.col("id") != query_id)
        .where(F.col("list_id").isin(probes))
        .select(
            "id", F.round(score, round_digits).alias("score"),
        )
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(k)
    )


def ivf_pq_residual_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    dim: int,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`ivf_pq_residual_topk`: assignment and
    residual subtraction as relational CTEs, the per-subspace Lloyd
    chains over residual slices, and the probe-dependent ADC tables
    built RELATIONALLY (``qres`` joins the probed centroids, so the
    data-dependent probe set needs no literal inlining) — candidates
    pick their list's table by an equi-join on ``list_id``."""
    sub_dim = _check_geometry(dim, n_subspaces)
    values = ",\n    ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in cent))
        for i, cent in enumerate(centroids)
    )
    ctes = [
        f"pts AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table})",
        f"cent AS (SELECT * FROM (VALUES\n    {values}\n  ) AS t(c, v))",
        f"qfull AS (SELECT v AS qvec FROM pts WHERE id = {query_id})",
        (
            "probes AS (SELECT c FROM cent, qfull q ORDER BY "
            + _sqdist_sql("q.qvec", "cent.v", dim)
            + " ASC, c ASC LIMIT "
            + str(nprobe)
            + ")"
        ),
        (
            "assigned AS (SELECT id, c AS list_id FROM ("
            "SELECT p.id, cent.c, row_number() OVER (PARTITION BY p.id "
            "ORDER BY " + _sqdist_sql("p.v", "cent.v", dim) + " ASC, cent.c "
            "ASC) AS rn FROM pts p, cent) WHERE rn = 1)"
        ),
        (
            "resid AS (SELECT p.id, a.list_id, "
            f"list_transform(range(1, {dim} + 1), "
            "i -> CAST(p.v[i] AS DOUBLE) - cv.v[i]) AS v "
            "FROM pts p JOIN assigned a ON a.id = p.id "
            "JOIN cent cv ON cv.c = a.list_id)"
        ),
        (
            "qres AS (SELECT cv.c AS l, "
            f"list_transform(range(1, {dim} + 1), "
            "i -> CAST(q.qvec[i] AS DOUBLE) - cv.v[i]) AS v "
            "FROM qfull q, cent cv "
            "WHERE cv.c IN (SELECT c FROM probes))"
        ),
    ]
    if train_fraction < 1.0:
        u = portable_unit_hash_sql("id", salt=seed)
        ctes.append(
            f"train AS (SELECT id, v FROM resid WHERE {u} <"
            f" CAST({train_fraction!r} AS DOUBLE))"
        )
        train_base = "train"
    else:
        train_base = "resid"
    for s in range(n_subspaces):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        ctes.append(
            f"s{s}pts AS (SELECT id, v[{lo}:{hi}] AS v FROM resid)"
        )
        ctes.append(
            f"s{s}train AS (SELECT id, v[{lo}:{hi}] AS v FROM {train_base})"
        )
        chain, final = kmeans_ctes(
            f"s{s}pts", sub_dim, codebook_k, iters, round_digits,
            prefix=f"s{s}", train_cte=f"s{s}train",
        )
        ctes.extend(chain)
        sq = _sqdist_sql(f"(r.v[{lo}:{hi}])", "c.v", sub_dim)
        ctes.append(
            f"adc{s} AS (SELECT r.l, c.c, {sq} AS d FROM {final} c, qres r)"
        )
        esq = _sqdist_sql("e.v", "c.v", sub_dim)
        ctes.append(
            f"code{s} AS (SELECT id, c FROM ("
            f"SELECT e.id, c.c, row_number() OVER ("
            f"PARTITION BY e.id ORDER BY {esq} ASC, c.c ASC) AS rn "
            f"FROM s{s}pts e, {final} c) WHERE rn = 1)"
        )
    joins = "".join(
        f" JOIN code{s} ON code{s}.id = r.id"
        f" JOIN adc{s} ON adc{s}.l = r.list_id AND adc{s}.c = code{s}.c"
        for s in range(n_subspaces)
    )
    score = " + ".join(f"adc{s}.d" for s in range(n_subspaces))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT r.id AS id, round({score}, {round_digits}) AS score
FROM resid r{joins}
WHERE r.id <> {query_id}
  AND r.list_id IN (SELECT c FROM probes)
ORDER BY score ASC, id ASC
LIMIT {k}
"""
    )


def ivf_pq_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    dim: int,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: the frozen-centroid probe
    and assignment CTEs (``similarity.ivf_fixed_sql``'s construction,
    via the shared :func:`~.clustering._sqdist_sql` fold) feed a
    candidate-id set; the PQ half replays ``pq.pq_topk_sql``'s chain —
    portable-hash training sample, per-subspace
    :func:`~.clustering.kmeans_ctes` Lloyd, codes, ADC tables — and
    the final ranking keeps only candidates inside the probed lists.
    Both parent oracles are driver-green (``ivf_topk``, ``pq_topk``);
    this composes the same building blocks, same folds, same
    tie-breaks."""
    sub_dim = _check_geometry(dim, n_subspaces)
    values = ",\n    ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in cent))
        for i, cent in enumerate(centroids)
    )
    ctes = [
        f"pts AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table})",
        f"cent AS (SELECT * FROM (VALUES\n    {values}\n  ) AS t(c, v))",
        f"qfull AS (SELECT v AS qvec FROM pts WHERE id = {query_id})",
        (
            "probes AS (SELECT c FROM cent, qfull q ORDER BY "
            + _sqdist_sql("q.qvec", "cent.v", dim)
            + " ASC, c ASC LIMIT "
            + str(nprobe)
            + ")"
        ),
        (
            "cand AS (SELECT id FROM ("
            "SELECT p.id, cent.c, row_number() OVER (PARTITION BY p.id "
            "ORDER BY " + _sqdist_sql("p.v", "cent.v", dim) + " ASC, cent.c "
            "ASC) AS rn FROM pts p, cent) "
            "WHERE rn = 1 AND c IN (SELECT c FROM probes))"
        ),
    ]
    if train_fraction < 1.0:
        u = portable_unit_hash_sql("id", salt=seed)
        ctes.append(
            f"train AS (SELECT id, v FROM pts WHERE {u} <"
            f" CAST({train_fraction!r} AS DOUBLE))"
        )
        train_base = "train"
    else:
        train_base = "pts"
    for s in range(n_subspaces):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        ctes.append(f"s{s}pts AS (SELECT id, v[{lo}:{hi}] AS v FROM pts)")
        ctes.append(
            f"s{s}train AS (SELECT id, v[{lo}:{hi}] AS v FROM {train_base})"
        )
        chain, final = kmeans_ctes(
            f"s{s}pts", sub_dim, codebook_k, iters, round_digits,
            prefix=f"s{s}", train_cte=f"s{s}train",
        )
        ctes.extend(chain)
        sq = _sqdist_sql("q.v", "c.v", sub_dim)
        ctes.append(
            f"q{s} AS (SELECT v[{lo}:{hi}] AS v FROM pts"
            f" WHERE id = {query_id})"
        )
        ctes.append(
            f"adc{s} AS (SELECT c.c, {sq} AS d FROM {final} c, q{s} q)"
        )
        esq = _sqdist_sql("e.v", "c.v", sub_dim)
        ctes.append(
            f"code{s} AS (SELECT id, c FROM ("
            f"SELECT e.id, c.c, row_number() OVER ("
            f"PARTITION BY e.id ORDER BY {esq} ASC, c.c ASC) AS rn "
            f"FROM s{s}pts e, {final} c) WHERE rn = 1)"
        )
    joins = "".join(
        f" JOIN code{s} ON code{s}.id = code0.id"
        f" JOIN adc{s} ON adc{s}.c = code{s}.c"
        for s in range(1, n_subspaces)
    )
    score = " + ".join(f"adc{s}.d" for s in range(n_subspaces))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT code0.id AS id, round({score}, {round_digits}) AS score
FROM code0 JOIN adc0 ON adc0.c = code0.c{joins}
WHERE code0.id <> {query_id}
  AND code0.id IN (SELECT id FROM cand)
ORDER BY score ASC, id ASC
LIMIT {k}
"""
    )


def route_index_to_storage(
    index: PQIndex, path: str, mode: str = "overwrite"
) -> PQIndex:
    """Materialize a routed (IVF-built) PQ index as parquet
    PARTITIONED BY ``list_id`` and return a new :class:`PQIndex` whose
    codes frame reads it back — the 100 TB serving form of the
    composition: because ``list_id`` is a PARTITION column of the
    storage, the ``isin(probes)`` filter that
    :func:`pq_topk_against_index` pushes for a routed probe becomes a
    partition filter on the scan, and Spark lists/reads ONLY the
    ``nprobe`` list directories — the other ``num_centroids - nprobe``
    lists never produce a single file read (measured:
    ``plans/inspect.files_read``; A/B in SCALE.md). The in-memory
    index pays a pin per executor cache; the stored index pays one
    write and serves every later session from disk.

    The write is eager (one job); the returned index is otherwise the
    same PQIndex contract (same codebooks/centroids travel with it),
    so every probe helper composes unchanged. The stored form replaces
    the in-memory one: ``index`` is unpersisted once written.
    """
    if index.centroids is None:
        raise ValueError(
            "route_index_to_storage requires an index built with "
            "centroids (the list_id column IS the routing key)"
        )
    spark = index.codes.sparkSession
    index.codes.write.partitionBy("list_id").mode(mode).parquet(path)
    index.unpersist()
    codes = spark.read.parquet(path)
    return PQIndex(
        codes,
        index.codebooks,
        index.dim,
        index.round_digits,
        index.centroids,
        by_residual=index.by_residual,
    )


def ivf_pq_rerank_topk(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str,
    vec_col: str,
    dim: int,
    query_id: int,
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 2,
    n_subspaces: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    train_fraction: float = 1.0,
    seed: int = 0,
    round_digits: int = 6,
) -> DataFrame:
    """PQ shortlist → EXACT re-rank: the production two-stage serving
    pattern (FAISS's refine stage / IVFPQR, Jégou et al. 2011 §V —
    public literature): :func:`ivf_pq_topk` produces a ``shortlist``-
    sized candidate set by quantized asymmetric distance, then the
    ORIGINAL vectors of only those candidates are fetched and scored
    by exact cosine, returning the top ``k`` re-ranked —
    ``(id, score)``, exact cosine descending, ties to the smaller id.
    Recovers near-exact recall at PQ cost: the full-precision scan
    touches ``shortlist`` rows instead of the corpus.

    Plan shape: the shortlist is a ``shortlist``-row frame — it
    BROADCASTS, and the original-vector fetch is a map-side semi-join
    of the corpus against it (no shuffle of the embedding payload);
    the exact cosine is the :func:`~.similarity.cosine_topk` codegen
    fold over ``shortlist`` rows only. At 100 TB the re-rank cost is
    fixed by ``shortlist``, not the corpus.
    """
    if not 1 <= k <= shortlist:
        raise ValueError(f"need 1 <= k <= shortlist, got {k}/{shortlist}")
    # ONE driver-side fetch of the query row, shared by both stages
    qrow = (
        df.where(F.col(id_col) == query_id)
        .select(F.col(vec_col))
        .collect()
    )
    if len(qrow) != 1:
        raise ValueError(
            f"query_id {query_id}: expected 1 row, got {len(qrow)}"
        )
    query_vec = [float(x) for x in qrow[0][0]]
    cand = ivf_pq_topk(
        df, centroids, id_col, vec_col, dim, query_id,
        k=shortlist, nprobe=nprobe, n_subspaces=n_subspaces,
        codebook_k=codebook_k, iters=iters,
        train_fraction=train_fraction, seed=seed,
        round_digits=round_digits, query_vec=query_vec,
    ).select(F.col("id").alias("__cand"))
    fetched = df.join(
        F.broadcast(cand), df[id_col] == F.col("__cand")
    )
    score = F.round(
        F.expr(
            FX.cosine_frag(f"`{vec_col}`", FX.double_array(query_vec))
        ),
        round_digits,
    )
    return (
        fetched.select(F.col(id_col).alias("id"), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )
