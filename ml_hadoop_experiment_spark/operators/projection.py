"""Johnson-Lindenstrauss sign random projection (Achlioptas 2003).

Dimensionality reduction for embedding pipelines: project
``dim``-dimensional vectors onto ``out_dim`` axes whose coefficients
are deterministic ±1 signs, scaled by ``1/sqrt(out_dim)``. JL/Achlioptas
guarantees pairwise distances are preserved within (1±eps) for
``out_dim = O(log n / eps²)`` — the standard pre-reduction in front of
ANN indexing and clustering when the raw dimension is the cost driver
(a 4× narrower vector is 4× less shuffle/scan everywhere downstream).

Engine shape: the sign matrix is generated DRIVER-SIDE from the same
multiplicative hash family the portable sampling columns use, and baked
into the expression as literal coefficients — so the projection is one
whole-stage-codegen map expression: zero shuffles, zero Python
crossings, zero runtime hashing. The same literals are baked into the
DuckDB twin, and each output component is a fixed left-associated sum
of ``±v[i]`` doubles followed by one multiply and one round — the
IEEE-identical-operation-sequence contract every other oracle-gated
float operator here relies on.

Reference parity: criteo/ml-hadoop-experiment has no embedding ops;
north-star extension surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the portable multiplicative hash family's constants
# (functions/hashing.py) — replicated in plain Python because the signs
# are computed at plan-build time, not per row
_MOD = 1_000_003
_KNUTH = 2_654_435_761
_OFFSET = 961_748_927
_TWO32 = 4_294_967_296


def jl_signs(dim: int, out_dim: int, seed: int = 0) -> list:
    """``out_dim`` lists of ``dim`` deterministic ±1 coefficients."""
    signs = []
    for j in range(out_dim):
        row = []
        for i in range(dim):
            # the seed folds into the lattice index multiplicatively
            # (62731 is prime and not a factor of _MOD): an additive
            # salt would only flip low bits of h, invisible at bit 16
            k = i * out_dim + j + seed * 62_731
            h = ((k % _MOD) * _KNUTH + _OFFSET) % _TWO32
            # bit 16, NOT bit 0: a multiplicative hash's low bit is its
            # weakest (here it is fully determined by k's parity, which
            # would make whole sign rows constant); bit 16 measures
            # 512/1024 balanced on the 64x16 default
            row.append(1 if (h >> 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    out_dim: int,
    seed: int = 0,
    round_digits: int = 6,
) -> DataFrame:
    """``(id, j, val)`` — component ``j`` of each vector's sign
    projection, ``val = round(sum_i v[i]*s(i,j) / sqrt(out_dim), 6)``.
    Long/exploded output so the oracle gate compares scalars, and so
    downstream reassembly chooses its own layout. Map-only at any
    scale; see module docstring.

    The sign matrix rides as ONE nested-array literal and each
    component is a ``zip_with`` + left-fold ``aggregate`` — NOT an
    unrolled dim*out_dim-term expression tree: the unrolled form was
    measured 8.4 s at sf0.1 (Catalyst analysis + codegen of ~6k nodes,
    a fixed cost re-paid per plan) vs 0.4 s for this form, bit-exact
    identical output (aggregate's left fold is the same IEEE add
    sequence as the SQL twin's left-associated chain).
    """
    if out_dim < 1 or dim < 1:
        raise ValueError(f"need dim, out_dim >= 1; got {dim}, {out_dim}")
    scale = 1.0 / (out_dim ** 0.5)
    signs = jl_signs(dim, out_dim, seed)
    # one SQL parse for the out_dim x dim literal sign matrix
    # (functions/fastexpr): the Column-API form cost out_dim*dim py4j
    # round trips (~0.6 s at 16x64) per plan build
    from ..functions import fastexpr as FX

    signs_lit = F.expr(FX.nested_double_array(signs))
    vec = F.col(vec_col)
    comps = F.transform(
        signs_lit,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(comps).alias("j", "__raw"),
    ).select(
        "id",
        "j",
        F.round(F.col("__raw") * F.lit(scale), round_digits).alias("val"),
    )


def jl_project_sql(
    relation: str,
    id_expr: str,
    vec_expr: str,
    dim: int,
    out_dim: int,
    seed: int = 0,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`jl_project`: the same literal sign matrix,
    the same left-associated term order (DuckDB lists are 1-based)."""
    scale = 1.0 / (out_dim ** 0.5)
    signs = jl_signs(dim, out_dim, seed)
    parts = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST({vec_expr}[{i + 1}] AS DOUBLE) * ({float(signs[j][i])!r})"
            for i in range(dim)
        )
        parts.append(
            f"SELECT {id_expr} AS id, {j} AS j,"
            f" round(({terms}) * {scale!r}, {round_digits}) AS val"
            f" FROM {relation}"
        )
    return "\nUNION ALL\n".join(parts)
