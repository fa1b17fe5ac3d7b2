"""CCNet-style perplexity bucketing — head/middle/tail corpus thirds.

The CCNet pipeline (Wenzek et al. 2020 — public literature) scores every
document with a language-model perplexity and splits each language's
corpus into three equal-population buckets: *head* (lowest perplexity,
most fluent), *middle*, *tail* (noisiest). Downstream training recipes
then mix or cut by bucket. This module composes two already-verified
operators into that artifact:

- :func:`~.corpus.unigram_xent` — the per-document LM score (the
  corpus's own unigram distribution; cross-engine exact by the
  round-then-decimal-sum contract);
- the equi-depth boundary pattern of
  :func:`~.stats.equi_depth_histogram` — exact ``percentile``
  boundaries broadcast to a map-side strict-greater comparison
  (bit-identical to DuckDB ``quantile_cont``, the parity the green
  quantiles query pins).

Plan shape: the xent frame is computed twice (once folded into the
single-row boundary aggregate, once for the row-side assignment) — the
same two-scan contract as ``equi_depth_histogram``. At 100 TB, swap
``approx_percentile`` into the boundary aggregate (the documented
exact-yardstick vs approx-production pairing in SCALE.md) or persist
the xent frame; the bucket assignment itself is a broadcast + map.

Reference parity: criteo/ml-hadoop-experiment has no curation surface
(SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .corpus import unigram_xent, unigram_xent_sql

#: CCNet's canonical three-way split, lowest xent first.
CCNET_LABELS: tuple = ("head", "middle", "tail")


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 3,
    labels: Sequence[str] = CCNET_LABELS,
) -> DataFrame:
    """``(id, n_tokens, xent, bucket, bucket_label)`` — every document
    scored by :func:`~.corpus.unigram_xent` and assigned to one of
    ``num_buckets`` equal-population buckets by exact percentile
    boundaries (``bucket = #{boundaries < xent}``, the strict-greater
    rule shared with ``equi_depth_histogram``). ``labels`` names the
    buckets (default CCNet ``head``/``middle``/``tail``; must have
    ``num_buckets`` entries). Ties at a boundary all land on the lower
    bucket — deterministic, no row-order dependence."""
    if len(labels) != num_buckets:
        raise ValueError(
            f"labels must have num_buckets={num_buckets} entries, "
            f"got {len(labels)}"
        )
    x = unigram_xent(df, id_col, text_col)
    fracs = ", ".join(str(i / num_buckets) for i in range(1, num_buckets))
    bnds = x.agg(F.expr(f"percentile(xent, array({fracs}))").alias("__bnds"))
    v = F.col("xent").cast("double")
    bucket = F.size(F.filter(F.col("__bnds"), lambda b: v > b)).cast("int")
    label = F.element_at(
        F.array([F.lit(str(s)) for s in labels]), bucket + 1
    )
    return (
        x.join(F.broadcast(bnds))
        .withColumn("bucket", bucket)
        .withColumn("bucket_label", label)
        .drop("__bnds")
    )


def perplexity_buckets_sql(
    relation: str,
    id_expr: str,
    text_expr: str,
    num_buckets: int = 3,
    labels: Sequence[str] = CCNET_LABELS,
    out_id: str = "id",
) -> str:
    """DuckDB twin of :func:`perplexity_buckets` — the
    :func:`~.corpus.unigram_xent_sql` score feeding ``quantile_cont``
    boundaries (bit-identical interpolation with Spark ``percentile``)
    and the same strict-greater bucket rule."""
    if len(labels) != num_buckets:
        raise ValueError(
            f"labels must have num_buckets={num_buckets} entries, "
            f"got {len(labels)}"
        )
    fracs = ", ".join(str(i / num_buckets) for i in range(1, num_buckets))
    lab = ", ".join(f"'{s}'" for s in labels)
    inner = unigram_xent_sql(relation, id_expr, text_expr, out_id=out_id)
    return f"""
WITH x AS ({inner}),
b AS (SELECT quantile_cont(xent, [{fracs}]) AS bnds FROM x)
SELECT x.{out_id}, x.n_tokens, x.xent,
       CAST(len(list_filter(b.bnds, t -> CAST(x.xent AS DOUBLE) > t))
            AS INTEGER) AS bucket,
       ([{lab}])[len(list_filter(b.bnds,
                                 t -> CAST(x.xent AS DOUBLE) > t)) + 1]
           AS bucket_label
FROM x, b
"""
