"""Semantic (embedding-space) benchmark decontamination.

N-gram decontamination (``operators/curation.py``) catches verbatim and
near-verbatim benchmark leakage; paraphrased leakage — the same
benchmark item reworded — shares no gram but sits close in embedding
space. The published recipes (e.g. the phi model reports' embedding
similarity dedup against eval sets, and the contamination audits in the
Llama reports — public literature) therefore add an embedding tier:
flag every training item whose embedding cosine against ANY benchmark
item exceeds a threshold.

This module is that operator as a corpus-vs-benchmark composition of
the audited near-dup machinery in :mod:`.similarity`: both sides bucket
on the same LSH sign-bit key (a pure column expression), and the exact
cosine verification runs as one numpy matmul per bucket — corpus rows x
benchmark rows, never corpus x corpus — inside ``applyInPandas``. One
shuffle keyed on bucket; the benchmark side is benchmark-sized, so the
per-bucket slab is ``block_rows x n_bench_bucket`` and worker memory
stays bounded at 100 TB corpus scale. Same recall contract as
``cosine_near_dup_pairs``: candidate generation is bucket-exact
(documented LSH recall), verification is exact and oracle-replayed.

Reference parity: criteo/ml-hadoop-experiment has no curation surface
(SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import lsh_bucket


def cosine_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
    block_rows: int = 4096,
) -> DataFrame:
    """``(id, max_score, contaminated)`` for every corpus row: the
    maximum exact cosine (rounded to 6 places, the family convention)
    against any same-bucket benchmark embedding, and whether it clears
    ``threshold``. Corpus rows whose bucket holds no benchmark row —
    the overwhelming majority at crawl scale — carry a NULL
    ``max_score`` and ``contaminated = false``; zero vectors on either
    side never match (NULL-cosine semantics, as in
    ``cosine_near_dup_pairs``)."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()

    def _tag(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            lsh_bucket(F.col(vec_col), num_planes, dim).alias("bucket"),
            F.lit(side).alias("side"),
        )

    both = _tag(corpus, 0).unionByName(_tag(benchmark, 1))

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": [], "max_score": []})
        cor = pdf[pdf["side"] == 0]
        ben = pdf[pdf["side"] == 1]
        if len(cor) == 0 or len(ben) == 0:
            return empty

        def _normed(rows: pd.Series) -> np.ndarray:
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in rows]
            )
            norms = np.sqrt((mat * mat).sum(axis=1))
            norms[norms == 0.0] = np.nan  # zero vectors never match
            return mat / norms[:, None]

        cmat, bmat = _normed(cor["vec"]), _normed(ben["vec"])
        cids = cor["id"].to_numpy()
        parts = []
        for lo in range(0, len(cor), block_rows):
            hi = min(lo + block_rows, len(cor))
            scores = np.round(cmat[lo:hi] @ bmat.T, 6)
            # NULL-cosine semantics: nan entries (a zero vector on
            # either side) are ignored by the max; rows with no valid
            # benchmark cosine emit nothing (NULL after the left join)
            masked = np.where(np.isnan(scores), -np.inf, scores)
            best = masked.max(axis=1)
            ok = best > -np.inf
            if ok.any():
                parts.append(
                    pd.DataFrame(
                        {"id": cids[lo:hi][ok], "max_score": best[ok]}
                    )
                )
        return pd.concat(parts, ignore_index=True) if parts else empty

    matches = both.groupBy("bucket").applyInPandas(
        _score_bucket, f"id {id_type}, max_score double"
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(matches, "id", "left")
        .select(
            "id",
            "max_score",
            F.coalesce(
                F.col("max_score") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )
