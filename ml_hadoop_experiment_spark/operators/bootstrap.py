"""Bootstrap metric evaluation.

Parity target (SURVEY.md §2 A4/A5): the reference's
``evaluate_bootstrap`` (tensorflow/keras_bootstrap_helper.py:40-100)
resamples a *local* pandas DataFrame with replacement ``nb_bootstrap``
times — multiplicity weights from ``np.unique(np.random.randint(n, size=n),
return_counts=True)`` (:81-84) — and re-evaluates loss/metrics under
``sample_weight`` (optionally multiplied by a user weight column, :86-91).
The model predicts once; only the metric aggregation repeats (:71, :80-93).
``build_eval_only_model`` (:14-37) exists solely to recompute metrics from
cached predictions — here that is a plain weighted aggregation, no Keras.

Two implementations:

- ``evaluate_bootstrap`` — exact local port (driver-side pandas/numpy,
  seeded identically to the reference; golden-tested).
- ``poisson_bootstrap_metrics`` — the 100 TB scale path: the classic
  multinomial bootstrap needs the global row count and a dense row index
  (a full sort at scale); the Poisson bootstrap replaces multiplicities
  with per-row Poisson(1) draws, which is distributionally equivalent for
  large n and embarrassingly parallel. Draws are derived from the portable
  hash (functions/hashing.py) through the inverse Poisson CDF, so the whole
  computation is a pure column expression + one aggregation — and the
  DuckDB oracle reproduces it bit-for-bit. Metric sums accumulate in
  DECIMAL so the result is independent of partitioning/order.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import (
    PORTABLE_HASH_MOD,
    portable_unit_hash,
    portable_unit_hash_sql,
)

# --------------------------------------------------------------------------
# Local exact port (A4)
# --------------------------------------------------------------------------

#: metric_fn(labels, predictions, sample_weight) -> float
MetricFn = Callable[[np.ndarray, np.ndarray, np.ndarray], float]


def weighted_mse(y: np.ndarray, p: np.ndarray, w: np.ndarray) -> float:
    return float(np.sum(w * (y - p) ** 2) / np.sum(w))


def weighted_mae(y: np.ndarray, p: np.ndarray, w: np.ndarray) -> float:
    return float(np.sum(w * np.abs(y - p)) / np.sum(w))


BUILTIN_METRICS: Dict[str, MetricFn] = {"mse": weighted_mse, "mae": weighted_mae}


def evaluate_bootstrap(
    predict_fn: Callable[[pd.DataFrame], np.ndarray],
    df: pd.DataFrame,
    label_col: str,
    nb_bootstrap: int = 100,
    metrics: Optional[Dict[str, MetricFn]] = None,
    weight_col: Optional[str] = None,
    seed: Optional[int] = None,
) -> Dict[str, List[float]]:
    """Driver-side bootstrap evaluation, reference-identical resampling.

    The model predicts ONCE over ``df``; each bootstrap draws integer
    multiplicities via ``np.unique(randint(n, size=n), return_counts)``
    (keras_bootstrap_helper.py:81-84) used as sample weights, multiplied by
    ``weight_col`` when given (:86-91). Returns {metric: [per-bootstrap]}.
    """
    if seed is not None:
        np.random.seed(seed)
    metrics = dict(metrics or BUILTIN_METRICS)
    n = len(df)
    labels = df[label_col].to_numpy()
    preds = np.asarray(predict_fn(df.drop(columns=[label_col])))
    user_w = df[weight_col].to_numpy() if weight_col else np.ones(n)
    out: Dict[str, List[float]] = {name: [] for name in metrics}
    for _ in range(nb_bootstrap):
        picked, counts = np.unique(
            np.random.randint(n, size=n), return_counts=True
        )
        w = np.zeros(n)
        w[picked] = counts
        w = w * user_w
        for name, fn in metrics.items():
            out[name].append(fn(labels, preds, w))
    return out


# --------------------------------------------------------------------------
# Distributed Poisson bootstrap (scale path, oracle-portable)
# --------------------------------------------------------------------------

# Poisson(1) CDF values F(0)..F(7); multiplicity = smallest k with u < F(k),
# else 8. Literals are exact doubles, identical in the SQL twin.
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]
_MAX_MULT = len(_POISSON1_CDF)


def poisson_multiplicity(u: Column) -> Column:
    """Inverse Poisson(1) CDF of a uniform [0,1) draw, as a column expr."""
    expr = F.lit(_MAX_MULT)
    for k in range(_MAX_MULT - 1, -1, -1):
        expr = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def poisson_multiplicity_sql(u_expr: str) -> str:
    sql = str(_MAX_MULT)
    for k in range(_MAX_MULT - 1, -1, -1):
        sql = f"CASE WHEN {u_expr} < {_POISSON1_CDF[k]!r} THEN {k} ELSE {sql} END"
    return sql


def poisson_bootstrap_metrics(
    df: DataFrame,
    key_col: str,
    prediction_col: str,
    label_col: str,
    nb_bootstrap: int = 10,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Per-bootstrap weighted MSE/MAE, fully distributed.

    Each row joins every bootstrap replicate with multiplicity
    ``PoissonInv(portable_hash(key*nb + b))`` — no global count, no dense
    row index, no shuffle besides the final ``nb_bootstrap``-group
    aggregation (map-side partial). Sums accumulate in DECIMAL(38,10) so
    results are partitioning-independent; output casts back to DOUBLE.

    Output: (bootstrap_id, n_eff, mse, mae) — n_eff = total multiplicity.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(nb_bootstrap - 1))).alias(
        "bootstrap_id"
    )
    long = df.select(
        F.col(key_col).alias("__key"),
        F.col(prediction_col).alias("__pred"),
        F.col(label_col).alias("__label"),
        (F.col(weight_col) if weight_col else F.lit(1.0)).alias("__w"),
        b,
    )
    u = portable_unit_hash(
        F.col("__key") % F.lit(PORTABLE_HASH_MOD) * nb_bootstrap
        + F.col("bootstrap_id")
    )
    mult = poisson_multiplicity(u).cast("double") * F.col("__w")
    err = F.col("__pred") - F.col("__label")
    dec = "decimal(38,10)"
    weighted = long.select(
        "bootstrap_id",
        mult.alias("m"),
        (mult * err * err).cast(dec).alias("w_se"),
        (mult * F.abs(err)).cast(dec).alias("w_ae"),
    )
    return (
        weighted.groupBy("bootstrap_id")
        .agg(
            F.sum(F.col("m").cast(dec)).alias("sm"),
            F.sum("w_se").alias("sse"),
            F.sum("w_ae").alias("sae"),
        )
        .select(
            "bootstrap_id",
            F.col("sm").cast("double").alias("n_eff"),
            # divide in DOUBLE on the exact decimal sums: decimal/decimal
            # quotient scale rules differ between engines at the last digit,
            # IEEE double division on identical operands does not
            F.round(F.col("sse").cast("double") / F.col("sm").cast("double"), 4)
            .alias("mse"),
            F.round(F.col("sae").cast("double") / F.col("sm").cast("double"), 4)
            .alias("mae"),
        )
    )


def poisson_bootstrap_metrics_sql(
    table: str,
    key_expr: str,
    prediction_expr: str,
    label_expr: str,
    nb_bootstrap: int = 10,
    weight_expr: str = "1.0",
) -> str:
    """DuckDB twin of ``poisson_bootstrap_metrics`` (same hash, CDF, and
    decimal accumulation)."""
    u = portable_unit_hash_sql(
        f"({key_expr} % {PORTABLE_HASH_MOD} * {nb_bootstrap} + b)"
    )
    mult = f"({poisson_multiplicity_sql(u)}) * ({weight_expr})"
    err = f"(({prediction_expr}) - ({label_expr}))"
    return f"""
WITH long AS (
  SELECT t.*, b
  FROM {table} t, (SELECT unnest(range(0, {nb_bootstrap})) AS b)
),
weighted AS (
  SELECT b AS bootstrap_id,
         {mult} AS m,
         CAST({mult} * {err} * {err} AS DECIMAL(38,10)) AS w_se,
         CAST({mult} * abs({err}) AS DECIMAL(38,10)) AS w_ae
  FROM long
)
SELECT bootstrap_id,
       CAST(sum(CAST(m AS DECIMAL(38,10))) AS DOUBLE) AS n_eff,
       round(CAST(sum(w_se) AS DOUBLE) / CAST(sum(CAST(m AS DECIMAL(38,10))) AS DOUBLE), 4) AS mse,
       round(CAST(sum(w_ae) AS DOUBLE) / CAST(sum(CAST(m AS DECIMAL(38,10))) AS DOUBLE), 4) AS mae
FROM weighted
GROUP BY bootstrap_id
"""
