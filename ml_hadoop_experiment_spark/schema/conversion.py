"""Dense / sparse (COO) batch conversion — in-UDF numpy and relational forms.

Parity targets:
- dense maker: reference ``pandas_to_tensors.py:14-44, 66-123`` (null-fill
  with default else error; astype enforcement; per-batch row-count sanity).
- sparse COO: reference ``numpy_to_sparse_tensors.py:34-57`` — ragged lists
  -> (indices Nx2, values, dense_shape [n, max_len]); None cells count as
  empty lists; the all-empty batch yields a (0,2) indices array.
- relational form: SURVEY.md §2.8 U12 — ``posexplode`` produces the same
  (row, pos, value) triplets as a distributed DataFrame, which is the form
  that scales (the numpy form exists for in-UDF feeding of models).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.schema.feature_spec import (
    FeatureSpecs,
    FixedLenFeature,
    VarLenFeature,
)

_NP = {
    "int32": np.int32,
    "int64": np.int64,
    "float32": np.float32,
    "float64": np.float64,
    "string": str,
}


def _check_default(key: str, default: Any, dtype: str) -> None:
    """Default/dtype agreement (reference pandas_to_tensors.py:18-27)."""
    if default is None:
        return
    ok = (
        (isinstance(default, bool) is False and isinstance(default, int) and dtype in ("int32", "int64"))
        or (isinstance(default, float) and dtype in ("float32", "float64"))
        or (isinstance(default, str) and dtype == "string")
    )
    if not ok:
        raise ValueError(
            f"default_value {default!r} of type {type(default).__name__} "
            f"incompatible with feature {key!r} of dtype {dtype}"
        )


def _dense_column(key: str, spec: FixedLenFeature, pdf: pd.DataFrame) -> np.ndarray:
    np_dtype = _NP[spec.dtype]
    col = pdf[key]
    if spec.default_value is not None:
        return col.fillna(spec.default_value).to_numpy(dtype=np_dtype)
    if col.isnull().to_numpy().any():
        raise ValueError(
            f"For key {key} some inputs are null in the dataframe, "
            f"and no default value was provided"
        )
    return col.to_numpy(dtype=np_dtype)


def create_sparse_coo(
    features: List[Any], dtype: str = "float32"
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged list-of-arrays -> COO (indices Nx2, values, dense_shape).

    Golden semantics of reference numpy_to_sparse_tensors.py:34-57, incl.
    the all-empty fast path returning a (0, 2) indices array. Implementation
    is vectorized per batch: row ids via repeat, positions via a cumsum
    offset subtraction (each row's positions restart at 0).
    """
    np_dtype = _NP[dtype]
    lengths = np.fromiter((0 if f is None else len(f) for f in features), np.int64, len(features))
    n = len(features)
    max_len = int(lengths.max()) if n else 0
    dense_shape = np.array([n, max_len], np.int64)
    if max_len == 0:
        return np.empty((0, 2), np.int64), np.array([], np_dtype), dense_shape

    rows = np.repeat(np.arange(n, dtype=np.int64), lengths)
    # position within row: global arange minus each row's starting offset
    starts = np.repeat(np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths)
    positions = np.arange(int(lengths.sum()), dtype=np.int64) - starts
    values = np.concatenate(
        [np.asarray(f, dtype=np_dtype) for f in features if f is not None and len(f) > 0]
    )
    indices = np.column_stack([rows, positions])
    return indices, values, dense_shape


def _sparse_entries(
    key: str, spec: VarLenFeature, pdf: pd.DataFrame
) -> List[Tuple[str, np.ndarray]]:
    """VarLen -> `k/shape`, `k/indices`, `k/values` triple (the TF-serving
    placeholder split, reference pandas_to_tensors.py:47-63)."""
    indices, values, shape = create_sparse_coo(list(pdf[key].values), spec.dtype)
    return [(f"{key}/shape", shape), (f"{key}/indices", indices), (f"{key}/values", values)]


def make_dense_batch_fn(
    specs: FeatureSpecs,
) -> Callable[[pd.DataFrame], Dict[str, np.ndarray]]:
    """Spec-driven pandas batch -> {name: ndarray} converter factory.

    Reference ``generate_create_tensor_fn`` (pandas_to_tensors.py:66-123):
    scalar FixedLen ([], or [1]) columns become dense arrays with null-fill;
    VarLen columns become COO triples; non-scalar FixedLen shapes are
    rejected the same way.
    """
    converters: List[Callable[[pd.DataFrame], List[Tuple[str, np.ndarray]]]] = []
    for key, spec in specs.items():
        if isinstance(spec, VarLenFeature):
            converters.append(
                lambda pdf, k=key, s=spec: _sparse_entries(k, s, pdf)
            )
        elif isinstance(spec, FixedLenFeature):
            if len(spec.shape) == 0 or (len(spec.shape) == 1 and spec.shape[0] == 1):
                _check_default(key, spec.default_value, spec.dtype)
                converters.append(
                    lambda pdf, k=key, s=spec: [(k, _dense_column(k, s, pdf))]
                )
            else:
                raise NotImplementedError(
                    f"FixedLenFeature of non-scalar shape not supported "
                    f"(got {spec.shape} for key {key})"
                )
        else:
            raise NotImplementedError(f"{key} has unknown spec type: {type(spec)}")

    def convert(pdf: pd.DataFrame) -> Dict[str, np.ndarray]:
        tensors: List[Tuple[str, np.ndarray]] = []
        for conv in converters:
            tensors.extend(conv(pdf))
        n = pdf.shape[0]
        for k, v in tensors:
            if "/" not in k:
                assert v.shape[0] == n, f"dense tensor {k} has {v.shape[0]} rows != {n}"
            elif k.endswith("/shape"):
                assert v[0] == n, f"sparse tensor {k} shape[0] {v[0]} != {n}"
        return dict(tensors)

    return convert


def sparse_coo_frame(
    df: DataFrame,
    array_col: str,
    row_id_col: Optional[str] = None,
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """Relational COO: one row per array element with (row_id, pos, value).

    The distributed equivalent of ``create_sparse_coo`` — no driver
    materialization, scales to any table size. ``dense_shape`` is derivable
    as (count(*), max(size(array_col))) over the input. None cells behave as
    empty lists (they produce no rows), matching the numpy form.
    """
    row_id: Column = (
        F.col(row_id_col) if row_id_col else F.monotonically_increasing_id()
    )
    return df.select(
        row_id.alias("row_id"),
        F.posexplode(F.coalesce(F.col(array_col), F.array())).alias(pos_col, value_col),
    )
