"""Feature-spec schema layer: Spark<->tensor type mapping and validation.

Parity target: reference ``tensorflow/dataframe_to_tf_helper.py:15-163`` and
the dtype universe of ``pandas_to_tensors.py:78-84`` — with **no TensorFlow
dependency**: dtypes are strings ('int32' 'int64' 'float32' 'float64'
'string'), specs are frozen dataclasses (SURVEY.md §1.2's "engine
equivalent" note). An optional TF adapter can translate these 1:1 to
``tf.io.FixedLenFeature``/``VarLenFeature``.

Semantics preserved exactly (asserted by the reference's truth table,
tests/tensorflow/test_dataframe_to_tf_helper.py:11-114):

- exact map int32->Integer, int64->Long, float32->Float, float64->Double,
  string->String;
- lossless widening only: Integer->{int32,int64}, Long->{int64},
  Float->{float32,float64}, Double->{float64}, String->{string};
- FixedLen rank = len(shape) levels of ArrayType (containsNull=False); a
  rank-1 array column is also accepted for rank>1 specs (flattened layout,
  dataframe_to_tf_helper.py:84);
- VarLen is always a 1-D array; scalar columns are accepted too
  (dataframe_to_tf_helper.py:101-109);
- a column may be nullable only if the FixedLen spec has a default_value
  (dataframe_to_tf_helper.py:126-133).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, Optional, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import types as T

DTYPES = ("int32", "int64", "float32", "float64", "string")


@dataclass(frozen=True)
class FixedLenFeature:
    """Dense feature: ``shape`` ranks of nested arrays of ``dtype``.

    ``default_value`` doubles as the null-fill value and the nullability
    marker (reference dataframe_to_tf_helper.py:62-65).
    """

    shape: Tuple[int, ...] = ()
    dtype: str = "float32"
    default_value: Optional[Any] = None

    def __post_init__(self) -> None:
        if self.dtype not in DTYPES:
            raise ValueError(f"unknown dtype {self.dtype!r}; expected one of {DTYPES}")
        object.__setattr__(self, "shape", tuple(self.shape))


@dataclass(frozen=True)
class VarLenFeature:
    """Ragged feature: 1-D array of ``dtype``; materializes as sparse COO."""

    dtype: str = "float32"

    def __post_init__(self) -> None:
        if self.dtype not in DTYPES:
            raise ValueError(f"unknown dtype {self.dtype!r}; expected one of {DTYPES}")


FeatureSpec = Union[FixedLenFeature, VarLenFeature]
FeatureSpecs = Dict[str, FeatureSpec]

_EXACT: Dict[str, T.DataType] = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
}

_WIDENING: Dict[type, Tuple[str, ...]] = {
    T.IntegerType: ("int32", "int64"),
    T.LongType: ("int64",),
    T.FloatType: ("float32", "float64"),
    T.DoubleType: ("float64",),
    T.StringType: ("string",),
}


def exact_spark_type(dtype: str) -> T.DataType:
    return _EXACT[dtype]


def can_convert(spark_type: T.DataType, dtype: str) -> bool:
    """Lossless widening only (reference dataframe_to_tf_helper.py:26-34)."""
    return dtype in _WIDENING.get(type(spark_type), ())


def exact_data_type_for_spec(spec: FeatureSpec) -> T.DataType:
    dt: T.DataType = exact_spark_type(spec.dtype)
    rank = len(spec.shape) if isinstance(spec, FixedLenFeature) else 1
    for _ in range(rank):
        dt = T.ArrayType(dt, False)
    return dt


def exact_structfield_for_spec(name: str, spec: FeatureSpec) -> T.StructField:
    nullable = isinstance(spec, FixedLenFeature) and spec.default_value is not None
    return T.StructField(name, exact_data_type_for_spec(spec), nullable)


def _unwrap_rank(dt: T.DataType) -> Tuple[T.DataType, int]:
    rank = 0
    while isinstance(dt, T.ArrayType):
        dt = dt.elementType
        rank += 1
    return dt, rank


def is_datatype_compatible_with_spec(spec: FeatureSpec, dt: T.DataType) -> bool:
    if dt == exact_data_type_for_spec(spec):
        return True
    if isinstance(spec, FixedLenFeature):
        elem, rank = _unwrap_rank(dt)
        # rank must match; a flat rank-1 array is accepted for rank>1 specs
        if rank == len(spec.shape) or (rank == 1 and len(spec.shape) > 1):
            return can_convert(elem, spec.dtype)
        return False
    # VarLen: scalar or 1-D array of a widenable element type
    if can_convert(dt, spec.dtype):
        return True
    return isinstance(dt, T.ArrayType) and can_convert(dt.elementType, spec.dtype)


def is_structfield_compatible_with_spec(
    sf: T.StructField, name: str, spec: FeatureSpec
) -> bool:
    if sf.name != name:
        return False
    if not is_datatype_compatible_with_spec(spec, sf.dataType):
        return False
    # nullable column needs a default to be fillable
    if (
        isinstance(spec, FixedLenFeature)
        and sf.nullable
        and spec.default_value is None
    ):
        return False
    return True


def is_dataframe_compatible_with_specs(df: DataFrame, specs: FeatureSpecs) -> bool:
    """Whole-schema conjunction (reference dataframe_to_tf_helper.py:149-163)."""
    ok = True
    names = set(df.schema.fieldNames())
    for name, spec in specs.items():
        if name not in names:
            ok = False
            continue
        if not is_structfield_compatible_with_spec(df.schema[name], name, spec):
            ok = False
    return ok


def filtered_columns(df: DataFrame, specs: FeatureSpecs) -> list:
    """Spec-driven projection (reference dataframe_prediction_helper.py:285-286)."""
    return [c for c in df.columns if c in specs]
