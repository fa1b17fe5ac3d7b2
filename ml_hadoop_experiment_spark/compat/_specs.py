"""Feature-spec adaptation: tf.io specs <-> engine dataclasses, duck-typed.

The reference passes ``tf.io.FixedLenFeature(shape, dtype, default_value)``
/ ``tf.io.VarLenFeature(dtype)`` dicts everywhere (features_specs_type,
tensorflow/dataframe_prediction_helper.py:27). The engine's schema layer
uses TF-free dataclasses with string dtypes (schema/feature_spec.py). This
module converts either form to the engine form without importing TF:
tf.io specs are recognized structurally (``shape``+``dtype`` attrs for
fixed, ``dtype`` only for varlen) and tf dtypes by their ``name`` attr.
"""

from __future__ import annotations

from typing import Any, Mapping

from ml_hadoop_experiment_spark.schema.feature_spec import (
    FeatureSpec,
    FeatureSpecs,
    FixedLenFeature,
    VarLenFeature,
)


def dtype_name(dtype: Any) -> str:
    """'int32'|'int64'|'float32'|'float64'|'string' from a tf.DType, numpy
    dtype, or plain string."""
    if isinstance(dtype, str):
        return dtype
    name = getattr(dtype, "name", None)  # tf.DType and np.dtype both have it
    if name is not None:
        return str(name)
    return str(dtype)


def to_engine_spec(spec: Any) -> FeatureSpec:
    """Engine dataclass from an engine dataclass (pass-through) or a tf.io
    spec (structural)."""
    if isinstance(spec, (FixedLenFeature, VarLenFeature)):
        return spec
    dtype = dtype_name(getattr(spec, "dtype"))
    if hasattr(spec, "shape"):
        default = getattr(spec, "default_value", None)
        shape = tuple(int(d) for d in (spec.shape or ()))
        return FixedLenFeature(shape=shape, dtype=dtype, default_value=default)
    return VarLenFeature(dtype=dtype)


def to_engine_specs(specs: Mapping[str, Any]) -> FeatureSpecs:
    return {name: to_engine_spec(s) for name, s in specs.items()}


def is_varlen(spec: Any) -> bool:
    if isinstance(spec, VarLenFeature):
        return True
    if isinstance(spec, FixedLenFeature):
        return False
    return not hasattr(spec, "shape")


__all__ = ["dtype_name", "to_engine_spec", "to_engine_specs", "is_varlen"]
