"""Broadcast model/artifact handling with lazy worker-side loading.

Parity target: reference ``common/spark_inference.py:25-53`` (the
``_SerializableObjWrapper`` pattern — pickle only ``(load_fn, args)`` so the
artifact is re-materialized by running ``load_fn`` on each worker, not
serialized by value) and ``:146-193`` (``broadcast`` / ``from_broadcasted``
helpers with pickle-check fallback).

Why this matters at scale: a 1-10 GB model must cross to 1000 executors once
per worker via the broadcast (BitTorrent-style) mechanism, not once per task
via closure pickling; and objects that are not pickleable by value (GPU
handles, mmap'd weights) can still ship as a loader closure.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence, Union

from pyspark.broadcast import Broadcast
from pyspark.sql import SparkSession


class _LazyLoadWrapper:
    """Pickles as ``(load_fn, args)``; materializes on first access per process.

    ``__getstate__``/``__setstate__`` mirror the reference's wrapper
    (common/spark_inference.py:33-41): the loaded object never crosses the
    wire, the recipe does. The load is deferred until ``.get()`` so that
    unpickling on the executor JVM->Python worker boundary is cheap and the
    (potentially GPU-touching) load happens inside the task.
    """

    def __init__(self, load_fn: Callable[..., Any], *args: Any):
        self._load_fn = load_fn
        self._args = args
        self._obj: Any = None
        self._loaded = False

    def get(self) -> Any:
        if not self._loaded:
            self._obj = self._load_fn(*self._args)
            self._loaded = True
        return self._obj

    @property
    def obj(self) -> Any:
        """Reference-shaped accessor (``_SerializableObjWrapper.obj``,
        common/spark_inference.py:32): resolves lazily instead of eagerly."""
        return self.get()

    def __getstate__(self) -> bytes:
        # cloudpickle so closures/lambdas work as load_fns; Spark's broadcast
        # serializer is plain pickle and would reject them otherwise.
        from pyspark import cloudpickle

        return cloudpickle.dumps((self._load_fn, self._args))

    def __setstate__(self, state: bytes) -> None:
        from pyspark import cloudpickle

        self._load_fn, self._args = cloudpickle.loads(state)
        self._obj = None
        self._loaded = False


class SerializableObj:
    """Broadcastable lazy artifact. Context-manager destroys the broadcast.

    Equivalent of reference ``SerializableObj`` (common/spark_inference.py:44-53).
    """

    def __init__(self, spark: SparkSession, load_fn: Callable[..., Any], *args: Any):
        wrapper = _LazyLoadWrapper(load_fn, *args)
        wrapper.get()  # fail fast on the driver if the recipe is broken
        #: driver-side handle, reference-shaped: ``model.ew.obj`` is the
        #: loaded artifact (common/spark_inference.py:44-47)
        self.ew = wrapper
        self.broadcasted: Broadcast = spark.sparkContext.broadcast(wrapper)

    @property
    def broadcast(self) -> Broadcast:
        """Reference attribute name (``SerializableObj.broadcast``)."""
        return self.broadcasted

    def __enter__(self) -> "SerializableObj":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.destroy()

    def destroy(self) -> None:
        self.broadcasted.destroy()


class _CloudPickledValue:
    """Carries an arbitrary object through Spark's plain-pickle broadcast by
    delegating its serialization to cloudpickle (closures, local classes)."""

    def __init__(self, value: Any):
        self._value = value

    def get(self) -> Any:
        return self._value

    def __getstate__(self) -> bytes:
        from pyspark import cloudpickle

        return cloudpickle.dumps(self._value)

    def __setstate__(self, state: bytes) -> None:
        from pyspark import cloudpickle

        self._value = cloudpickle.loads(state)


ArtifactLike = Union[SerializableObj, Any]


def broadcast(spark: SparkSession, artifacts: Union[ArtifactLike, Sequence[ArtifactLike]]) -> Any:
    """Broadcast one artifact or a sequence of artifacts.

    ``SerializableObj`` instances are passed through (already broadcast);
    plain objects are pickle-checked then broadcast by value — same contract
    as reference common/spark_inference.py:146-165.
    """
    if isinstance(artifacts, SerializableObj):
        return artifacts.broadcasted
    if isinstance(artifacts, (list, tuple)):
        return [broadcast(spark, a) for a in artifacts]
    try:
        from pyspark import cloudpickle

        cloudpickle.dumps(artifacts)
    except Exception as e:  # pragma: no cover - error path
        raise ValueError(
            "Artifact is not pickleable; wrap it in SerializableObj(spark, load_fn, *args) "
            "so only the loader crosses to workers"
        ) from e
    return spark.sparkContext.broadcast(_CloudPickledValue(artifacts))


def from_broadcasted(broadcasted: Any) -> Any:
    """Resolve broadcast handle(s) to the live object(s) on a worker.

    Mirrors reference common/spark_inference.py:168-193.
    """
    if isinstance(broadcasted, list):
        return [from_broadcasted(b) for b in broadcasted]
    value = broadcasted.value if isinstance(broadcasted, Broadcast) else broadcasted
    if isinstance(value, (_LazyLoadWrapper, _CloudPickledValue)):
        return value.get()
    return value
