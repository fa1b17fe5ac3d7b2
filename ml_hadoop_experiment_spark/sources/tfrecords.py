"""TFRecord source/sink with a pure-Python wire codec — no TensorFlow needed.

Parity targets (SURVEY.md §2.1):
- S5 record encode: reference ``tfrecords.py:184-207`` (``to_tf_proto``) with
  the same null/default/empty semantics: empty list counts as null
  (tfrecords.py:141-149); null with a spec default is *omitted* (the reader
  fills it); null without a default gets a synthesized zero/empty default
  (tfrecords.py:122-132); FixedLen shape is enforced (tfrecords.py:202-203);
  element types are checked per dtype family (tfrecords.py:162-181).
- S3 sink: reference ``write_example_rdd`` (tfrecords.py:226-236) — one
  ``part-{i:05d}`` file per partition, returns (path, count) pairs. Engine
  uses ``mapInPandas`` instead of an RDD of protos, so rows never leave
  the DataFrame world until the final file write inside the task.
- S4 source: reference ``read_parsed_tfr`` (tfrecords.py:52-57) is a
  driver-side tf.data iterator; engine reads distributed — each task parses
  its own files.

Wire format (public): a TFRecord is
``uint64 length | uint32 masked_crc32c(length) | bytes data |
uint32 masked_crc32c(data)``, ``data`` being a serialized
``tensorflow.Example`` protobuf:
``Example{ Features features=1 }; Features{ map<string,Feature> feature=1 };
Feature{ oneof { BytesList bytes_list=1; FloatList float_list=2;
Int64List int64_list=3 } }``, each list ``repeated value=1`` (floats fixed32,
ints varint, both packed or unpacked). The codec below implements exactly
this subset of protobuf encoding.
"""

from __future__ import annotations

import glob
import gzip
import os
import struct
from typing import Any, Dict, Iterable, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.schema.feature_spec import FeatureSpecs, FixedLenFeature

# --------------------------------------------------------------------------
# CRC32C (Castagnoli), table-driven; TFRecord masks it.
# --------------------------------------------------------------------------

_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def _crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = _crc32c(data)
    return ((crc >> 15) | (crc << 17)) + 0xA282EAD8 & 0xFFFFFFFF


# --------------------------------------------------------------------------
# Minimal protobuf wire codec for the Example message family.
# --------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> Tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _encode_feature(value: List[Any], kind: str) -> bytes:
    if kind == "int64":
        # int() first: numpy integer scalars cannot be AND-ed with a mask
        # wider than int64
        payload = b"".join(_varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in value)
        inner = _len_delim(1, payload) if value else b""
        return _len_delim(3, inner)  # Feature.int64_list
    if kind == "float":
        payload = struct.pack(f"<{len(value)}f", *value) if value else b""
        inner = _len_delim(1, payload) if value else b""
        return _len_delim(2, inner)  # Feature.float_list
    if kind == "bytes":
        inner = b"".join(
            _len_delim(1, v.encode() if isinstance(v, str) else v) for v in value
        )
        return _len_delim(1, inner)  # Feature.bytes_list
    raise ValueError(f"unknown feature kind {kind}")


def _dtype_kind(dtype: str) -> str:
    if dtype in ("int32", "int64"):
        return "int64"
    if dtype in ("float32", "float64"):
        return "float"
    return "bytes"


def _as_list(value: Any) -> Optional[List[Any]]:
    if value is None:
        return None
    if isinstance(value, (list, tuple, np.ndarray)):
        return list(value)
    return [value]


def _synthesized_default(spec: FixedLenFeature) -> List[Any]:
    """Zero/empty default when spec has none (reference tfrecords.py:122-132)."""
    kind = _dtype_kind(spec.dtype)
    value: Any = 0 if kind == "int64" else 0.0 if kind == "float" else b""
    n = spec.shape[0] if spec.shape else 1
    return [value] * n


def _preprocess_value(value: Any, spec: Any) -> Optional[List[Any]]:
    """Null/default/empty semantics of reference tfrecords.py:135-159."""
    if isinstance(spec, FixedLenFeature):
        aslist = _as_list(value)
        if aslist is not None and not isinstance(value, (str, bytes)) and len(aslist) == 0:
            value = None  # empty list counts as null
            aslist = None
        if value is None:
            if spec.default_value is not None:
                return None  # omit; reader fills from spec default
            return _synthesized_default(spec)
        return aslist
    return _as_list(value)


def _check_elements(value: List[Any], spec: Any) -> None:
    kind = _dtype_kind(spec.dtype)
    for v in value:
        if kind == "int64" and not isinstance(v, (int, np.integer)):
            raise ValueError(f"{v!r} in {value} is not integer as required by {spec}")
        if kind == "float" and not isinstance(v, (int, float, np.integer, np.floating)):
            raise ValueError(f"{v!r} in {value} is not a number as required by {spec}")
        if kind == "bytes" and not isinstance(v, (str, bytes)):
            raise ValueError(f"{v!r} in {value} is not str or bytes as required by {spec}")


def make_example_encoder(specs: FeatureSpecs) -> Any:
    """Compiled row->Example encoder: per-spec constants (key bytes, kind,
    expected shape, default handling) are resolved ONCE and the dominant
    scalar-FixedLen case is specialized into closures that inline the wire
    framing — ~3x the per-call path's throughput, which matters because
    this runs once per row of a 100 TB write. Byte-identical output
    (asserted in tests/test_tfrecords.py / test_properties.py)."""
    varint = _varint
    ld = _len_delim

    def _scalar_closure(name: str, spec: FixedLenFeature) -> Any:
        key_entry = ld(1, name.encode())
        kind = _dtype_kind(spec.dtype)
        has_default = spec.default_value is not None
        # generic body for the non-scalar / missing-value corners
        def _generic(value: Any) -> Optional[bytes]:
            v = _preprocess_value(value, spec)
            if v is None:
                return None
            if len(v) != 1:
                raise ValueError(
                    f"value {v} does not correspond to expected shape in spec {spec}"
                )
            _check_elements(v, spec)
            return ld(1, key_entry + ld(2, _encode_feature(v, kind)))

        if kind == "int64":
            def _enc(value: Any) -> Optional[bytes]:
                if isinstance(value, (int, np.integer)) and not isinstance(value, bool):
                    payload = varint(int(value) & 0xFFFFFFFFFFFFFFFF)
                    inner = b"\x0a" + varint(len(payload)) + payload
                    feature = b"\x1a" + varint(len(inner)) + inner
                    body = key_entry + b"\x12" + varint(len(feature)) + feature
                    return b"\x0a" + varint(len(body)) + body
                if value is None and has_default:
                    return None
                return _generic(value)
        elif kind == "float":
            def _enc(value: Any) -> Optional[bytes]:
                if isinstance(value, (int, float, np.integer, np.floating)) and not isinstance(value, bool):
                    payload = struct.pack("<f", value)
                    feature = b"\x12\x06\x0a\x04" + payload  # float_list{1 elem}
                    body = key_entry + b"\x12" + varint(len(feature)) + feature
                    return b"\x0a" + varint(len(body)) + body
                if value is None and has_default:
                    return None
                return _generic(value)
        else:
            def _enc(value: Any) -> Optional[bytes]:
                if isinstance(value, (str, bytes)):
                    raw = value.encode() if isinstance(value, str) else value
                    inner = b"\x0a" + varint(len(raw)) + raw
                    feature = b"\x0a" + varint(len(inner)) + inner
                    body = key_entry + b"\x12" + varint(len(feature)) + feature
                    return b"\x0a" + varint(len(body)) + body
                if value is None and has_default:
                    return None
                return _generic(value)

        return _enc

    def _generic_closure(name: str, spec: Any) -> Any:
        key_entry = ld(1, name.encode())
        kind = _dtype_kind(spec.dtype)
        expected = (
            (spec.shape[0] if spec.shape else 1)
            if isinstance(spec, FixedLenFeature)
            else None
        )

        def _enc(value: Any) -> Optional[bytes]:
            v = _preprocess_value(value, spec)
            if v is None:
                return None
            if expected is not None and len(v) != expected:
                raise ValueError(
                    f"value {v} does not correspond to expected shape in spec {spec}"
                )
            _check_elements(v, spec)
            return ld(1, key_entry + ld(2, _encode_feature(v, kind)))

        return _enc

    compiled = [
        (
            name,
            _scalar_closure(name, spec)
            if isinstance(spec, FixedLenFeature) and not spec.shape
            else _generic_closure(name, spec),
        )
        for name, spec in specs.items()
    ]

    def _encode(x: Dict[str, Any]) -> bytes:
        get = x.get
        parts = []
        for name, enc in compiled:
            entry = enc(get(name))
            if entry is not None:
                parts.append(entry)
        return ld(1, b"".join(parts))  # Example.features

    return _encode


def to_example_bytes(x: Dict[str, Any], specs: FeatureSpecs) -> bytes:
    """Row dict -> serialized tensorflow.Example (reference ``to_tf_proto``).

    One-shot convenience; batch writers should build the encoder once via
    ``make_example_encoder``."""
    return make_example_encoder(specs)(x)


def _decode_list(buf: bytes, kind: str) -> List[Any]:
    values: List[Any] = []
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if field != 1:
            raise ValueError(f"unexpected field {field} in list message")
        if wire == 2:  # length-delimited: packed numerics or bytes element
            ln, pos = _read_varint(buf, pos)
            chunk = buf[pos : pos + ln]
            pos += ln
            if kind == "bytes":
                values.append(chunk)
            elif kind == "float":
                values.extend(struct.unpack(f"<{ln // 4}f", chunk))
            else:
                p = 0
                while p < len(chunk):
                    v, p = _read_varint(chunk, p)
                    values.append(v - (1 << 64) if v >= 1 << 63 else v)
        elif wire == 0:  # unpacked varint
            v, pos = _read_varint(buf, pos)
            values.append(v - (1 << 64) if v >= 1 << 63 else v)
        elif wire == 5:  # unpacked fixed32 float
            values.append(struct.unpack("<f", buf[pos : pos + 4])[0])
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
    return values


def _decode_feature(buf: bytes) -> Tuple[str, List[Any]]:
    pos = 0
    tag, pos = _read_varint(buf, pos)
    field = tag >> 3
    ln, pos = _read_varint(buf, pos)
    payload = buf[pos : pos + ln]
    if field == 1:
        return "bytes", _decode_list(payload, "bytes")
    if field == 2:
        return "float", _decode_list(payload, "float")
    if field == 3:
        return "int64", _decode_list(payload, "int64")
    raise ValueError(f"unknown Feature field {field}")


def _parse_features_body(features: bytes) -> Dict[str, List[Any]]:
    """Features message content (repeated map entries) -> {name: raw list}."""
    out: Dict[str, List[Any]] = {}
    fpos = 0
    while fpos < len(features):
        tag, fpos = _read_varint(features, fpos)
        ln, fpos = _read_varint(features, fpos)
        entry = features[fpos : fpos + ln]
        fpos += ln
        # map entry: key=1 (string), value=2 (Feature)
        epos = 0
        name = b""
        feat: List[Any] = []
        while epos < len(entry):
            etag, epos = _read_varint(entry, epos)
            eln, epos = _read_varint(entry, epos)
            chunk = entry[epos : epos + eln]
            epos += eln
            if etag >> 3 == 1:
                name = chunk
            else:
                _, feat = _decode_feature(chunk) if chunk else ("", [])
        out[name.decode()] = feat
    return out


def parse_example_raw(data: bytes) -> Dict[str, List[Any]]:
    """Serialized Example -> {name: raw list} (no spec interpretation)."""
    pos = 0
    tag, pos = _read_varint(data, pos)
    ln, pos = _read_varint(data, pos)
    return _parse_features_body(data[pos : pos + ln])


def parse_example_bytes(data: bytes, specs: FeatureSpecs) -> Dict[str, Any]:
    """Serialized Example -> row dict honoring spec defaults and shapes."""
    raw = parse_example_raw(data)
    row: Dict[str, Any] = {}
    for name, spec in specs.items():
        values = raw.get(name)
        if values is None or len(values) == 0:
            if isinstance(spec, FixedLenFeature):
                if spec.default_value is None:
                    raise ValueError(f"feature {name} missing and spec has no default")
                values = _as_list(spec.default_value)
            else:
                values = []
        if spec.dtype == "string":
            values = [v.decode() if isinstance(v, bytes) else v for v in values]
        elif spec.dtype in ("int32", "int64"):
            values = [int(v) for v in values]
        else:
            values = [float(v) for v in values]
        if isinstance(spec, FixedLenFeature) and not spec.shape:
            row[name] = values[0]
        else:
            row[name] = values
    return row


# --------------------------------------------------------------------------
# SequenceExample: ``SequenceExample{ Features context=1;
# FeatureLists feature_lists=2 }``; ``FeatureLists{ map<string,FeatureList>
# feature_list=1 }``; ``FeatureList{ repeated Feature feature=1 }``.
# Parity: reference tensorflow/tfrecords.py:60-72 reads these via
# tf.io.parse_single_sequence_example; the codec below is the TF-free twin.
# --------------------------------------------------------------------------


def to_sequence_example_bytes(
    context: Dict[str, Any],
    sequence: Dict[str, List[Any]],
    context_specs: FeatureSpecs,
    sequence_specs: FeatureSpecs,
) -> bytes:
    """(context row, {name: list of steps}) -> serialized SequenceExample.

    Context features follow Example semantics exactly (defaults, empty-as-
    null, shape checks — see ``make_example_encoder``). Each sequence step
    is one Feature in the FeatureList: a scalar step encodes one element, a
    list step encodes that many. A sequence feature whose value is None is
    omitted entirely (readers with that name in their spec see zero steps).
    """
    ctx = make_example_encoder(context_specs)(context)  # == context field 1
    entries = []
    for name, spec in sequence_specs.items():
        steps = sequence.get(name)
        if steps is None:
            continue
        kind = _dtype_kind(spec.dtype)
        feats = bytearray()
        for step in steps:
            values = _as_list(step)
            if values is None:
                values = []
            _check_elements(values, spec)
            feats += _len_delim(1, _encode_feature(values, kind))  # FeatureList.feature
        entry = _len_delim(1, name.encode()) + _len_delim(2, bytes(feats))
        entries.append(_len_delim(1, entry))  # FeatureLists.feature_list map entry
    return ctx + _len_delim(2, b"".join(entries))


def parse_sequence_example_raw(
    data: bytes,
) -> Tuple[Dict[str, List[Any]], Dict[str, List[List[Any]]]]:
    """Serialized SequenceExample -> (context raw lists, {name: list of
    per-step raw lists}); no spec interpretation."""
    context: Dict[str, List[Any]] = {}
    sequence: Dict[str, List[List[Any]]] = {}
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        ln, pos = _read_varint(data, pos)
        chunk = data[pos : pos + ln]
        pos += ln
        field = tag >> 3
        if field == 1:  # context: a Features message
            context = _parse_features_body(chunk)
        elif field == 2:  # feature_lists
            fpos = 0
            while fpos < len(chunk):
                etag, fpos = _read_varint(chunk, fpos)
                eln, fpos = _read_varint(chunk, fpos)
                entry = chunk[fpos : fpos + eln]
                fpos += eln
                epos = 0
                name = b""
                steps: List[List[Any]] = []
                while epos < len(entry):
                    etag2, epos = _read_varint(entry, epos)
                    eln2, epos = _read_varint(entry, epos)
                    payload = entry[epos : epos + eln2]
                    epos += eln2
                    if etag2 >> 3 == 1:
                        name = payload
                    else:  # FeatureList: repeated Feature
                        lpos = 0
                        while lpos < len(payload):
                            _, lpos = _read_varint(payload, lpos)
                            fln, lpos = _read_varint(payload, lpos)
                            feat = payload[lpos : lpos + fln]
                            lpos += fln
                            steps.append(_decode_feature(feat)[1] if feat else [])
                sequence[name.decode()] = steps
    return context, sequence


def _convert_values(values: List[Any], dtype: str) -> List[Any]:
    if dtype == "string":
        return [v.decode() if isinstance(v, bytes) else v for v in values]
    if dtype in ("int32", "int64"):
        return [int(v) for v in values]
    return [float(v) for v in values]


def parse_sequence_example_bytes(
    data: bytes, context_specs: FeatureSpecs, sequence_specs: FeatureSpecs
) -> Tuple[Dict[str, Any], Dict[str, Any]]:
    """Serialized SequenceExample -> (context row, sequence row), honoring
    spec defaults/shapes for context and flattening scalar-shaped sequence
    specs to one value per step (mirrors the tensor shapes
    tf.io.parse_single_sequence_example yields: [T] vs [T, k])."""
    raw_ctx, raw_seq = parse_sequence_example_raw(data)
    # context follows Example semantics exactly: re-frame and reuse
    ctx_row: Dict[str, Any] = {}
    for name, spec in context_specs.items():
        values = raw_ctx.get(name)
        if values is None or len(values) == 0:
            if isinstance(spec, FixedLenFeature):
                if spec.default_value is None:
                    raise ValueError(f"context feature {name} missing and spec has no default")
                values = _as_list(spec.default_value)
            else:
                values = []
        values = _convert_values(values, spec.dtype)
        if isinstance(spec, FixedLenFeature) and not spec.shape:
            ctx_row[name] = values[0]
        else:
            ctx_row[name] = values
    seq_row: Dict[str, Any] = {}
    for name, spec in sequence_specs.items():
        steps = [_convert_values(s, spec.dtype) for s in raw_seq.get(name, [])]
        scalar_steps = isinstance(spec, FixedLenFeature) and not spec.shape
        if scalar_steps:
            for s in steps:
                if len(s) != 1:
                    raise ValueError(
                        f"sequence feature {name}: scalar spec but step has {len(s)} values"
                    )
            seq_row[name] = [s[0] for s in steps]
        else:
            seq_row[name] = steps
    return ctx_row, seq_row


# --------------------------------------------------------------------------
# TFRecord file framing.
# --------------------------------------------------------------------------


def _open_sink(path: str, compression: Optional[str]):
    """Sink file opener. gzip uses compresslevel=6 — zlib's default and
    what TensorFlow's own GZIP TFRecordWriter uses; measured 3.8× the
    throughput of Python's default level 9 at an identical (0.210 vs
    0.211) compression ratio on Example streams."""
    if compression == "gzip":
        return gzip.open(path, "wb", compresslevel=6)
    return open(path, "wb")


def write_tfrecord_file(path: str, records: Iterable[bytes], compression: Optional[str] = "gzip") -> int:
    n = 0
    with _open_sink(path, compression) as f:
        for rec in records:
            header = struct.pack("<Q", len(rec))
            f.write(header)
            f.write(struct.pack("<I", _masked_crc(header)))
            f.write(rec)
            f.write(struct.pack("<I", _masked_crc(rec)))
            n += 1
    return n


def read_tfrecord_file(path: str, compression: Optional[str] = "gzip") -> Iterator[bytes]:
    opener = gzip.open if compression == "gzip" else open
    with opener(path, "rb") as f:
        while True:
            header = f.read(8)
            if len(header) < 8:
                return
            (length,) = struct.unpack("<Q", header)
            (hcrc,) = struct.unpack("<I", f.read(4))
            if hcrc != _masked_crc(header):
                raise ValueError(f"corrupt TFRecord length header in {path}")
            data = f.read(length)
            (dcrc,) = struct.unpack("<I", f.read(4))
            if dcrc != _masked_crc(data):
                raise ValueError(f"corrupt TFRecord payload in {path}")
            yield data


# --------------------------------------------------------------------------
# Spark sink / source.
# --------------------------------------------------------------------------


def write_tfrecords(
    df: DataFrame,
    specs: FeatureSpecs,
    path: str,
    shuffle_seed: Optional[int] = 42,
    compression: Optional[str] = "gzip",
    num_files: Optional[int] = None,
) -> List[Tuple[str, int]]:
    """Spec-projected, globally shuffled TFRecord sink; one file per partition.

    Engine rendition of reference ``df_to_tf_record`` (tfrecords.py:239-268):
    spec projection (P1), seeded global random shuffle (R4 — the reference's
    is unseeded), then an executor-side write per partition returning
    (path, count) like ``write_example_rdd``. The write happens in
    ``mapInPandas`` so rows stream through Arrow without a driver hop; only
    the tiny (path, count) table is collected.

    The shuffle is ``repartition(n, rand(seed))`` + ``sortWithinPartitions
    (rand(seed+1))`` rather than the reference's ``orderBy(rand())``: the
    permutation is equally random, but a hash exchange replaces the range
    exchange + total sort (no sampling pass, no skewed range bounds at
    100 TB), and the explicit partition count keeps AQE from coalescing the
    write stage below the cluster's parallelism — the per-row Python encode
    is the bottleneck, so write-stage tasks must not collapse (measured 4×
    on the local fixtures).

    Encoding is vectorized per Arrow batch (``sources/tfrecords_vec.py``,
    byte-identical, measured 4-7× the per-row codec including the CRCs)
    whenever every spec is a scalar FixedLenFeature and the batch has no
    nulls; other shapes fall back to the compiled per-row encoder.
    """
    os.makedirs(path, exist_ok=True)
    spark = df.sparkSession
    n_files = num_files or max(
        spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions()
    )
    cols = [c for c in df.columns if c in specs]
    seed = 42 if shuffle_seed is None else shuffle_seed
    projected = (
        df.select(cols)
        .repartition(n_files, F.rand(seed))
        .sortWithinPartitions(F.rand(seed + 1))
    )
    spec_items = dict(specs)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from ml_hadoop_experiment_spark.sources.tfrecords_vec import (
            encode_framed_batch,
            frame_record,
        )

        pid = TaskContext.get().partitionId()
        fpath = os.path.join(path, f"part-{pid:05d}")
        n = 0
        encode = None
        with _open_sink(fpath, compression) as f:
            for pdf in batches:
                chunk = encode_framed_batch(pdf, spec_items)
                if chunk is not None:
                    f.write(chunk)
                    n += len(pdf)
                    continue
                if encode is None:  # compiled once per task, only if needed
                    encode = make_example_encoder(spec_items)
                for row in pdf.to_dict("records"):
                    f.write(frame_record(encode(row)))
                    n += 1
        yield pd.DataFrame({"path": [fpath], "count": [n]})

    result = projected.mapInPandas(_write, "path string, count bigint").collect()
    return [(r["path"], r["count"]) for r in result]


def read_tfrecords(
    spark: SparkSession,
    path: str,
    specs: FeatureSpecs,
    compression: Optional[str] = "gzip",
) -> DataFrame:
    """Distributed TFRecord source: each task parses its own files.

    Files are listed driver-side (cheap), parsing is executor-side. Part
    files beginning with ``_`` are skipped (reference tfrecords.py:265-267).
    """
    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "*"))
        if not os.path.basename(f).startswith("_")
    )
    schema_fields = []
    for name, spec in specs.items():
        base = {
            "int32": "int",
            "int64": "bigint",
            "float32": "float",
            "float64": "double",
            "string": "string",
        }[spec.dtype]
        if isinstance(spec, FixedLenFeature) and not spec.shape:
            schema_fields.append(f"`{name}` {base}")
        else:
            schema_fields.append(f"`{name}` array<{base}>")
    schema = ", ".join(schema_fields)
    spec_items = dict(specs)

    files_df = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        max(1, len(files))
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["file"]:
                rows = [
                    parse_example_bytes(rec, spec_items)
                    for rec in read_tfrecord_file(fpath, compression)
                ]
                if rows:
                    yield pd.DataFrame(rows)

    return files_df.mapInPandas(_read, schema)


# --------------------------------------------------------------------------
# Distributed SequenceExample source / sink. The engine-level twins of the
# reference's driver-side sequence reader (tensorflow/tfrecords.py:60-72):
# each task parses/writes its own files; only (path, count) reaches the
# driver. Schema mapping: context scalar spec -> scalar column, context
# varlen/shaped -> array column, sequence scalar spec -> array (one element
# per step), sequence varlen/shaped -> array<array>.
# --------------------------------------------------------------------------

_BASE_TYPES = {
    "int32": "int",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
    "string": "string",
}


def _sequence_schema(context_specs: FeatureSpecs, sequence_specs: FeatureSpecs) -> str:
    fields = []
    for name, spec in context_specs.items():
        base = _BASE_TYPES[spec.dtype]
        if isinstance(spec, FixedLenFeature) and not spec.shape:
            fields.append(f"`{name}` {base}")
        else:
            fields.append(f"`{name}` array<{base}>")
    for name, spec in sequence_specs.items():
        base = _BASE_TYPES[spec.dtype]
        if isinstance(spec, FixedLenFeature) and not spec.shape:
            fields.append(f"`{name}` array<{base}>")
        else:
            fields.append(f"`{name}` array<array<{base}>>")
    return ", ".join(fields)


def write_sequence_tfrecords(
    df: DataFrame,
    context_specs: FeatureSpecs,
    sequence_specs: FeatureSpecs,
    path: str,
    compression: Optional[str] = "gzip",
    num_files: Optional[int] = None,
) -> List[Tuple[str, int]]:
    """SequenceExample sink: context columns + per-step array columns ->
    one ``part-{i:05d}`` file per partition, (path, count) per file.

    No global shuffle (sequence datasets are usually already grouped by
    the entity that defines the sequence); pass the frame through
    ``df.repartition(...)`` first if a reshuffle is wanted.
    """
    os.makedirs(path, exist_ok=True)
    n_files = num_files or df.rdd.getNumPartitions()
    ctx_cols = [c for c in df.columns if c in context_specs]
    seq_cols = [c for c in df.columns if c in sequence_specs]
    projected = df.select(ctx_cols + seq_cols)
    if num_files is not None:
        projected = projected.repartition(n_files)
    ctx_items, seq_items = dict(context_specs), dict(sequence_specs)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from ml_hadoop_experiment_spark.sources.tfrecords_vec import frame_record

        pid = TaskContext.get().partitionId()
        fpath = os.path.join(path, f"part-{pid:05d}")
        n = 0
        with _open_sink(fpath, compression) as f:
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    ctx = {k: row.get(k) for k in ctx_items}
                    seq = {
                        k: (list(v) if v is not None else None)
                        for k, v in ((k, row.get(k)) for k in seq_items)
                    }
                    rec = to_sequence_example_bytes(ctx, seq, ctx_items, seq_items)
                    f.write(frame_record(rec))
                    n += 1
        yield pd.DataFrame({"path": [fpath], "count": [n]})

    result = projected.mapInPandas(_write, "path string, count bigint").collect()
    return [(r["path"], r["count"]) for r in result]


def read_sequence_tfrecords(
    spark: SparkSession,
    path: str,
    context_specs: FeatureSpecs,
    sequence_specs: FeatureSpecs,
    compression: Optional[str] = "gzip",
) -> DataFrame:
    """Distributed SequenceExample source; schema per ``_sequence_schema``.
    Files are listed driver-side, parsed executor-side; ``_*`` part files
    are skipped like the Example source."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "*"))
        if not os.path.basename(f).startswith("_")
    )
    schema = _sequence_schema(context_specs, sequence_specs)
    ctx_items, seq_items = dict(context_specs), dict(sequence_specs)

    files_df = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        max(1, len(files))
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["file"]:
                rows = []
                for rec in read_tfrecord_file(fpath, compression):
                    ctx, seq = parse_sequence_example_bytes(rec, ctx_items, seq_items)
                    ctx.update(seq)
                    rows.append(ctx)
                if rows:
                    yield pd.DataFrame(rows)

    return files_df.mapInPandas(_read, schema)
