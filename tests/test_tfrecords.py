"""TFRecord codec + source/sink tests — mirrors the reference's fixture
matrix (tests/tensorflow/protobuf_examples.py:9-146: null/default/empty/
scalar/list scenarios) and roundtrips through real files like
tests/tensorflow/test_tfrecords.py:16-44."""

import struct

import pytest

from ml_hadoop_experiment_spark.schema import FixedLenFeature, VarLenFeature
from ml_hadoop_experiment_spark.sources.tfrecords import (
    parse_example_bytes,
    parse_example_raw,
    read_tfrecord_file,
    read_tfrecords,
    to_example_bytes,
    write_tfrecord_file,
    write_tfrecords,
)

SPECS = {
    "feature1": FixedLenFeature((1,), "float32", default_value=1.0),
    "feature2": FixedLenFeature((1,), "int64", default_value=1),
    "feature3": FixedLenFeature((), "string", default_value="a"),
    "feature4": FixedLenFeature((2,), "int64"),
    "feature5": VarLenFeature("int64"),
}


def test_roundtrip_values_as_lists():
    row = {"feature1": [2.0], "feature2": [3], "feature3": "xyz",
           "feature4": [4, 5], "feature5": [6, 7, 8]}
    parsed = parse_example_bytes(to_example_bytes(row, SPECS), SPECS)
    assert parsed == {"feature1": [2.0], "feature2": [3], "feature3": "xyz",
                      "feature4": [4, 5], "feature5": [6, 7, 8]}


def test_scalars_accepted():
    row = {"feature1": 2.0, "feature2": 3, "feature3": "s", "feature4": [1, 1],
           "feature5": 9}
    parsed = parse_example_bytes(to_example_bytes(row, SPECS), SPECS)
    assert parsed["feature1"] == [2.0]
    assert parsed["feature5"] == [9]


def test_null_with_default_omitted_then_filled():
    """Null + spec default -> omitted from the proto, reader fills it
    (reference tfrecords.py:151-153 and to_tf_proto docstring)."""
    row = {"feature4": [1, 2], "feature5": []}
    data = to_example_bytes(row, SPECS)
    raw = parse_example_raw(data)
    assert "feature1" not in raw  # omitted
    parsed = parse_example_bytes(data, SPECS)
    assert parsed["feature1"] == [1.0]  # filled from default
    assert parsed["feature2"] == [1]
    assert parsed["feature3"] == "a"


def test_null_without_default_synthesized():
    """Null + no default -> zeros written (reference tfrecords.py:122-132)."""
    row = {"feature1": [1.0], "feature2": [1], "feature3": "b", "feature5": [1]}
    raw = parse_example_raw(to_example_bytes(row, SPECS))
    assert raw["feature4"] == [0, 0]  # synthesized [0]*shape


def test_empty_list_is_null():
    """Empty list counts as null (reference tfrecords.py:141-149)."""
    row = {"feature1": [], "feature2": [2], "feature3": "c", "feature4": [1, 1],
           "feature5": []}
    data = to_example_bytes(row, SPECS)
    assert "feature1" not in parse_example_raw(data)
    assert parse_example_bytes(data, SPECS)["feature5"] == []


def test_shape_mismatch_raises():
    row = {"feature1": [1.0, 2.0], "feature2": [1], "feature3": "d",
           "feature4": [1, 1], "feature5": []}
    with pytest.raises(ValueError, match="expected shape"):
        to_example_bytes(row, SPECS)


def test_type_enforcement():
    with pytest.raises(ValueError, match="not integer"):
        to_example_bytes({"feature2": ["nope"], "feature4": [1, 1]}, SPECS)
    with pytest.raises(ValueError, match="not str or bytes"):
        to_example_bytes({"feature3": 5, "feature4": [1, 1]}, SPECS)


def test_negative_int64_roundtrip():
    specs = {"v": VarLenFeature("int64")}
    parsed = parse_example_bytes(to_example_bytes({"v": [-5, 0, 5]}, specs), specs)
    assert parsed["v"] == [-5, 0, 5]


def test_file_roundtrip_and_corruption(tmp_path):
    path = str(tmp_path / "f.tfrecord")
    records = [b"hello", b"", b"world" * 100]
    assert write_tfrecord_file(path, records, compression=None) == 3
    assert list(read_tfrecord_file(path, compression=None)) == records
    # flip a payload byte -> corruption detected
    blob = bytearray(open(path, "rb").read())
    blob[12] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="corrupt"):
        list(read_tfrecord_file(path, compression=None))


def test_gzip_roundtrip(tmp_path):
    path = str(tmp_path / "f.tfrecord.gz")
    write_tfrecord_file(path, [b"abc", b"def"], compression="gzip")
    assert list(read_tfrecord_file(path, compression="gzip")) == [b"abc", b"def"]


def test_spark_sink_source_roundtrip(spark, tmp_path):
    specs = {
        "l_orderkey": FixedLenFeature((), "int64", default_value=0),
        "l_quantity": FixedLenFeature((), "float32", default_value=0.0),
        "l_returnflag": FixedLenFeature((), "string", default_value=""),
    }
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(500)
    out = str(tmp_path / "tfr")
    results = write_tfrecords(df, specs, out, shuffle_seed=1)
    assert sum(c for _, c in results) == 500
    assert all(p.split("/")[-1].startswith("part-") for p, _ in results)

    back = read_tfrecords(spark, out, specs)
    assert back.count() == 500
    src = {(r["l_orderkey"], round(r["l_quantity"], 3)) for r in
           df.select("l_orderkey", "l_quantity").collect()}
    dst = {(r["l_orderkey"], round(r["l_quantity"], 3)) for r in
           back.select("l_orderkey", "l_quantity").collect()}
    assert src == dst


def test_distributed_reader_multi_file(spark, tmp_path):
    """The path big inputs are steered to (compat read_parsed_tfr
    docstrings): N independent files parse as N executor tasks, `_*`
    sidecars are skipped, and no record crosses the driver."""
    from ml_hadoop_experiment_spark.sources.tfrecords import to_example_bytes

    specs = {"x": FixedLenFeature((), "int64", default_value=0)}
    out = tmp_path / "many"
    out.mkdir()
    for i in range(5):
        recs = [
            to_example_bytes({"x": v}, specs)
            for v in range(i * 100, (i + 1) * 100)
        ]
        write_tfrecord_file(str(out / f"part-{i:05d}"), recs, compression="gzip")
    # driver/launcher sidecars must be ignored
    (out / "_SUCCESS").write_bytes(b"")
    (out / "_metadata").write_bytes(b"junk")

    back = read_tfrecords(spark, str(out), specs)
    # one input partition per file -> per-file task parallelism
    assert back.rdd.getNumPartitions() == 5
    vals = sorted(r["x"] for r in back.collect())
    assert vals == list(range(500))
    # parsing happens inside mapInPandas on executors
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_sources_plan_no_shuffle(spark, tmp_path):
    """The file list is a JVM-side frame with one partition per file, so
    neither source shuffles before its parse; an empty directory reads
    as an empty frame with the spec schema."""
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        read_sequence_tfrecords,
        to_example_bytes,
    )

    specs = {"x": FixedLenFeature((), "int64", default_value=0)}
    out = tmp_path / "three"
    out.mkdir()
    for i in range(3):
        write_tfrecord_file(
            str(out / f"part-{i:05d}"), [to_example_bytes({"x": i}, specs)]
        )
    for back in (
        read_tfrecords(spark, str(out), specs),
        read_sequence_tfrecords(spark, str(out), specs, {}),
    ):
        back.collect()
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "MapInPandas" in plan
        assert back.rdd.getNumPartitions() == 3
        assert sorted(r["x"] for r in back.collect()) == [0, 1, 2]
    (tmp_path / "empty").mkdir()
    empty = read_tfrecords(spark, str(tmp_path / "empty"), specs)
    assert empty.collect() == [] and empty.schema.simpleString() == "struct<x:bigint>"


def test_events_reader(tmp_path):
    """Build a synthetic event file with the public wire format and read it
    back (reference golden shape: tests/tensorflow/test_events.py:26-43)."""
    from ml_hadoop_experiment_spark.sources.events import metrics_long_frame
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        _len_delim,
        _tag,
        _varint,
        write_tfrecord_file,
    )

    def event(step, metrics, with_summary=True):
        body = _tag(2, 0) + _varint(step)  # step
        if with_summary:
            values = b""
            for name, val in metrics:
                v = _len_delim(1, name.encode()) + _tag(2, 5) + struct.pack("<f", val)
                values += _len_delim(1, v)
            body += _len_delim(5, values)
        return body

    records = [
        event(42, [("metric0", 32.4)]),
        event(43, [], with_summary=False),  # no summary -> no rows
        event(44, [("metric0", 33.8), ("metric1", 23.3)]),
    ]
    write_tfrecord_file(str(tmp_path / "events.out.123"), records, compression=None)
    pdf = metrics_long_frame(str(tmp_path))
    got = [(r.step, r.name, round(r.value, 1)) for r in pdf.itertuples()]
    assert got == [(42, "metric0", 32.4), (44, "metric0", 33.8), (44, "metric1", 23.3)]


# --------------------------------------------------------------------------
# SequenceExample (reference tensorflow/tfrecords.py:60-72)
# --------------------------------------------------------------------------

CTX_SPECS = {
    "user": FixedLenFeature((), "string"),
    "weight": FixedLenFeature((), "float32", default_value=2.5),
    "tags": VarLenFeature("int64"),
}
SEQ_SPECS = {
    "clicks": FixedLenFeature((), "int64"),       # scalar per step -> [T]
    "scores": VarLenFeature("float32"),           # ragged steps -> [T, *]
    "pair": FixedLenFeature((2,), "int64"),       # shaped steps -> [T, 2]
    "words": FixedLenFeature((), "string"),
}


def test_sequence_example_roundtrip():
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        parse_sequence_example_bytes,
        to_sequence_example_bytes,
    )

    ctx = {"user": "u1", "weight": 0.5, "tags": [3, 1, 4]}
    seq = {
        "clicks": [1, 0, 1, 1],
        "scores": [[0.25], [], [0.5, 0.75]],
        "pair": [[1, 2], [3, 4]],
        "words": ["a", "bb"],
    }
    data = to_sequence_example_bytes(ctx, seq, CTX_SPECS, SEQ_SPECS)
    got_ctx, got_seq = parse_sequence_example_bytes(data, CTX_SPECS, SEQ_SPECS)
    assert got_ctx == {"user": "u1", "weight": 0.5, "tags": [3, 1, 4]}
    assert got_seq == {
        "clicks": [1, 0, 1, 1],
        "scores": [[0.25], [], [0.5, 0.75]],
        "pair": [[1, 2], [3, 4]],
        "words": ["a", "bb"],
    }


def test_sequence_example_context_defaults_and_omitted_sequence():
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        parse_sequence_example_bytes,
        to_sequence_example_bytes,
    )

    # weight omitted (has default -> reader fills); sequence features absent
    data = to_sequence_example_bytes({"user": "u2"}, {}, CTX_SPECS, SEQ_SPECS)
    ctx, seq = parse_sequence_example_bytes(data, CTX_SPECS, SEQ_SPECS)
    assert ctx == {"user": "u2", "weight": 2.5, "tags": []}
    assert seq == {"clicks": [], "scores": [], "pair": [], "words": []}


def test_sequence_example_scalar_step_shape_enforced():
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        parse_sequence_example_bytes,
        to_sequence_example_bytes,
    )

    data = to_sequence_example_bytes(
        {"user": "u"}, {"clicks": [[1, 2]]}, CTX_SPECS, SEQ_SPECS
    )
    with pytest.raises(ValueError, match="scalar spec but step has 2"):
        parse_sequence_example_bytes(data, CTX_SPECS, SEQ_SPECS)


def test_sequence_example_type_enforcement():
    from ml_hadoop_experiment_spark.sources.tfrecords import to_sequence_example_bytes

    with pytest.raises(ValueError, match="not integer"):
        to_sequence_example_bytes(
            {"user": "u"}, {"clicks": [1, "x"]}, CTX_SPECS, SEQ_SPECS
        )


def test_read_parsed_sequence_tfr_compat(tmp_path):
    """File roundtrip through the compat reader with duck-typed tf.io-style
    specs (reference read_parsed_sequence_tfr call shape)."""
    from ml_hadoop_experiment_spark.compat.tensorflow.tfrecords import (
        read_parsed_sequence_tfr,
    )
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        to_sequence_example_bytes,
        write_tfrecord_file,
    )

    class _FakeDType:
        def __init__(self, name):
            self.name = name

    class _FakeFixedLenSequenceFeature:  # structural: shape + dtype attrs
        def __init__(self, shape, dtype):
            self.shape = shape
            self.dtype = _FakeDType(dtype)
            self.allow_missing = True

    class _FakeVarLenFeature:  # structural: dtype only
        def __init__(self, dtype):
            self.dtype = _FakeDType(dtype)

    ctx_tf = {"user": _FakeFixedLenSequenceFeature([], "string")}
    seq_tf = {
        "clicks": _FakeFixedLenSequenceFeature([], "int64"),
        "scores": _FakeVarLenFeature("float32"),
    }
    rows = [
        ({"user": "a"}, {"clicks": [1, 0], "scores": [[0.5], [0.25, 0.75]]}),
        ({"user": "b"}, {"clicks": [7], "scores": [[]]}),
    ]
    records = [
        to_sequence_example_bytes(c, s, CTX_SPECS, SEQ_SPECS) for c, s in rows
    ]
    path = str(tmp_path / "seq.tfrecord")
    write_tfrecord_file(path, records, compression="gzip")
    got = list(read_parsed_sequence_tfr(path, ctx_tf, seq_tf, compression_type="GZIP"))
    assert got == [
        ({"user": "a"}, {"clicks": [1, 0], "scores": [[0.5], [0.25, 0.75]]}),
        ({"user": "b"}, {"clicks": [7], "scores": [[]]}),
    ]


def test_sequence_tfrecords_spark_roundtrip(spark, tmp_path):
    """Distributed SequenceExample sink + source: session-style frame with
    context scalars and per-step arrays survives the roundtrip."""
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        read_sequence_tfrecords,
        write_sequence_tfrecords,
    )

    ctx_specs = {
        "session_id": FixedLenFeature((), "string"),
        "label": FixedLenFeature((), "int64", default_value=0),
    }
    seq_specs = {
        "item_ids": FixedLenFeature((), "int64"),
        "prices": VarLenFeature("float32"),
    }
    df = spark.range(40).selectExpr(
        "concat('s', id) as session_id",
        "cast(id % 2 as bigint) as label",
        "transform(sequence(0, cast(id % 4 as int)), x -> cast(x as bigint)) as item_ids",
        "transform(sequence(0, cast(id % 4 as int)), "
        "  x -> array(cast(x as float), cast(x + 0.5 as float))) as prices",
    )
    out = str(tmp_path / "seq_sink")
    written = write_sequence_tfrecords(df, ctx_specs, seq_specs, out, num_files=3)
    assert sum(c for _, c in written) == 40
    back = read_sequence_tfrecords(spark, out, ctx_specs, seq_specs)
    got = {r["session_id"]: r for r in back.collect()}
    assert len(got) == 40
    r7 = got["s7"]
    assert r7["label"] == 1
    assert list(r7["item_ids"]) == [0, 1, 2, 3]
    assert [list(x) for x in r7["prices"]] == [[0.0, 0.5], [1.0, 1.5], [2.0, 2.5], [3.0, 3.5]]
