"""Stateful streaming operators (native streaming dedup and update-mode
aggregation, state in Spark's state store): cross-micro-batch dedup and
running counts, driven through real multi-batch execution (file source with
maxFilesPerTrigger=1 → one micro-batch per staged file), across a restart
from a checkpoint, and down to the executed plan."""

import re

import pytest

from ml_hadoop_experiment_spark.streaming import drain
from ml_hadoop_experiment_spark.streaming.stateful import (
    stateful_dedup,
    stateful_running_counts,
)

SCHEMA = "k string, v double"
# Batch 1: keys a, b (a twice).  Batch 2: keys a, c.
BATCHES = [[("a", 1.0), ("a", 2.0), ("b", 3.0)], [("a", 10.0), ("c", 4.0)]]


def _stage(spark, path, rows):
    """Add one parquet file to the source directory."""
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


@pytest.fixture()
def two_batch_source(spark, tmp_path):
    """Two parquet files staged so the stream sees them as two micro-batches."""
    path = str(tmp_path / "src")
    for rows in BATCHES:
        _stage(spark, path, rows)
    return _read_stream(spark, path)


def _run(stream_df, checkpoint, out, output_mode="append"):
    """Run ``stream_df`` availableNow from ``checkpoint`` into parquet at
    ``out`` and return the finished query. A file sink is append-only, so
    an update-mode stream appends each micro-batch through ``foreachBatch``."""
    w = (
        stream_df.writeStream.option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if output_mode == "append":
        w = w.format("parquet").option("path", out)
    else:
        w = w.foreachBatch(lambda df, _: df.write.mode("append").parquet(out))
    q = w.start()
    try:
        assert q.awaitTermination(120), "stream did not finish"
    finally:
        q.stop()
    return q


def _final_counts(pdf):
    """The last (largest) running count and total per key."""
    final = pdf.sort_values("count").groupby("k").last()
    return {k: (int(r["count"]), float(r["total"])) for k, r in final.iterrows()}


def test_stateful_dedup_across_batches(spark, two_batch_source):
    out = drain(stateful_dedup(two_batch_source, ["k"]))
    rows = {r["k"]: r["v"] for r in out.collect()}
    # one row per distinct key over the whole stream
    assert set(rows) == {"a", "b", "c"}
    assert rows["b"] == 3.0 and rows["c"] == 4.0
    # key 'a' must come from its first appearance (batch 1), never 10.0
    assert rows["a"] in (1.0, 2.0)


def test_stateful_running_counts(spark, two_batch_source):
    out = stateful_running_counts(two_batch_source, ["k"], value_col="v")
    pdf = drain(out, "update").toPandas()
    # final (largest) state per key reflects all batches
    final = pdf.sort_values("count").groupby("k").last()
    assert final.loc["a", "count"] == 3 and final.loc["a", "total"] == 13.0
    assert final.loc["b", "count"] == 1 and final.loc["b", "total"] == 3.0
    assert final.loc["c", "count"] == 1 and final.loc["c", "total"] == 4.0


def test_running_counts_without_value_col(spark, two_batch_source):
    out = stateful_running_counts(two_batch_source, ["k"])
    assert out.columns == ["k", "count", "total"]
    assert _final_counts(drain(out, "update").toPandas()) == {
        "a": (3, 0.0), "b": (1, 0.0), "c": (1, 0.0)
    }


def test_dedup_state_survives_restart(spark, tmp_path):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    for rows in BATCHES:  # stop after each staged file, restart from ckpt
        _stage(spark, src, rows)
        _run(stateful_dedup(_read_stream(spark, src), ["k"]), ckpt, out)
    rows = [(r["k"], r["v"]) for r in spark.read.parquet(out).collect()]
    assert sorted(k for k, _ in rows) == ["a", "b", "c"]  # one row per key
    got = dict(rows)
    assert got["a"] in (1.0, 2.0)  # batch 1's row, not the restart's 10.0
    assert got["b"] == 3.0 and got["c"] == 4.0


def test_running_counts_survive_restart(spark, tmp_path, two_batch_source):
    src, ckpt, out = (str(tmp_path / d) for d in ("src2", "ckpt", "out"))
    for rows in BATCHES:
        _stage(spark, src, rows)
        stream = stateful_running_counts(_read_stream(spark, src), ["k"], "v")
        _run(stream, ckpt, out, "update")
    uninterrupted = drain(
        stateful_running_counts(two_batch_source, ["k"], "v"), "update"
    )
    restarted = _final_counts(spark.read.parquet(out).toPandas())
    assert restarted == _final_counts(uninterrupted.toPandas())
    assert restarted == {"a": (3, 13.0), "b": (1, 3.0), "c": (1, 4.0)}


@pytest.mark.parametrize(
    "op, mode, state_node",
    [
        (lambda s: stateful_dedup(s, ["k"]), "append", "StreamingDeduplicate"),
        (lambda s: stateful_running_counts(s, ["k"], "v"), "update", "StateStoreSave"),
    ],
    ids=["dedup", "running_counts"],
)
def test_state_is_native(spark, tmp_path, two_batch_source, op, mode, state_node):
    """The executed plan keeps state in a JVM state operator and runs no
    Python: no per-key worker round trip."""
    q = _run(op(two_batch_source), str(tmp_path / "ckpt"), str(tmp_path / "out"), mode)
    plan = q._jsq.explainInternal(True)
    assert state_node in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert not re.search(r"Python|Pandas|Arrow", plan), plan
