"""Stateful streaming operators (native streaming dedup and update-mode
aggregation, state in Spark's state store) and the four stream sketches:
cross-micro-batch dedup and running counts, driven through real multi-batch
execution (file source with maxFilesPerTrigger=1 → one micro-batch per
staged file), across a restart from a checkpoint, and down to the executed
plan."""

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import portable_int_hash
from ml_hadoop_experiment_spark.operators.heavy_hitters import mg_candidates
from ml_hadoop_experiment_spark.operators.histogram import histogram_counts
from ml_hadoop_experiment_spark.operators.hll import hll_register_rows
from ml_hadoop_experiment_spark.streaming import drain
from ml_hadoop_experiment_spark.streaming.sampling import (
    stateful_priority_sample,
)
from ml_hadoop_experiment_spark.streaming.sketches import (
    stateful_heavy_hitters,
)
from ml_hadoop_experiment_spark.streaming.stateful import (
    stateful_dedup,
    stateful_running_counts,
)

SCHEMA = "k string, v double"
# Batch 1: keys a, b (a twice).  Batch 2: keys a, c.
BATCHES = [[("a", 1.0), ("a", 2.0), ("b", 3.0)], [("a", 10.0), ("c", 4.0)]]


def _stage(spark, path, rows, schema=SCHEMA):
    """Add one parquet file to the source directory."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def _read_stream(spark, path, schema=SCHEMA):
    return (
        spark.readStream.schema(schema)
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
        (lambda s: hll_register_rows(s, F.col("v"), 8, ["k"]), "update", "StateStoreSave"),
        (
            lambda s: histogram_counts(s, ["k"], "v", 0.0, 20.0, 10),
            "update",
            "StateStoreSave",
        ),
    ],
    ids=["dedup", "running_counts", "hll", "histogram"],
)
def test_state_is_native(spark, tmp_path, two_batch_source, op, mode, state_node):
    """The executed plan keeps state in a JVM state operator and runs no
    Python: no per-key worker round trip."""
    q = _run(op(two_batch_source), str(tmp_path / "ckpt"), str(tmp_path / "out"), mode)
    plan = q._jsq.explainInternal(True)
    assert state_node in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert not re.search(r"Python|Pandas|Arrow", plan), plan


SKETCH_SCHEMA = "k string, u long, v double"


def _sketch_rows(part):
    """120 rows over keys a/b/c with 41 distinct ids; some NULL ids and
    NaN values, which every sketch skips."""
    return [
        (
            "abc"[i % 3],
            None if i % 17 == 0 else (i * 7 + part * 5) % 41,
            float("nan") if i % 19 == 0 else (i * 13.7 + part) % 110.0,
        )
        for i in range(120)
    ]


def _max_merged(df, group_cols, value_col):
    """Max of ``value_col`` per group: the whole-stream sketch of an
    update-mode drain, and the identity on a batch sketch."""
    return {tuple(r) for r in df.groupBy(*group_cols).agg(F.max(value_col)).collect()}


def _last_emission(df, cols):
    """The rows of the max-``seq`` emission per key."""
    mx = F.max("seq").over(Window.partitionBy("k"))
    return {
        tuple(r)
        for r in df.withColumn("__mx", mx)
        .where(F.col("seq") == F.col("__mx"))
        .select(*cols)
        .collect()
    }


def _mg_batch(df):
    """The batch Misra-Gries operator per key, on one partition so its
    summary is the whole key's (untruncated at capacity 64)."""
    out = set()
    for k in "abc":
        toks = df.where(F.col("k") == k).select(F.col("u").cast("string"))
        out |= {(k, *r) for r in mg_candidates(toks.coalesce(1), "u", 64).collect()}
    return out


def _bottom_k_batch(df):
    """The batch twin of the priority sample: the 4 distinct ids of
    smallest portable hash per key."""
    w = Window.partitionBy("k").orderBy("priority", "u")
    return {
        tuple(r)
        for r in df.where(F.col("u").isNotNull())
        .select("k", "u")
        .distinct()
        .withColumn("priority", portable_int_hash(F.col("u"), salt=7))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .select("k", "u", "priority")
        .collect()
    }


# name -> (stream operator, output mode, finish drained rows, batch operator)
SKETCHES = {
    "hll": (
        lambda s: hll_register_rows(s, F.col("u"), 8, ["k"]),
        "update",
        lambda d: _max_merged(d, ["k", "register"], "M"),
        lambda b: _max_merged(
            hll_register_rows(b, F.col("u"), 8, ["k"]), ["k", "register"], "M"
        ),
    ),
    "histogram": (
        lambda s: histogram_counts(s, ["k"], "v", 0.0, 110.0, 11),
        "update",
        lambda d: _max_merged(d, ["k", "bin"], "cnt"),
        lambda b: _max_merged(
            histogram_counts(b, ["k"], "v", 0.0, 110.0, 11), ["k", "bin"], "cnt"
        ),
    ),
    "heavy_hitters": (
        lambda s: stateful_heavy_hitters(s, ["k"], "u", capacity=64),
        "append",
        lambda d: _last_emission(d, ["k", "token", "mg_count"]),
        _mg_batch,
    ),
    "priority_sample": (
        lambda s: stateful_priority_sample(s, ["k"], "u", k=4, salt=7),
        "append",
        lambda d: _last_emission(d, ["k", "id", "priority"]),
        _bottom_k_batch,
    ),
}


@pytest.mark.parametrize("name", sorted(SKETCHES))
def test_sketch_survives_restart(spark, tmp_path, name):
    """Stage half the input, stop, stage the rest and resume from the same
    checkpoint: the finished sketch equals the uninterrupted drain and the
    batch operator over all the rows."""
    op, mode, finish, batch = SKETCHES[name]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    parts = [_sketch_rows(0), _sketch_rows(1)]
    for rows in parts:
        _stage(spark, src, rows, SKETCH_SCHEMA)
        _run(op(_read_stream(spark, src, SKETCH_SCHEMA)), ckpt, out, mode)
    restarted = finish(spark.read.parquet(out))
    uninterrupted = finish(drain(op(_read_stream(spark, src, SKETCH_SCHEMA)), mode))
    whole = spark.createDataFrame(parts[0] + parts[1], SKETCH_SCHEMA)
    assert restarted == uninterrupted == batch(whole)
    assert len(restarted) > 3  # more than one row per key
