"""Stateful streaming operators (applyInPandasWithState): cross-micro-batch
dedup and running counts, driven through real multi-batch execution
(file source with maxFilesPerTrigger=1 → one micro-batch per staged file)."""

import pytest

from ml_hadoop_experiment_spark.streaming import drain
from ml_hadoop_experiment_spark.streaming.stateful import (
    stateful_dedup,
    stateful_running_counts,
)

SCHEMA = "k string, v double"


@pytest.fixture()
def two_batch_source(spark, tmp_path):
    """Two parquet files staged so the stream sees them as two micro-batches.

    Batch 1: keys a, b (a twice).  Batch 2: keys a, c.
    """
    path = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(path)
    spark.createDataFrame(
        [("a", 10.0), ("c", 4.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


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
