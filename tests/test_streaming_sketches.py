"""Stream sketches: the HLL stream (the batch register operator drained
in update mode) must equal the batch registers and estimate, merge
across micro-batches, and ignore NULL values; the Misra-Gries stream
must keep exact summaries untruncated and bounded ones truncated."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.hll import hll_register_rows
from ml_hadoop_experiment_spark.streaming import drain


def _final_registers(sunk):
    return {
        (r["event_type"], r["register"]): r["M"]
        for r in sunk.groupBy("event_type", "register")
        .agg(F.max("M").alias("M"))
        .collect()
    }


def _streamed_registers(spark, df, path, value_col="user_id"):
    """Write ``df`` as one parquet source, stream it through the
    register operator and return the max-merged registers."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    regs = hll_register_rows(stream, F.col(value_col), 8, ["event_type"])
    return _final_registers(drain(regs, "update"))


class TestStreamingHllDistinct:
    def test_stream_equals_batch_estimate(self, spark):
        from ml_hadoop_experiment_spark.operators.hll import (
            estimate_from_register_rows,
        )

        sf_dir = "/root/testdata/sf0.001"
        wire_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = (
            spark.readStream.schema(wire_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_type", "user_id")
        )
        sunk = drain(
            hll_register_rows(stream, F.col("user_id"), 8, ["event_type"]),
            "update",
        )
        regs = sunk.groupBy("event_type", "register").agg(
            F.max("M").alias("M")
        )
        streamed = {
            r["event_type"]: r["n_est"]
            for r in estimate_from_register_rows(
                regs, 8, ["event_type"]
            ).collect()
        }
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        want = {}
        for row in ev.select("event_type").distinct().collect():
            et = row["event_type"]
            sub = ev.where(F.col("event_type") == et)
            est = estimate_from_register_rows(
                hll_register_rows(sub, F.col("user_id"), 8), 8
            ).collect()[0]["n_est"]
            want[et] = est
        assert streamed == want

    def test_multi_batch_max_merge_equals_single_batch(self, spark, tmp_path):
        """Three parquet files fed one per micro-batch must yield the
        same final registers as the whole table in one batch — the
        mergeability the state store's max-merge relies on."""
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        d = str(tmp_path / "ev")
        os.makedirs(d, exist_ok=True)
        for i in range(3):
            ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        schema = ev.schema
        results = {}
        for files_per_trigger in (1, 1000):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", files_per_trigger)
                .parquet(d)
                .select("event_type", "user_id")
            )
            sunk = drain(
                hll_register_rows(
                    stream, F.col("user_id"), 8, ["event_type"]
                ),
                "update",
            )
            results[files_per_trigger] = _final_registers(sunk)
        assert results[1] == results[1000]

    def test_null_values_ignored(self, spark, tmp_path):
        """A stream with NULL user_id rows builds the same registers as
        the same stream without them."""
        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select("event_type", "user_id")
        nulls = ev.limit(50).withColumn(
            "user_id", F.lit(None).cast(ev.schema["user_id"].dataType)
        )
        with_nulls = _streamed_registers(
            spark, ev.unionByName(nulls), str(tmp_path / "with")
        )
        without = _streamed_registers(spark, ev, str(tmp_path / "without"))
        assert with_nulls == without
        assert with_nulls == {
            (r["event_type"], r["register"]): r["M"]
            for r in hll_register_rows(
                ev, F.col("user_id"), 8, ["event_type"]
            ).collect()
        }

    @pytest.mark.parametrize(
        "value", ["value", "value > 100.0"], ids=["double", "boolean"]
    )
    def test_stream_equals_batch_for(self, spark, tmp_path, value):
        """Double and boolean values hash through Spark's own
        ``CAST(value AS STRING)`` in the stream as in the batch
        operator, so both build the same registers."""
        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select("event_type", F.expr(value).alias("value"))
        streamed = _streamed_registers(
            spark, ev, str(tmp_path / "src"), "value"
        )
        assert streamed == {
            (r["event_type"], r["register"]): r["M"]
            for r in hll_register_rows(
                ev, F.col("value"), 8, ["event_type"]
            ).collect()
        }


def _final_summary(sunk):
    """Rows of the max-seq emission per key: {(key, token): mg_count}."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    rows = (
        sunk.withColumn("__mx", F.max("seq").over(w))
        .where(F.col("seq") == F.col("__mx"))
        .collect()
    )
    return {(r["event_type"], r["token"]): r["mg_count"] for r in rows}


class TestStreamingHeavyHitters:
    def test_no_truncation_summary_is_exact(self, spark):
        """capacity above the per-key cardinality: the final summary is
        the exact per-value counts."""
        from ml_hadoop_experiment_spark.streaming.sketches import (
            stateful_heavy_hitters,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        schema = ev.schema
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet("/root/testdata/sf0.001")
            .select("event_type", "user_id")
        )
        sunk = drain(
            stateful_heavy_hitters(
                stream, ["event_type"], "user_id", capacity=1024
            )
        )
        got = _final_summary(sunk)
        exact = {
            (r["event_type"], str(r["user_id"])): r["c"]
            for r in ev.groupBy("event_type", "user_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        assert got == exact

    def test_multi_batch_final_summary_equals_single_batch(
        self, spark, tmp_path
    ):
        """Untruncated MG folded over three micro-batches must equal the
        one-batch summary (exact counts either way); seq must reach the
        per-key batch count on the one-file-per-trigger path."""
        from ml_hadoop_experiment_spark.streaming.sketches import (
            stateful_heavy_hitters,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        d = str(tmp_path / "ev")
        os.makedirs(d, exist_ok=True)
        for i in range(3):
            ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        results = {}
        for files_per_trigger in (1, 1000):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", files_per_trigger)
                .parquet(d)
                .select("event_type", "user_id")
            )
            sunk = drain(
                stateful_heavy_hitters(
                    stream, ["event_type"], "user_id", capacity=1024
                )
            )
            if files_per_trigger == 1:
                assert (
                    sunk.agg(F.max("seq")).collect()[0][0] == 3
                )  # every key appears in all three files
            results[files_per_trigger] = _final_summary(sunk)
        assert results[1] == results[1000]

    def test_truncation_bounds_state_and_keeps_heavy_item(self, spark):
        """capacity below cardinality: summary stays <= capacity rows
        and the genuinely heavy value survives with the Agarwal-bounded
        undercount (true - N/(capacity+1) <= mg_count <= true)."""
        from ml_hadoop_experiment_spark.streaming.sketches import (
            stateful_heavy_hitters,
        )

        # 200 occurrences of user 0 + one each of users 1..100: N=300
        rows = [("click", 0)] * 200 + [("click", u) for u in range(1, 101)]
        df = spark.createDataFrame(
            [(i, t, u) for i, (t, u) in enumerate(rows)],
            "event_id long, event_type string, user_id long",
        )
        import tempfile

        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(df.schema)
            .parquet(d)
            .select("event_type", "user_id")
        )
        cap = 10
        sunk = drain(
            stateful_heavy_hitters(
                stream, ["event_type"], "user_id", capacity=cap
            )
        )
        got = _final_summary(sunk)
        assert len(got) <= cap
        n = len(rows)
        mg = got[("click", "0")]
        assert 200 - n / (cap + 1) <= mg <= 200

    def test_guards(self, spark):
        from ml_hadoop_experiment_spark.streaming.sketches import (
            stateful_heavy_hitters,
        )

        base = spark.createDataFrame(
            [("a", 1.5)], "event_type string, value double"
        )
        with pytest.raises(TypeError, match="must be string or integral"):
            stateful_heavy_hitters(base, ["event_type"], "value")
        ok = base.withColumn("value", F.col("value").cast("long"))
        with pytest.raises(ValueError, match="capacity"):
            stateful_heavy_hitters(ok, ["event_type"], "value", capacity=0)
