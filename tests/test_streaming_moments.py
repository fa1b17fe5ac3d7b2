"""Streaming moments: fixed-point quantization goldens, NULL/NaN
skip, stream==batch sum identity under multi-batch drains, and the
DuckDB twin."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.streaming import drain


class TestMomentSums:
    def test_hand_computed_sums_and_finish(self, spark):
        from ml_hadoop_experiment_spark.streaming.moments import (
            moment_sums,
            moments_from_sums,
        )

        df = spark.createDataFrame(
            [("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", None),
             ("k", float("nan"))],
            "key string, v double",
        )
        sums = moment_sums(df, ["key"], "v", scale=100)
        row = sums.collect()[0]
        assert (row["n"], row["s1"], row["s2"]) == (3, 600, 140_000)
        fin = moments_from_sums(sums, ["key"], scale=100).collect()[0]
        assert fin["mean"] == 2.0
        assert fin["std"] == 0.816497  # sqrt(2/3) rounded

    def test_round_half_up_including_negatives(self, spark):
        from ml_hadoop_experiment_spark.streaming.moments import moment_sums

        df = spark.createDataFrame(
            [("k", 1.5), ("k", -1.5)], "key string, v double"
        )
        row = moment_sums(df, ["key"], "v", scale=1).collect()[0]
        # floor(1.5+0.5)=2, floor(-1.5+0.5)=-1 -> round-half-up both
        assert row["s1"] == 1
        assert row["s2"] == 5  # 4 + 1

    def test_constant_column_std_is_zero_not_nan(self, spark):
        from ml_hadoop_experiment_spark.streaming.moments import (
            moment_sums,
            moments_from_sums,
        )

        df = spark.createDataFrame(
            [("k", 7.77)] * 5, "key string, v double"
        )
        fin = moments_from_sums(
            moment_sums(df, ["key"], "v"), ["key"]
        ).collect()[0]
        assert fin["std"] == 0.0

    def test_scale_validated(self, spark):
        from ml_hadoop_experiment_spark.streaming.moments import moment_sums

        df = spark.createDataFrame([("k", 1.0)], "key string, v double")
        with pytest.raises(ValueError, match="scale"):
            moment_sums(df, ["key"], "v", scale=0)


class TestStreamingMoments:
    def test_stream_equals_batch_sums(self, spark):
        from ml_hadoop_experiment_spark.streaming.moments import moment_sums

        sf_dir = "/root/testdata/sf0.001"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_type", "value")
        )
        sunk = drain(
            moment_sums(stream, ["event_type"], "value"), "complete"
        )
        want = {
            r["event_type"]: (r["n"], r["s1"], r["s2"])
            for r in moment_sums(ev, ["event_type"], "value").collect()
        }
        got = {
            r["event_type"]: (r["n"], r["s1"], r["s2"])
            for r in sunk.collect()
        }
        assert got == want

    def test_multi_batch_equals_single_batch(self, spark, tmp_path):
        """Complete-mode aggregation over one-file-per-trigger batches
        must finish with the same integer sums as one big batch — the
        exactness the fixed-point quantization buys."""
        from ml_hadoop_experiment_spark.streaming.moments import moment_sums

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
                .select("event_type", "value")
            )
            sunk = drain(
                moment_sums(stream, ["event_type"], "value"), "complete"
            )
            results[files_per_trigger] = {
                r["event_type"]: (r["n"], r["s1"], r["s2"])
                for r in sunk.collect()
            }
        assert results[1] == results[1000]

    def test_duckdb_twin(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.streaming.moments import (
            moment_sums,
            moments_from_sums,
            moments_sql,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sp = (
            moments_from_sums(
                moment_sums(ev, ["event_type"], "value"), ["event_type"]
            )
            .toPandas()
            .sort_values("event_type")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM"
            " '/root/testdata/sf0.001/events.parquet'"
        )
        du = (
            con.execute(moments_sql("events", ["event_type"], "value"))
            .df()
            .sort_values("event_type")
            .reset_index(drop=True)
        )
        assert sp[sorted(sp.columns)].equals(du[sorted(du.columns)])
