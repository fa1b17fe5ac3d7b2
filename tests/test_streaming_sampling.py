"""Streaming bottom-k-by-hash sample: priority replica equality,
order/batch invariance, eviction correctness, bounded state, guards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.streaming import drain


def _final(sunk):
    w = Window.partitionBy("event_type")
    return {
        (r["event_type"], r["id"]): r["priority"]
        for r in sunk.withColumn("__mx", F.max("seq").over(w))
        .where(F.col("seq") == F.col("__mx"))
        .collect()
    }


class TestStreamingPrioritySample:
    def test_priority_replica_matches_spark_expression(self, spark):
        from ml_hadoop_experiment_spark.functions.hashing import (
            portable_int_hash,
        )
        from ml_hadoop_experiment_spark.streaming.sampling import (
            portable_int_priority,
        )

        vals = [0, 1, 7, 999, 123456, 10**9]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {
            r["v"]: r["h"]
            for r in df.select(
                "v", portable_int_hash(F.col("v"), salt=7).alias("h")
            ).collect()
        }
        assert got == {v: portable_int_priority(v, salt=7) for v in vals}

    def test_stream_equals_batch_bottom_k(self, spark):
        from ml_hadoop_experiment_spark.functions.hashing import (
            portable_int_hash,
        )
        from ml_hadoop_experiment_spark.streaming.sampling import (
            stateful_priority_sample,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet("/root/testdata/sf0.001")
            .select("event_type", "user_id")
        )
        got = _final(
            drain(
                stateful_priority_sample(
                    stream, ["event_type"], "user_id", k=5, salt=7
                )
            )
        )
        w = Window.partitionBy("event_type").orderBy(
            F.col("pri").asc(), F.col("user_id").asc()
        )
        want = {
            (r["event_type"], r["user_id"]): r["pri"]
            for r in ev.select("event_type", "user_id")
            .distinct()
            .withColumn("pri", portable_int_hash(F.col("user_id"), salt=7))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .collect()
        }
        assert got == want

    def test_multi_batch_equals_single_batch(self, spark, tmp_path):
        """Bottom-k is mergeable: the sample is a pure function of the
        id set, so batch boundaries cannot change it."""
        from ml_hadoop_experiment_spark.streaming.sampling import (
            stateful_priority_sample,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        d = str(tmp_path / "ev")
        os.makedirs(d, exist_ok=True)
        for i in range(3):
            ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        results = {}
        for fpt in (1, 1000):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", fpt)
                .parquet(d)
                .select("event_type", "user_id")
            )
            results[fpt] = _final(
                drain(
                    stateful_priority_sample(
                        stream, ["event_type"], "user_id", k=5, salt=7
                    )
                )
            )
        assert results[1] == results[1000]

    def test_state_bounded_at_k_and_eviction(self, spark, tmp_path):
        from ml_hadoop_experiment_spark.streaming.sampling import (
            portable_int_priority,
            stateful_priority_sample,
        )

        rows = [(i, "click", i) for i in range(200)]
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, user_id long"
        )
        d = str(tmp_path / "ev2")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(df.schema)
            .parquet(d)
            .select("event_type", "user_id")
        )
        sunk = drain(
            stateful_priority_sample(
                stream, ["event_type"], "user_id", k=3, salt=0
            )
        )
        got = _final(sunk)
        assert len(got) == 3
        want_ids = sorted(
            range(200), key=lambda v: (portable_int_priority(v), v)
        )[:3]
        assert sorted(i for _, i in got) == sorted(want_ids)

    def test_guards(self, spark):
        from ml_hadoop_experiment_spark.streaming.sampling import (
            stateful_priority_sample,
        )

        df = spark.createDataFrame(
            [("a", "x")], "event_type string, user_id string"
        )
        with pytest.raises(TypeError, match="must be integral"):
            stateful_priority_sample(df, ["event_type"], "user_id", k=3)
        ok = df.withColumn("user_id", F.lit(1).cast("long"))
        with pytest.raises(ValueError, match="k must be positive"):
            stateful_priority_sample(ok, ["event_type"], "user_id", k=0)
