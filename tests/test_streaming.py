"""Structured Streaming tests: streaming inference column, foreachBatch,
watermarked windows — driven through real micro-batch execution with the
rate/memory sinks."""

import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.streaming import (
    drain,
    foreach_batch_inference,
    streaming_inference,
    windowed_event_aggregates,
)
from ml_hadoop_experiment_spark.operators.inference import with_inference_column


@pytest.fixture()
def stream_source(spark, tmp_path):
    # stage a small parquet dir as a file-stream source with a known schema
    src = spark.createDataFrame(
        [(float(i), float(i * 2)) for i in range(20)], "f1 double, f2 double"
    )
    path = str(tmp_path / "stream_src")
    src.write.parquet(path)
    return spark.readStream.schema("f1 double, f2 double").parquet(path)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


class TestDrain:
    def test_returned_frame_outlives_its_sink_view(self, spark, stream_source):
        before = _temp_views(spark)
        out = drain(stream_source.withColumn("k", F.col("f1") % 2))
        assert _temp_views(spark) == before
        assert out.count() == 20
        got = {r["k"]: r["count"] for r in out.groupBy("k").count().collect()}
        assert got == {0.0: 10, 1.0: 10}

    def test_timeout_raises_stops_the_stream_and_drops_the_sink(
        self, spark, monkeypatch
    ):
        import sys
        import time

        from pyspark.sql.functions import pandas_udf

        monkeypatch.setattr(sys.modules[drain.__module__], "DRAIN_TIMEOUT_S", 2)

        @pandas_udf("long")
        def slow(v: pd.Series) -> pd.Series:
            time.sleep(30)
            return v

        # the rate source's micro-batch flavour: a fixed batch of rows that
        # availableNow reads at once, held up in the UDF past the timeout
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 10)
            .load()
        )
        before = _temp_views(spark)
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.raises(TimeoutError, match="did not drain within 2 s"):
            drain(stream.select(slow("value").alias("v")))
        assert spark.streams.active == []
        assert _temp_views(spark) == before
        assert spark.conf.get("spark.sql.shuffle.partitions") == partitions

    def test_stream_failure_propagates_and_drops_the_sink(
        self, spark, stream_source
    ):
        from pyspark.errors import StreamingQueryException
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def boom(v: pd.Series) -> pd.Series:
            raise ValueError("boom from the stream")

        before = _temp_views(spark)
        with pytest.raises(StreamingQueryException, match="boom from the stream"):
            drain(stream_source.select(boom("f1").alias("b")))
        assert spark.streams.active == []
        assert _temp_views(spark) == before


def test_streaming_inference(spark, stream_source):
    out = streaming_inference(
        stream_source, None, ["f1", "f2"], lambda m, b: b[0] + b[1],
        output_type="double", output_col="p",
    )
    rows = drain(out).collect()
    assert len(rows) == 20
    assert all(r["p"] == r["f1"] + r["f2"] for r in rows)


def test_streaming_inference_rejects_batch_df(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "f1 double, f2 double")
    with pytest.raises(ValueError, match="not a streaming"):
        streaming_inference(df, None, ["f1", "f2"], lambda m, b: b[0])


def test_foreach_batch_inference(spark, stream_source):
    collected = []

    def sink(batch_df, epoch_id):
        collected.extend(batch_df.collect())

    fn = foreach_batch_inference(
        lambda df: with_inference_column(
            df, None, ["f1", "f2"], lambda m, b: b[0] * b[1], output_type="double",
            output_col="prod",
        ),
        sink,
    )
    q = stream_source.writeStream.foreachBatch(fn).trigger(availableNow=True).start()
    q.awaitTermination(60)
    assert len(collected) == 20
    assert all(r["prod"] == r["f1"] * r["f2"] for r in collected)


def test_windowed_aggregates(spark, tmp_path):
    rows = [
        ("2026-01-01 00:00:10", "click", 1.0),
        ("2026-01-01 00:00:40", "click", 2.0),
        ("2026-01-01 00:01:10", "view", 5.0),
    ]
    src = spark.createDataFrame(rows, "ts_s string, event_type string, value double")
    src = src.select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    path = str(tmp_path / "ev_src")
    src.write.parquet(path)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(path)
    agg = windowed_event_aggregates(stream, window="1 minute", watermark="2 minutes")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in drain(agg, "complete").collect()
    }
    assert got[("2026-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2026-01-01 00:01:00", "view")] == (1, 5.0)


def test_session_window_aggregates_boundary_semantics(spark, tmp_path):
    """Session windows must merge a gap of EXACTLY the threshold and split
    strictly above it — the boundary the batch sessionize oracle assumes
    (new session iff diff > gap)."""
    import datetime as dt

    from ml_hadoop_experiment_spark.streaming.inference import (
        session_window_aggregates,
    )

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(seconds=600)),        # == gap: merges
        (1, base + dt.timedelta(seconds=600 + 599)),  # < gap: merges
        (1, base + dt.timedelta(seconds=600 + 599 + 601)),  # > gap: splits
        (2, base),                                    # other key: own session
    ]
    src = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    path = str(tmp_path / "sess_src")
    src.write.parquet(path)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(path)
    agg = session_window_aggregates(
        stream, ts_col="ts", key_col="user_id", gap="600 seconds", watermark="1 hour"
    )
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in drain(agg, "complete").collect()
    }
    assert got == {
        (1, "2026-01-01 00:00:00"): 3,
        (1, "2026-01-01 00:30:00"): 1,
        (2, "2026-01-01 00:00:00"): 1,
    }


def test_interval_join_boundary_semantics(spark, tmp_path):
    """Stream-stream interval join: inclusive at exactly the upper bound,
    excluded one second past it, never across keys, never backwards."""
    import datetime as dt

    from ml_hadoop_experiment_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # (event_id, ts, user_id, side)
        (1, t0, 100, "L"),
        (2, t0 + dt.timedelta(minutes=30), 100, "R"),      # exactly upper: in
        (3, t0 + dt.timedelta(minutes=30, seconds=1), 100, "R"),  # past: out
        (4, t0 - dt.timedelta(seconds=1), 100, "R"),       # before left: out
        (5, t0 + dt.timedelta(minutes=5), 200, "R"),       # other key: out
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "side"])
    path = str(tmp_path / "ij_src")
    spark.createDataFrame(pdf).write.parquet(path)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, side string"
    ).parquet(path)
    joined = interval_join(
        stream.where(F.col("side") == "L"),
        stream.where(F.col("side") == "R"),
        "user_id",
        "ts",
        upper="30 minutes",
        watermark="1 hour",
    )
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in drain(joined.select("l_event_id", "r_event_id")).collect()
    }
    assert got == {(1, 2)}


class TestStreamStaticEnrich:
    def _stream(self, spark, tmp_path, rows, schema, name):
        import pandas as pd  # noqa: F401

        path = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
        wire = spark.read.parquet(path).schema
        return spark.readStream.schema(wire).parquet(path)

    def test_inner_enrich_equals_batch_join(self, spark, tmp_path):
        from ml_hadoop_experiment_spark.streaming.enrich import (
            stream_static_enrich,
        )

        stream = self._stream(
            spark, tmp_path,
            [(1, 10), (2, 20), (3, 99)], "id long, key long", "facts",
        )
        dim = spark.createDataFrame(
            [(10, "a"), (20, "b"), (30, "c")], "key long, attr string"
        )
        out = stream_static_enrich(stream, dim, "key").select("id", "attr")
        got = {(r["id"], r["attr"]) for r in drain(out).collect()}
        assert got == {(1, "a"), (2, "b")}  # unmatched key 99 dropped

    def test_left_anti_is_streaming_blocklist(self, spark, tmp_path):
        from ml_hadoop_experiment_spark.streaming.enrich import (
            stream_static_enrich,
        )

        stream = self._stream(
            spark, tmp_path,
            [(1, 10), (2, 20), (3, 30)], "id long, key long", "facts2",
        )
        blocklist = spark.createDataFrame([(20,)], "key long")
        out = stream_static_enrich(stream, blocklist, "key", how="left_anti")
        got = sorted(r["id"] for r in drain(out).select("id").collect())
        assert got == [1, 3]

    def test_rejects_wrong_sides(self, spark, tmp_path):
        import pytest

        from ml_hadoop_experiment_spark.streaming.enrich import (
            stream_static_enrich,
        )

        batch = spark.createDataFrame([(1, 10)], "id long, key long")
        stream = self._stream(spark, tmp_path, [(1, 10)], "id long, key long", "f3")
        with pytest.raises(ValueError, match="stream side"):
            stream_static_enrich(batch, batch, "key")
        with pytest.raises(ValueError, match="static side"):
            stream_static_enrich(stream, stream, "key")


class TestStreamingSimhash:
    """Round-12: streaming content near-dup against a pinned corpus
    index (streaming/content.stream_simhash_against_index)."""

    def test_drained_stream_equals_batch_operator(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ml_hadoop_experiment_spark.operators.simhash_index import (
            build_simhash_index,
            simhash_against_index,
        )
        from ml_hadoop_experiment_spark.streaming.content import (
            stream_simhash_against_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        new = docs.where(F.col("doc_id") % 10 == 0)
        index = build_simhash_index(
            corpus, "doc_id", "text", bits=32, max_hamming=3
        )
        want = sorted(
            (r["id_new"], r["id_corpus"], r["hamming"])
            for r in simhash_against_index(
                new, index, "doc_id", "text"
            ).collect()
        )
        # stream the SAME new batch from a multi-file source so the
        # drain spans several micro-batches
        src = str(tmp_path / "stream_src")
        new.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = stream_simhash_against_index(stream, index, "doc_id", "text")
        got = sorted(
            (r["id_new"], r["id_corpus"], r["hamming"])
            for r in drain(out).collect()
        )
        assert got == want and len(got) > 0
        index.unpersist()
