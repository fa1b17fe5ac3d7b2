"""Fixed-width histogram quantiles: hand-computed batch goldens,
bin-clamp boundaries, and the batch operator run as an update-mode
stream — stream==batch sketch identity, multi-batch additive merge,
NULL/NaN skipping and non-double value columns."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.histogram import histogram_counts
from ml_hadoop_experiment_spark.streaming import drain


def _final_counts(sunk):
    return {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in sunk.groupBy("event_type", "bin")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }


class TestFixedWidthBins:
    def test_clamp_and_boundaries(self, spark):
        from ml_hadoop_experiment_spark.operators.histogram import (
            fixed_width_bin_expr,
        )

        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (9.99,), (10.0,), (55.0,), (100.0,), (1e9,)],
            "v double",
        )
        got = [
            r["b"]
            for r in df.select(
                fixed_width_bin_expr(F.col("v"), 0.0, 100.0, 10).alias("b")
            ).collect()
        ]
        # width 10: below-range clamps to 0, v=hi clamps to the last
        # bin, far out-of-range clamps (not wraps) to the last bin
        assert got == [0, 0, 0, 1, 5, 9, 9]

    def test_nan_null_and_huge_values_one_rule_in_both_engines(self, spark):
        """NaN is skipped like NULL (NaN is NOT null in Spark), and a
        far-out-of-range value clamps into the top bin WITHOUT a cast
        error in either engine — the double-domain clamp-then-floor
        rule. The DuckDB twin replays the same rows."""
        import duckdb

        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
            histogram_quantiles_sql,
        )

        rows = [
            ("k", 5.0),
            ("k", float("nan")),
            ("k", None),
            ("k", 1e300),
            ("k", -1e300),
        ]
        df = spark.createDataFrame(rows, "key string, v double")
        got = {
            (r["bin"]): r["cnt"]
            for r in histogram_counts(
                df, ["key"], "v", 0.0, 100.0, 10
            ).collect()
        }
        assert got == {0: 2, 9: 1}  # 5.0 and -1e300 -> bin 0; 1e300 -> 9
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES"
            " ('k', 5.0), ('k', CAST('nan' AS DOUBLE)), ('k', NULL),"
            " ('k', 1e300), ('k', -1e300)) AS v(key, v)"
        )
        sql = histogram_quantiles_sql(
            "t", ["key"], "v", 0.0, 100.0, 10, (0.5, 1.0)
        )
        du = {(r[1], r[2]) for r in con.execute(sql).fetchall()}
        # ranks over the 3 kept rows: p50 -> rank 2 -> bin 0 -> 0.0;
        # p100 -> rank 3 -> bin 9 -> 90.0
        assert du == {(0.5, 0.0), (1.0, 90.0)}

    def test_unkeyed_sql_twin_is_valid(self, spark):
        """key_exprs may be empty — the Spark twins support global
        quantiles and the SQL builder must emit parseable SQL for the
        same case."""
        import duckdb

        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
            histogram_quantiles_sql,
            quantiles_from_histogram,
        )

        df = spark.createDataFrame(
            [(10.0 * i + 5.0,) for i in range(10)], "v double"
        )
        counts = histogram_counts(df, [], "v", 0.0, 100.0, 10)
        got = {
            r["q"]: r["est"]
            for r in quantiles_from_histogram(
                counts, [], 0.0, 100.0, 10, (0.5,)
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT unnest("
            "[5.0,15.0,25.0,35.0,45.0,55.0,65.0,75.0,85.0,95.0]) AS v"
        )
        sql = histogram_quantiles_sql("t", [], "v", 0.0, 100.0, 10, (0.5,))
        du = {r[0]: r[1] for r in con.execute(sql).fetchall()}
        assert got == du == {0.5: 40.0}

    def test_bad_geometry_rejected(self, spark):
        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
        )

        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError, match="hi > lo"):
            histogram_counts(df, [], "v", 5.0, 5.0, 10)
        with pytest.raises(ValueError, match="n_bins"):
            histogram_counts(df, [], "v", 0.0, 1.0, 0)


class TestQuantilesFromHistogram:
    def test_hand_computed_estimates(self, spark):
        """10 values 5,15,...,95 into width-10 bins: p50 -> rank 5 ->
        bin 4 (cum 5) -> lower edge 40; p90 -> rank 9 -> bin 8 -> 80;
        p100 -> bin 9 -> 90."""
        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
            quantiles_from_histogram,
        )

        df = spark.createDataFrame(
            [("k", 10.0 * i + 5.0) for i in range(10)] + [("k", None)],
            "key string, v double",
        )
        counts = histogram_counts(df, ["key"], "v", 0.0, 100.0, 10)
        got = {
            r["q"]: r["est"]
            for r in quantiles_from_histogram(
                counts, ["key"], 0.0, 100.0, 10, (0.5, 0.9, 1.0)
            ).collect()
        }
        assert got == {0.5: 40.0, 0.9: 80.0, 1.0: 90.0}

    def test_bad_quantile_rejected(self, spark):
        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
            quantiles_from_histogram,
        )

        df = spark.createDataFrame([("k", 1.0)], "key string, v double")
        counts = histogram_counts(df, ["key"], "v", 0.0, 10.0, 5)
        with pytest.raises(ValueError, match="quantiles"):
            quantiles_from_histogram(
                counts, ["key"], 0.0, 10.0, 5, (0.0,)
            )


def _streamed_counts(spark, df, path):
    """Write ``df`` as one parquet source, stream it through
    ``histogram_counts`` and return the max-merged counts."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    counts = histogram_counts(stream, ["event_type"], "value", 0.0, 500.0, 1000)
    return _final_counts(drain(counts, "update"))


def _batch_counts(df):
    return _final_counts(
        histogram_counts(df, ["event_type"], "value", 0.0, 500.0, 1000)
    )


class TestStatefulHistogram:
    """``histogram_counts`` run on a stream and drained in update mode."""

    def test_stream_sketch_equals_batch_counts(self, spark):
        sf_dir = "/root/testdata/sf0.001"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_type", "value")
        )
        sunk = drain(
            histogram_counts(
                stream, ["event_type"], "value", 0.0, 500.0, 1000
            ),
            "update",
        )
        assert _final_counts(sunk) == _batch_counts(ev)

    def test_multi_batch_merge_equals_single_batch(self, spark, tmp_path):
        """Three files fed one per micro-batch must finish with the
        same max-merged counts as one big batch — the additive merge
        the state store's running count relies on."""
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
                histogram_counts(
                    stream, ["event_type"], "value", 0.0, 500.0, 1000
                ),
                "update",
            )
            results[files_per_trigger] = _final_counts(sunk)
        assert results[1] == results[1000]

    def test_null_and_nan_values_ignored(self, spark, tmp_path):
        """A stream with NULL and NaN values counts the same bins as the
        same stream without them."""
        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select("event_type", "value")
        bad = ev.limit(40).withColumn(
            "value",
            F.when(F.rand(3) < 0.5, F.lit(None)).otherwise(
                F.lit(float("nan"))
            ),
        )
        with_bad = _streamed_counts(
            spark, ev.unionByName(bad), str(tmp_path / "with")
        )
        without = _streamed_counts(spark, ev, str(tmp_path / "without"))
        assert with_bad == without == _batch_counts(ev)

    @pytest.mark.parametrize("dtype", ["string", "decimal(10,2)"])
    def test_stream_equals_batch_for(self, spark, tmp_path, dtype):
        """String and decimal values bin through Spark's own
        ``CAST(value AS DOUBLE)`` in the stream as in the batch
        operator, so both count the same bins."""
        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select("event_type", F.col("value").cast(dtype).alias("value"))
        streamed = _streamed_counts(spark, ev, str(tmp_path / "src"))
        assert streamed == _batch_counts(ev)
