"""psi_report: hand-computed terms, identical-slices near-zero,
one-sided-bin smoothing stays finite, NULL/NaN skip, and grid
validation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _report(spark, rows_a, rows_b, n_bins=4, lo=0.0, hi=4.0):
    from ml_hadoop_experiment_spark.operators.drift import psi_report

    a = spark.createDataFrame([(float(v),) for v in rows_a], "v double")
    b = spark.createDataFrame([(float(v),) for v in rows_b], "v double")
    return {
        r["bin"]: (r["n_a"], r["n_b"], r["psi_term"])
        for r in psi_report(a, b, "v", lo, hi, n_bins).collect()
    }


class TestPsiReport:
    def test_hand_computed_term(self, spark):
        """A: 3 rows in bin 0, 1 in bin 1. B: 2 and 2. With +1
        smoothing over 4 bins: pa0=(3+1)/(4+4)=0.5, pb0=(2+1)/(2+2+4)
        =0.375; term0=(0.5-0.375)*ln(0.5/0.375)."""
        got = _report(
            spark, [0.5, 0.5, 0.5, 1.5], [0.5, 0.5, 1.5, 1.5]
        )
        pa0, pb0 = 4 / 8, 3 / 8
        want0 = round((pa0 - pb0) * math.log(pa0 / pb0), 6)
        assert got[0] == (3, 2, want0)
        pa1, pb1 = 2 / 8, 3 / 8
        want1 = round((pa1 - pb1) * math.log(pa1 / pb1), 6)
        assert got[1] == (1, 2, want1)

    def test_identical_slices_score_zero(self, spark):
        got = _report(spark, [0.5, 1.5, 2.5, 3.5], [0.5, 1.5, 2.5, 3.5])
        assert all(v[2] == 0.0 for v in got.values())

    def test_full_grid_and_one_sided_bins_stay_finite(self, spark):
        """The output covers the FULL declared grid (empty bins carry
        their smoothed term, zero when totals match), a bin occupied
        on one side only produces a finite term, and every term is
        non-negative by the PSI identity sign(p-q) == sign(ln(p/q))."""
        got = _report(spark, [0.5, 0.5, 0.5], [3.5, 3.5, 3.5])
        assert set(got) == {0, 1, 2, 3}
        for n_a, n_b, term in got.values():
            assert math.isfinite(term) and term >= 0
        assert got[0][2] > 0 and got[3][2] > 0
        # both-empty bins with equal totals price identically -> 0
        assert got[1][2] == 0.0 and got[2][2] == 0.0

    def test_null_nan_skipped_and_geometry_validated(self, spark):
        from ml_hadoop_experiment_spark.operators.drift import psi_report

        a = spark.createDataFrame(
            [(0.5,), (None,), (float("nan"),)], "v double"
        )
        b = spark.createDataFrame([(0.5,)], "v double")
        rows = psi_report(a, b, "v", 0.0, 4.0, 4).collect()
        got = {r["bin"]: (r["n_a"], r["n_b"]) for r in rows}
        assert got == {0: (1, 1), 1: (0, 0), 2: (0, 0), 3: (0, 0)}
        with pytest.raises(ValueError, match="hi > lo"):
            psi_report(a, b, "v", 4.0, 4.0, 4)

    def test_ks_hand_computed_and_boundaries(self, spark):
        from ml_hadoop_experiment_spark.operators.drift import ks_statistic

        a = spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "v double"
        )
        b = spark.createDataFrame(
            [(3.0,), (4.0,), (float("nan"),)], "v double"
        )
        row = ks_statistic(a, b, "v").collect()[0]
        # F_a jumps 0.25 per value; F_b is 0 until v=3. Max gap at
        # v=2: |0.5 - 0| = 0.5
        assert (row["n_a"], row["n_b"], row["ks"]) == (4, 2, 0.5)
        # identical slices -> 0
        same = ks_statistic(a, a, "v").collect()[0]
        assert same["ks"] == 0.0
        # disjoint supports -> 1
        c = spark.createDataFrame([(10.0,), (11.0,)], "v double")
        disj = ks_statistic(a, c, "v").collect()[0]
        assert disj["ks"] == 1.0

    def test_ks_duckdb_twin(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.operators.drift import (
            ks_statistic,
            ks_statistic_sql,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sp = ks_statistic(
            ev.where(F.col("user_id") % 2 == 0),
            ev.where(F.col("user_id") % 2 == 1),
            "value",
        ).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM"
            " '/root/testdata/sf0.001/events.parquet'"
        )
        du = con.execute(
            ks_statistic_sql(
                "(SELECT * FROM events WHERE user_id % 2 = 0)",
                "(SELECT * FROM events WHERE user_id % 2 = 1)",
                "value",
            )
        ).df()
        assert sp[sorted(sp.columns)].equals(du[sorted(du.columns)])

    def test_psi_from_counts_composes_with_streaming_sketch(self, spark):
        """The factored finisher must score a DRAINED streaming
        histogram sketch identically to the batch psi_report on the
        same slices — the streaming_psi query's contract."""
        from ml_hadoop_experiment_spark.operators.drift import (
            psi_from_counts,
            psi_report,
        )
        from ml_hadoop_experiment_spark.operators.histogram import (
            histogram_counts,
        )
        from ml_hadoop_experiment_spark.streaming import drain

        sf_dir = "/root/testdata/sf0.001"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == "purchase")
            .select("event_type", "value")
        )
        sunk = drain(
            histogram_counts(stream, ["event_type"], "value", 0.0, 500.0, 20),
            "update",
        )
        live = sunk.groupBy("bin").agg(F.max("cnt").alias("cnt"))
        ref = histogram_counts(
            ev.where(F.col("event_type") == "view"),
            [], "value", 0.0, 500.0, 20,
        )
        got = {
            r["bin"]: (r["n_a"], r["n_b"], r["psi_term"])
            for r in psi_from_counts(live, ref, 20).collect()
        }
        want = {
            r["bin"]: (r["n_a"], r["n_b"], r["psi_term"])
            for r in psi_report(
                ev.where(F.col("event_type") == "purchase"),
                ev.where(F.col("event_type") == "view"),
                "value", 0.0, 500.0, 20,
            ).collect()
        }
        assert got == want

    def test_duckdb_twin(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.operators.drift import (
            psi_report,
            psi_report_sql,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sp = (
            psi_report(
                ev.where(F.col("user_id") % 2 == 0),
                ev.where(F.col("user_id") % 2 == 1),
                "value", 0.0, 500.0, 20,
            )
            .toPandas()
            .sort_values("bin")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM"
            " '/root/testdata/sf0.001/events.parquet'"
        )
        du = (
            con.execute(
                psi_report_sql(
                    "(SELECT * FROM events WHERE user_id % 2 = 0)",
                    "(SELECT * FROM events WHERE user_id % 2 = 1)",
                    "value", 0.0, 500.0, 20,
                )
            )
            .df()
            .sort_values("bin")
            .reset_index(drop=True)
        )
        assert sp[sorted(sp.columns)].equals(du[sorted(du.columns)])


class TestRound11AdviceFixes:
    def test_out_of_grid_bin_fails_loudly(self, spark):
        """A counts frame with a bin outside [0, n_bins) — a producer
        built on a DIFFERENT grid — must raise at execution, not be
        silently dropped by the grid join (which would under-count the
        totals and skew every smoothed fraction)."""
        from ml_hadoop_experiment_spark.operators.drift import (
            psi_from_counts,
        )

        good = spark.createDataFrame([(0, 5), (1, 3)], "bin int, cnt long")
        bad = spark.createDataFrame([(0, 4), (7, 2)], "bin int, cnt long")
        # surfaces as SparkRuntimeException, re-wrapped by AQE stage
        # materialization — match the message, not the wrapper type
        with pytest.raises(Exception, match="outside"):
            psi_from_counts(good, bad, n_bins=4).collect()
        with pytest.raises(Exception, match="outside"):
            psi_from_counts(bad, good, n_bins=4).collect()
        # in-range frames still work
        ok = psi_from_counts(good, good, n_bins=4).collect()
        assert len(ok) == 4 and all(r["psi_term"] == 0.0 for r in ok)

    def test_ks_drops_infinities_both_engines(self, spark):
        """+-Inf must not carry CDF mass (the moments-family strict
        rule, not the histogram clamp rule) — and the DuckDB twin's
        isfinite filter must agree."""
        import duckdb

        from ml_hadoop_experiment_spark.operators.drift import (
            ks_statistic,
            ks_statistic_sql,
        )

        a = spark.createDataFrame(
            [(1.0,), (2.0,), (float("inf",),)], "v double"
        )
        b = spark.createDataFrame(
            [(1.0,), (2.0,), (float("-inf"),)], "v double"
        )
        row = ks_statistic(a, b, "v").collect()[0]
        # after dropping the infinities the slices are identical
        assert (row["n_a"], row["n_b"], row["ks"]) == (2, 2, 0.0)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE ta AS SELECT * FROM (VALUES (1.0), (2.0),"
            " ('inf'::DOUBLE)) v(v)"
        )
        con.execute(
            "CREATE TABLE tb AS SELECT * FROM (VALUES (1.0), (2.0),"
            " ('-inf'::DOUBLE)) v(v)"
        )
        du = con.execute(ks_statistic_sql("ta", "tb", "v")).fetchall()
        assert du == [(2, 2, 0.0)]

    def test_ks_max_distinct_guard(self, spark):
        from ml_hadoop_experiment_spark.operators.drift import ks_statistic

        a = spark.createDataFrame(
            [(float(i),) for i in range(10)], "v double"
        )
        with pytest.raises(ValueError, match="max_distinct"):
            ks_statistic(a, a, "v", max_distinct=5)
        # at or under the ceiling: runs normally
        row = ks_statistic(a, a, "v", max_distinct=10).collect()[0]
        assert row["ks"] == 0.0
