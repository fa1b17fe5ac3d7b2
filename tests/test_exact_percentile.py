"""Bit-exactness of plans/prefix.exact_group_percentiles vs the builtin
``percentile`` aggregate (the r13 optimization that removes the builtin's
single-reducer OpenHashMap merge — OPTIMIZATION_r13.md "Exact-percentile
family").

Every case compares RAW IEEE bit patterns (struct.pack), not approximate
equality: the helper's contract is that swapping it in changes NOTHING
about a declared query's output, including the last ulp and signed
zeros."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.plans.prefix import exact_group_percentiles

FRACS = [0.0, 0.05, 1.0 / 3.0, 0.5, 0.95, 1.0]


def _bits(x):
    if x is None:
        return None
    return struct.pack("<d", float(x))


def _builtin(df, group_cols, value_col, fracs):
    """Reference values straight from Spark's percentile aggregate."""
    arr = ", ".join(repr(float(p)) + "D" for p in fracs)
    agg = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, array({arr}))").alias("__p"),
        F.count(F.lit(1)).alias("__tot"),
        F.count(value_col).alias("__nn"),
    )
    out = {}
    for r in agg.collect():
        g = tuple(r[c] for c in group_cols)
        out[g] = (r["__p"], int(r["__tot"]), int(r["__nn"]))
    return out


def _check(spark, rows, schema, group_cols, value_col, fracs=FRACS, parts=None):
    df = spark.createDataFrame(rows, schema)
    got_p, got_c = exact_group_percentiles(
        df, group_cols, value_col, fracs, num_partitions=parts
    )
    want = _builtin(df, group_cols, value_col, fracs)
    assert set(got_p) == set(want)
    for g, (wvals, wtot, wnn) in want.items():
        assert got_c[g] == (wtot, wnn), f"counts differ for {g!r}"
        if wvals is None:
            assert got_p[g] is None, f"{g!r}: expected NULL percentiles"
            continue
        assert got_p[g] is not None, f"{g!r}: unexpectedly NULL"
        assert len(got_p[g]) == len(wvals)
        for p, gv, wv in zip(fracs, got_p[g], wvals):
            assert _bits(gv) == _bits(wv), (
                f"group {g!r} frac {p}: got {gv!r} want {wv!r} "
                f"({_bits(gv)!r} vs {_bits(wv)!r})"
            )


def test_random_doubles_grouped(spark):
    rng = random.Random(7)
    rows = [
        (rng.choice(["A", "N", "R"]), rng.uniform(-1e6, 1e6))
        for _ in range(5000)
    ]
    _check(spark, rows, "k string, v double", ["k"], "v")


def test_global_no_groups(spark):
    rng = random.Random(11)
    rows = [(rng.gauss(0.0, 123.0),) for _ in range(4001)]
    _check(spark, rows, "v double", [], "v")


def test_heavy_ties_hits_equal_neighbor_shortcut(spark):
    """Neighbor keys equal at an interpolated position: Spark returns the
    key itself, skipping the (1±1ulp-weighted) interpolation."""
    rng = random.Random(3)
    rows = [
        (rng.choice(["x", "y"]), float(rng.choice([1.0, 2.0, 2.0, 3.0])))
        for _ in range(997)
    ]
    _check(spark, rows, "k string, v double", ["k"], "v")


def test_tiny_groups_and_partition_excess(spark):
    rows = [("a", 42.5), ("b", 1.0), ("b", 2.0), ("c", -0.0), ("c", 0.0)]
    # more partitions than rows: most partitions hold nothing
    _check(spark, rows, "k string, v double", ["k"], "v", parts=7)


def test_nulls_and_all_null_group(spark):
    rows = [
        ("g1", 5.0), ("g1", None), ("g1", 7.0),
        ("g2", None), ("g2", None),
        (None, 3.0), (None, 9.0), (None, None),
    ]
    _check(spark, rows, "k string, v double", ["k"], "v")


def test_unicode_and_empty_group_keys_order(spark):
    """Driver-side UTF-8 ordering must match the range partitioner's
    UTF8String binary order (the self-check raises if it does not)."""
    rng = random.Random(5)
    keys = ["", "a", "A", "~z", "é", "中文", "zz"]
    rows = [(rng.choice(keys), rng.uniform(0, 100)) for _ in range(2000)]
    _check(spark, rows, "k string, v double", ["k"], "v", parts=5)


def test_two_group_columns(spark):
    rng = random.Random(13)
    rows = [
        (rng.choice(["u", "v"]), rng.choice([1, 2, 3]), rng.uniform(-5, 5))
        for _ in range(3000)
    ]
    _check(spark, rows, "a string, b int, v double", ["a", "b"], "v")


def test_integer_value_column(spark):
    rng = random.Random(17)
    rows = [("k", rng.randrange(-1000, 1000)) for _ in range(1500)]
    _check(spark, rows, "k string, v long", ["k"], "v")


def test_ties_spanning_partition_boundaries(spark):
    """A single massive tie group split across range partitions: every
    selected rank must resolve to the same value regardless of which
    partition holds which copy."""
    rows = [("k", 10.0)] * 400 + [("k", 20.0)] * 400 + [("k", 30.0)] * 400
    random.Random(23).shuffle(rows)
    _check(spark, rows, "k string, v double", ["k"], "v", parts=6)


def test_single_row_group(spark):
    _check(spark, [("only", 3.25)], "k string, v double", ["k"], "v")


def test_frac_validation(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        exact_group_percentiles(df, ["k"], "v", [1.5])
    with pytest.raises(ValueError):
        exact_group_percentiles(df, ["k"], "v", [])


def test_matches_builtin_on_real_lineitem(spark, sf_dir):
    """The declared quantiles query's exact shape on the real fixture."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _check(
        spark,
        li.select("l_returnflag", "l_extendedprice").collect(),
        "l_returnflag string, l_extendedprice double",
        ["l_returnflag"],
        "l_extendedprice",
        fracs=[0.5, 0.95],
    )
