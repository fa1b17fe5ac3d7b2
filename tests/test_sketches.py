"""KMV distinct-count sketch (operators/sketches.py).

Mirrors the reference's golden-value test style (SURVEY.md §5): exact
fallback below k, bounded relative error above k, native/portable mode
agreement on the exact path, and input validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.sketches import kmv_distinct


def _ids(spark, n, dups=1):
    df = spark.range(n).select(F.col("id").alias("k"))
    if dups > 1:
        df = df.crossJoin(spark.range(dups).select(F.col("id").alias("rep")))
    return df.withColumn("grp", (F.col("k") % 2 == 0).cast("string"))


def test_exact_below_k(spark):
    # 30 distinct keys per group, k=64 -> estimate must equal the exact count
    out = kmv_distinct(_ids(spark, 60), ["grp"], "k", k=64).collect()
    assert {r["grp"]: r["distinct_est"] for r in out} == {
        "true": 30.0,
        "false": 30.0,
    }
    assert all(r["n_kept"] == 30 for r in out)


def test_duplicates_do_not_inflate(spark):
    # every key appears 5x; the distinct() stage must collapse them
    once = kmv_distinct(_ids(spark, 40), ["grp"], "k", k=64).collect()
    duped = kmv_distinct(_ids(spark, 40, dups=5), ["grp"], "k", k=64).collect()
    assert sorted((r["grp"], r["distinct_est"]) for r in once) == sorted(
        (r["grp"], r["distinct_est"]) for r in duped
    )


@pytest.mark.parametrize("mode", ["portable", "native"])
def test_estimate_within_tolerance(spark, mode):
    # 5000 distinct per group, k=256 -> stderr ~6%; assert a loose 4-sigma
    out = kmv_distinct(_ids(spark, 10_000), ["grp"], "k", k=256, mode=mode)
    for r in out.collect():
        assert r["n_kept"] == 256
        assert abs(r["distinct_est"] - 5000) / 5000 < 0.25, (mode, r)


def test_native_prefilter_matches_unfiltered(spark):
    base = kmv_distinct(_ids(spark, 10_000), ["grp"], "k", k=256, mode="native")
    pref = kmv_distinct(
        _ids(spark, 10_000), ["grp"], "k", k=256, mode="native",
        prefilter_factor=8.0,
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, pref.collect()))


def test_validation(spark):
    df = _ids(spark, 10)
    with pytest.raises(ValueError, match="k >= 2"):
        kmv_distinct(df, ["grp"], "k", k=1)
    with pytest.raises(ValueError, match="mode"):
        kmv_distinct(df, ["grp"], "k", mode="hll")
    with pytest.raises(ValueError, match="native-mode"):
        kmv_distinct(df, ["grp"], "k", mode="portable", prefilter_factor=4.0)


class TestCountMin:
    def test_invariant_and_exactness_under_collisions(self, spark):
        from pyspark.sql import functions as F

        from ml_hadoop_experiment_spark.operators.sketches import cms_topk_audit

        # zipf-ish stream of 20 keys into width=4: heavy collisions
        rows = [(f"k{i % 20}",) for i in range(400)] + [("k0",)] * 100
        df = spark.createDataFrame(rows, "tok string")
        out = cms_topk_audit(df, "tok", width=4, depth=3, k=20).collect()
        assert len(out) == 20
        exact = {}
        for (t,) in rows:
            exact[t] = exact.get(t, 0) + 1
        for r in out:
            assert r["n_exact"] == exact[r["key"]]
            assert r["n_cms"] >= r["n_exact"]  # CMS never undercounts
        # width=4 over 20 keys MUST collide somewhere
        assert any(r["n_cms"] > r["n_exact"] for r in out)

    def test_wide_sketch_is_exact(self, spark):
        from ml_hadoop_experiment_spark.operators.sketches import cms_topk_audit

        rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
        df = spark.createDataFrame(rows, "tok string")
        out = {
            r["key"]: (r["n_exact"], r["n_cms"])
            for r in cms_topk_audit(df, "tok", width=4096, depth=4, k=10).collect()
        }
        # 3 keys in 4096 buckets x 4 rows: no collisions, est == exact
        assert out == {"a": (5, 5), "b": (3, 3), "c": (2, 2)}

    def test_counter_table_bounded(self, spark):
        from ml_hadoop_experiment_spark.operators.sketches import cms_counters

        rows = [(f"k{i}",) for i in range(500)]
        df = spark.createDataFrame(rows, "tok string")
        counters = cms_counters(df, "tok", width=16, depth=3)
        n = counters.count()
        assert n <= 16 * 3  # cells, not keys
        # total mass conservation: every instance lands in every row
        total = counters.groupBy("i").sum("cnt").collect()
        assert sorted(r["sum(cnt)"] for r in total) == [500, 500, 500]
