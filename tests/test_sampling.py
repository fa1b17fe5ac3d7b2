"""Sampling operator tests — mirrors the reference's parametrized behavioral
tables (tests/tensorflow/test_sampling.py:11-111): counts over a hand-built
``sampling_hash`` column, null-predicate handling, and weight goldens."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.sampling import (
    WEIGHT_COLUMN_NAME,
    add_deterministic_sampling_col,
    get_filter_sampling_ratio,
    sample_with_predicate,
)


@pytest.fixture(scope="module")
def sampling_df(spark):
    # (sampling_hash, feature1, label) — hash pre-materialized exactly like
    # the reference's own tests do to make outcomes deterministic.
    rows = [
        (0.05, 1, 1),
        (0.15, 2, 1),
        (0.55, 3, 1),
        (0.05, 4, 0),
        (0.45, 5, 0),
        (0.95, 6, 0),
    ]
    return spark.createDataFrame(rows, "sampling_hash double, feature1 int, label int")


@pytest.mark.parametrize(
    "g,p,n,expected_features",
    [
        (1.0, 1.0, 1.0, {1, 2, 3, 4, 5, 6}),
        (1.0, 0.2, 1.0, {1, 2, 4, 5, 6}),  # positives kept iff hash < 0.2
        (1.0, 1.0, 0.5, {1, 2, 3, 4, 5}),  # negatives kept iff hash < 0.5
        (0.5, 1.0, 1.0, {1, 2, 4, 5}),  # everything g*ratio = 0.5
        (1.0, 0.0, 1.0, {4, 5, 6}),  # drop all positives
        (1.0, 1.0, 0.0, {1, 2, 3}),  # drop all negatives
        (0.0, 1.0, 1.0, set()),
    ],
)
def test_sample_counts(sampling_df, g, p, n, expected_features):
    out = sample_with_predicate(
        sampling_df, g, p, n, F.col("label") == 1, sampling_col="sampling_hash"
    )
    assert {r["feature1"] for r in out.collect()} == expected_features


def test_null_predicate_is_negative(spark):
    # Rows with NULL label must be treated as negatives for filter AND weight.
    rows = [(0.1, 1, None), (0.1, 2, 1), (0.9, 3, None)]
    df = spark.createDataFrame(rows, "sampling_hash double, feature1 int, label int")
    out = sample_with_predicate(
        df, 1.0, 1.0, 0.5, F.col("label") == 1, sampling_col="sampling_hash"
    ).collect()
    got = {r["feature1"]: r[WEIGHT_COLUMN_NAME] for r in out}
    # feature 3 (hash .9 > .5, negative) dropped; null-label f1 kept as negative
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(2.0)  # negative weight = max(1,.5)/.5
    assert got[2] == pytest.approx(1.0)  # positive weight = max/1.0


def test_relative_reweighting_and_weight_synthesis(spark):
    # ratios (0.2, 0.1) reweight as (1.0, 2.0); weight column created if absent
    rows = [(0.05, 1, 1), (0.05, 2, 0), (0.19, 3, 1), (0.15, 4, 0)]
    df = spark.createDataFrame(rows, "sampling_hash double, feature1 int, label int")
    out = sample_with_predicate(
        df, 1.0, 0.2, 0.1, F.col("label") == 1, sampling_col="sampling_hash"
    ).collect()
    got = {r["feature1"]: r[WEIGHT_COLUMN_NAME] for r in out}
    assert set(got) == {1, 2, 3}  # f4 negative with hash .15 >= .1 dropped
    assert got[1] == pytest.approx(1.0)
    assert got[3] == pytest.approx(1.0)
    assert got[2] == pytest.approx(2.0)


def test_existing_weight_is_scaled(spark):
    rows = [(0.01, 1, 1, 3.0), (0.01, 2, 0, 5.0)]
    df = spark.createDataFrame(
        rows, "sampling_hash double, feature1 int, label int, weight double"
    )
    out = sample_with_predicate(
        df, 1.0, 1.0, 0.25, F.col("label") == 1, sampling_col="sampling_hash"
    ).collect()
    got = {r["feature1"]: r[WEIGHT_COLUMN_NAME] for r in out}
    assert got[1] == pytest.approx(3.0)
    assert got[2] == pytest.approx(20.0)  # 5.0 * (1/0.25)


def test_trivial_filter_folding(spark):
    c = F.col("x")
    assert "false" in str(get_filter_sampling_ratio(c, 0.0)).lower()
    assert "true" in str(get_filter_sampling_ratio(c, 1.0)).lower()


def test_deterministic_sampling_col_bounds(lineitem):
    name, df = add_deterministic_sampling_col(lineitem, ["l_orderkey", "l_linenumber"])
    stats = df.agg(
        F.min(name).alias("lo"), F.max(name).alias("hi"), F.countDistinct(name).alias("d")
    ).collect()[0]
    assert 0.0 <= stats["lo"] and stats["hi"] < 1.0
    assert stats["d"] > 100  # actually spreads


def test_portable_sampling_matches_duckdb(lineitem, sf_dir):
    import duckdb

    name, df = add_deterministic_sampling_col(
        lineitem, ["l_orderkey"], portable=True, seed=7
    )
    spark_rows = {
        r["l_orderkey"]: r[name] for r in df.select("l_orderkey", name).collect()
    }
    from ml_hadoop_experiment_spark.functions.hashing import portable_unit_hash_sql

    con = duckdb.connect()
    duck = con.execute(
        f"SELECT DISTINCT l_orderkey, {portable_unit_hash_sql('l_orderkey', salt=7)} AS h "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    assert len(duck) == len(spark_rows)
    for ok, h in duck:
        assert spark_rows[ok] == h  # bit-identical


def test_sample_stratified_by_ratios_and_weights(spark):
    from ml_hadoop_experiment_spark.operators.sampling import sample_stratified_by

    df = spark.createDataFrame(
        [(i, "A" if i % 3 == 0 else ("B" if i % 3 == 1 else "C"))
         for i in range(3000)],
        "id long, cls string",
    )
    out = sample_stratified_by(
        df, "cls", {"A": 1.0, "B": 0.5, "C": 0.1}, key_cols=["id"], seed=3
    )
    rows = out.collect()
    by_cls = {}
    for r in rows:
        by_cls.setdefault(r["cls"], []).append(r["weight"])
    # class A fully kept with weight 1.0 (max ratio)
    assert len(by_cls["A"]) == 1000 and set(by_cls["A"]) == {1.0}
    # class B roughly halved, weight = 1.0/0.5 = 2
    assert 350 < len(by_cls["B"]) < 650 and set(by_cls["B"]) == {2.0}
    # class C roughly decimated, weight = 1.0/0.1 = 10
    assert 40 < len(by_cls["C"]) < 180 and set(by_cls["C"]) == {10.0}
    # deterministic across reruns
    again = sample_stratified_by(
        df, "cls", {"A": 1.0, "B": 0.5, "C": 0.1}, key_cols=["id"], seed=3
    ).collect()
    assert {r["id"] for r in rows} == {r["id"] for r in again}


def test_sample_stratified_by_requires_real_key(spark):
    """key_cols is mandatory and must differ from the strata column — the
    strata-hash default sampled each class all-or-nothing (ADVICE round 1)."""
    import pytest

    from ml_hadoop_experiment_spark.operators.sampling import sample_stratified_by

    df = spark.createDataFrame([(1, "A")], "id long, cls string")
    with pytest.raises(ValueError, match="key_cols is required"):
        sample_stratified_by(df, "cls", {"A": 0.5})
    with pytest.raises(ValueError, match="differ from strata_col"):
        sample_stratified_by(df, "cls", {"A": 0.5}, key_cols=["cls"])


def test_sample_stratified_by_scales_existing_weight(spark):
    from ml_hadoop_experiment_spark.operators.sampling import sample_stratified_by

    df = spark.createDataFrame(
        [(i, "A", 3.0) for i in range(10)], "id long, cls string, weight double"
    )
    out = sample_stratified_by(df, "cls", {"A": 1.0}, key_cols=["id"])
    assert {r["weight"] for r in out.collect()} == {3.0}


def test_cap_per_key(spark):
    from ml_hadoop_experiment_spark.operators.sampling import cap_per_key

    df = spark.createDataFrame(
        [(k, i, f"v{k}{i}") for k in range(5) for i in range(7)],
        "k long, seq int, payload string",
    )
    out = cap_per_key(df, ["k"], k=3, order_col="seq")
    rows = out.collect()
    assert len(rows) == 15
    per_key = {}
    for r in rows:
        per_key.setdefault(r["k"], []).append(r["seq"])
    for k, seqs in per_key.items():
        assert sorted(seqs) == [0, 1, 2]  # the 3 smallest survive
    assert "payload" in out.columns  # all columns preserved

    import pytest as _pytest
    with _pytest.raises(ValueError):
        cap_per_key(df, ["k"], k=0, order_col="seq")


# --------------------------------------------------------------------------
# assign_split: deterministic train/val/test assignment
# --------------------------------------------------------------------------


def test_assign_split_validates(spark):
    from ml_hadoop_experiment_spark.operators.sampling import assign_split

    df = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(df, ["k"], {"train": 0.5, "test": 0.4})
    with pytest.raises(ValueError, match="non-empty"):
        assign_split(df, ["k"], {})
    with pytest.raises(ValueError, match="key_cols"):
        assign_split(df, [], {"train": 1.0})
    with pytest.raises(ValueError, match="integral key"):
        assign_split(df, ["k", "k"], {"train": 1.0}, portable=True)


def test_assign_split_deterministic_and_entity_consistent(spark):
    from ml_hadoop_experiment_spark.operators.sampling import assign_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = spark.createDataFrame([(i,) for i in range(500)], "user_id bigint")
    # a second, differently-shaped table sharing the entity key
    b = spark.createDataFrame(
        [(i, i * 10) for i in range(500)], "user_id bigint, other bigint"
    )
    sa = {r["user_id"]: r["split"]
          for r in assign_split(a, ["user_id"], splits, seed=3).collect()}
    sa2 = {r["user_id"]: r["split"]
           for r in assign_split(a, ["user_id"], splits, seed=3).collect()}
    sb = {r["user_id"]: r["split"]
          for r in assign_split(b, ["user_id"], splits, seed=3).collect()}
    assert sa == sa2  # rerun-stable
    assert sa == sb   # entity-consistent across tables (leakage guard)
    # every named split non-empty and roughly proportional at n=500
    from collections import Counter

    c = Counter(sa.values())
    assert set(c) == set(splits)
    assert 0.7 <= c["train"] / 500 <= 0.9


def test_assign_split_portable_matches_duckdb(spark):
    import duckdb

    from ml_hadoop_experiment_spark.operators.sampling import (
        assign_split,
        assign_split_sql,
    )

    splits = {"train": 0.6, "val": 0.2, "test": 0.2}
    df = spark.createDataFrame([(i,) for i in range(300)], "k bigint")
    got = {r["k"]: r["split"]
           for r in assign_split(df, ["k"], splits, seed=11, portable=True).collect()}
    case = assign_split_sql("k", splits, seed=11)
    want = {
        k: s
        for k, s in duckdb.sql(
            f"SELECT k, {case} AS split FROM range(300) t(k)"
        ).fetchall()
    }
    assert got == want


def test_assign_split_is_pure_expression(spark):
    from ml_hadoop_experiment_spark.operators.sampling import assign_split

    df = spark.createDataFrame([(1,)], "k bigint")
    plan = (
        assign_split(df, ["k"], {"a": 0.5, "b": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_split_boundaries_exact():
    """Cumulative boundaries are the exact stated fractions (0.8 + 0.1 must
    be 0.9, not 0.9000000000000001), in both the Spark literals and the SQL
    CASE thresholds."""
    from ml_hadoop_experiment_spark.operators.sampling import (
        _split_boundaries,
        assign_split_sql,
    )

    bounds, last = _split_boundaries({"train": 0.8, "val": 0.1, "test": 0.1})
    assert bounds == [("train", 0.8), ("val", 0.9)] and last == "test"
    sql = assign_split_sql("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert "< 0.9 " in sql and "0.9000000000000001" not in sql
    # thirds stay consistent between the two sides too
    b3, _ = _split_boundaries({"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    s3 = assign_split_sql("doc_id", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert f"< {b3[1][1]!r} " in s3


class TestWeightedPrioritySample:
    """Priority sampling: deterministic weighted sample without replacement."""

    def _pop(self, spark, n=2000, seed=7):
        import numpy as np

        rng = np.random.default_rng(seed)
        pdf = pd.DataFrame(
            {"rid": np.arange(n), "w": rng.exponential(10.0, n) + 0.1}
        )
        return spark.createDataFrame(pdf), pdf

    def test_exact_k_and_deterministic(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import (
            weighted_priority_sample,
        )

        df, _ = self._pop(spark)
        a = weighted_priority_sample(df, F.col("rid"), "w", k=100)
        b = weighted_priority_sample(df, F.col("rid"), "w", k=100)
        pa = a.toPandas().sort_values("rid", ignore_index=True)
        pb = b.toPandas().sort_values("rid", ignore_index=True)
        assert len(pa) == 100
        pd.testing.assert_frame_equal(pa, pb)

    def test_estimator_recovers_total_weight(self, spark):
        """SUM(est_weight) over the sample estimates SUM(w) over the
        population (unbiased across seeds; per-draw tolerance is loose)."""
        from ml_hadoop_experiment_spark.operators.sampling import (
            weighted_priority_sample,
        )

        df, pdf = self._pop(spark, n=3000)
        total = pdf["w"].sum()
        ests = []
        for salt in range(5):
            out = weighted_priority_sample(df, F.col("rid"), "w", k=300, salt=salt)
            ests.append(out.agg(F.sum("est_weight")).head()[0])
        mean_est = sum(ests) / len(ests)
        assert abs(mean_est - total) / total < 0.15, (mean_est, total)

    def test_heavy_rows_always_sampled(self, spark):
        """A row carrying most of the total weight has priority ~w/u >> rest
        and must appear in any reasonable-k sample."""
        from ml_hadoop_experiment_spark.operators.sampling import (
            weighted_priority_sample,
        )

        pdf = pd.DataFrame({"rid": range(500), "w": [1.0] * 500})
        pdf.loc[250, "w"] = 1e7
        df = spark.createDataFrame(pdf)
        out = weighted_priority_sample(df, F.col("rid"), "w", k=20).toPandas()
        assert 250 in set(out["rid"])
        # the dominant row's estimator weight stays its own weight
        assert out.set_index("rid").loc[250, "est_weight"] == 1e7

    def test_small_population_returns_all_with_exact_weights(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import (
            weighted_priority_sample,
        )

        pdf = pd.DataFrame({"rid": range(5), "w": [1.0, 2.0, 3.0, 4.0, 0.0]})
        out = weighted_priority_sample(
            spark.createDataFrame(pdf), F.col("rid"), "w", k=10
        ).toPandas()
        # w=0 excluded; population < k -> everyone kept, est_weight == w
        assert sorted(out["rid"]) == [0, 1, 2, 3]
        assert (out["est_weight"] == out["w"]).all()

    def test_plan_is_take_ordered(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import (
            weighted_priority_sample,
        )

        df, _ = self._pop(spark)
        plan = (
            weighted_priority_sample(df, F.col("rid"), "w", k=50)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, plan


class TestAssignFold:
    def test_entity_consistency_and_range(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import assign_fold

        df = spark.createDataFrame(
            [(i, i % 17) for i in range(200)], "row_id long, entity long"
        )
        out = assign_fold(df, ["entity"], k=5, seed=3).toPandas()
        assert set(out["fold"]) <= set(range(5))
        # all rows of one entity share a fold
        assert (out.groupby("entity")["fold"].nunique() == 1).all()
        # deterministic across invocations
        again = assign_fold(df, ["entity"], k=5, seed=3).toPandas()
        assert out.sort_values("row_id")["fold"].tolist() == (
            again.sort_values("row_id")["fold"].tolist()
        )

    def test_portable_matches_duckdb(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.operators.sampling import (
            assign_fold,
            assign_fold_sql,
        )

        df = spark.createDataFrame([(i,) for i in range(500)], "k long")
        got = (
            assign_fold(df, ["k"], k=7, seed=2, portable=True)
            .toPandas()
            .sort_values("k")["fold"]
            .tolist()
        )
        exp = [
            r[0]
            for r in duckdb.sql(
                f"SELECT {assign_fold_sql('k', 7, seed=2)} FROM range(500) t(k) ORDER BY k"
            ).fetchall()
        ]
        assert got == exp

    def test_stratified_exact_balance(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import (
            assign_fold_stratified,
        )

        rows = [(i, "a" if i < 10 else "b") for i in range(25)]
        df = spark.createDataFrame(rows, "row_id long, label string")
        out = assign_fold_stratified(df, ["label"], ["row_id"], k=3).toPandas()
        sizes = out.groupby(["label", "fold"]).size()
        # per stratum, fold sizes differ by at most one
        for label in ("a", "b"):
            s = sizes[label]
            assert s.max() - s.min() <= 1
        assert set(out["fold"]) == {0, 1, 2}


class TestMixtureSample:
    def test_quota_and_weights(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import mixture_sample

        import pandas as pd

        pdf = pd.DataFrame(
            {
                "src": ["big"] * 4000 + ["small"] * 250,
                "id": range(4250),
            }
        )
        df = spark.createDataFrame(pdf)
        out = mixture_sample(df, "src", "id", target_rows=1000, alpha=0.5, seed=3)
        rows = out.collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r["src"], []).append(r)
        # sqrt weighting: w_big ~ 63.2, w_small ~ 15.8 -> quotas ~800/200
        n_big, n_small = len(by_src["big"]), len(by_src["small"])
        assert 700 <= n_big <= 900, n_big
        # small source quota (~200) close to its size (250): high keep rate
        assert 150 <= n_small <= 250, n_small
        # weights invert the keep rate -> weighted totals estimate n_s
        w_big = by_src["big"][0]["mix_weight"]
        assert abs(n_big * w_big - 4000) / 4000 < 0.15
        # deterministic: same rows both runs
        again = {r["id"] for r in mixture_sample(
            df, "src", "id", target_rows=1000, alpha=0.5, seed=3).collect()}
        assert again == {r["id"] for r in rows}

    def test_small_source_kept_whole(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import mixture_sample

        rows = [("a", i) for i in range(1000)] + [("tiny", 10_000 + i) for i in range(5)]
        df = spark.createDataFrame(rows, "src string, id long")
        out = mixture_sample(df, "src", "id", target_rows=500, alpha=0.5, seed=1)
        tiny = [r for r in out.collect() if r["src"] == "tiny"]
        # quota for tiny (~33) exceeds its 5 rows: kept whole, weight 1
        assert len(tiny) == 5
        assert all(r["mix_weight"] == 1.0 for r in tiny)

    def test_map_only_corpus_plan(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import mixture_sample

        rows = [("a", i) for i in range(100)] + [("b", i + 100) for i in range(100)]
        df = spark.createDataFrame(rows, "src string, id long")
        plan = (
            mixture_sample(df, "src", "id", target_rows=50)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the corpus side joins the broadcast rate table: no sort-merge
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestNeymanSample:
    def _df(self, spark):
        # stratum A: high variance, stratum B: low variance, same size;
        # stratum C: tiny (quota must cap at population)
        rows = []
        for i in range(100):
            rows.append((i, "A", float(100 + (i % 10) * 50)))
        for i in range(100, 200):
            rows.append((i, "B", 100.0 + (i % 2)))
        for i in range(200, 203):
            rows.append((i, "C", float(i * 1000)))
        return spark.createDataFrame(rows, "id bigint, grp string, val double")

    def test_allocation_follows_n_sigma_and_caps(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

        out = neyman_sample(
            self._df(spark), "grp", "val", F.col("id"), total_n=50
        )
        alloc = {
            r["stratum"]: r["alloc"]
            for r in out.select("stratum", "alloc").distinct().collect()
        }
        counts = {
            r["stratum"]: r["cnt"]
            for r in out.groupBy("stratum").agg(F.count("*").alias("cnt")).collect()
        }
        assert counts == {k: v for k, v in alloc.items() if v > 0}
        # high-variance A gets more than low-variance B at equal size
        # (B's sigma is so small its quota rounds to zero here)
        assert alloc["A"] > alloc.get("B", 0)
        # C's quota caps at its population
        assert alloc.get("C", 0) <= 3
        # budget met or under-filled only by the capped stratum
        assert sum(alloc.values()) <= 50

    def test_budget_exact_when_uncapped(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

        df = self._df(spark).where("grp != 'C'")
        out = neyman_sample(df, "grp", "val", F.col("id"), total_n=37)
        assert out.count() == 37  # largest-remainder hits the budget exactly

    def test_constant_value_falls_back_to_proportional(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

        rows = [(i, "X" if i < 90 else "Y", 5.0) for i in range(120)]
        df = spark.createDataFrame(rows, "id bigint, grp string, val double")
        out = neyman_sample(df, "grp", "val", F.col("id"), total_n=12)
        alloc = {
            r["stratum"]: r["alloc"]
            for r in out.select("stratum", "alloc").distinct().collect()
        }
        assert alloc == {"X": 9, "Y": 3}  # 90:30 -> 9:3

    def test_deterministic_across_partitionings(self, spark):
        from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

        df = self._df(spark)
        a = set(
            r["id"]
            for r in neyman_sample(df, "grp", "val", F.col("id"), 20)
            .select("id")
            .collect()
        )
        b = set(
            r["id"]
            for r in neyman_sample(
                df.repartition(13), "grp", "val", F.col("id"), 20
            )
            .select("id")
            .collect()
        )
        assert a == b

    def test_rejects_nonpositive_budget(self, spark):
        import pytest as _pytest

        from ml_hadoop_experiment_spark.operators.sampling import neyman_sample

        with _pytest.raises(ValueError, match="total_n must be positive"):
            neyman_sample(self._df(spark), "grp", "val", F.col("id"), 0)
