"""Bloom-prefiltered incremental dedup (operators/bloom.py).

The contract under test is EXACTNESS regardless of filter quality: the
Bloom prefilter may only reroute rows between the definitely-new
passthrough and the exact-verify anti-join, never change the result.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.bloom import (
    DEFAULT_MAX_BITS,
    DigestBloom,
    bloom_params,
    build_digest_bloom,
    dedup_against_bloom,
)
from ml_hadoop_experiment_spark.operators.dedup import dedup_against


def test_bloom_params_sizing():
    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0
    # standard formula: ~9.585 bits/item at 1% fpp, ~7 hashes
    assert 9000 < m < 10240
    assert k == 7
    # cap clamps m, k stays in [1, 16]
    m, k = bloom_params(10**12, 0.01, max_bits=1 << 20)
    assert m == 1 << 20 and 1 <= k <= 16
    # degenerate inputs never break the formulae
    m, k = bloom_params(0, 0.01)
    assert m >= 64 and k >= 1


def test_no_false_negatives_and_fpp_bounded():
    rng = np.random.default_rng(7)
    members = rng.integers(0, 2**63, 5000, dtype=np.int64).view(np.uint64)
    m, k = bloom_params(5000, 0.01)
    words = np.zeros(m // 64, dtype=np.uint64)
    flt = DigestBloom(words, m, k, 5000)
    from ml_hadoop_experiment_spark.operators.bloom import _positions

    for pos in _positions(members, k, m):
        np.bitwise_or.at(
            words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    assert flt.might_contain(members).all()  # zero false negatives
    others = rng.integers(0, 2**63, 20000, dtype=np.int64).view(np.uint64)
    others = others[~np.isin(others, members)]
    fp = flt.might_contain(others).mean()
    assert fp < 0.03  # ~1% nominal, generous margin


class TestDedupAgainstBloom:
    def _frames(self, spark):
        batch = spark.createDataFrame(
            [(i, f"doc {i % 60}") for i in range(200)] + [(900, None)],
            "id long, text string",
        )
        ref = spark.createDataFrame(
            [(1000 + i, f"doc {i}") for i in range(25)] + [(1999, None)],
            "id long, text string",
        )
        return batch, ref

    def test_matches_plain_anti_join(self, spark):
        batch, ref = self._frames(spark)
        expected = sorted(
            r["id"] for r in dedup_against(batch, ref, ["text"]).collect()
        )
        got = sorted(
            r["id"] for r in dedup_against_bloom(batch, ref, ["text"]).collect()
        )
        assert got == expected

    def test_saturated_filter_still_exact(self, spark):
        """max_bits=64 saturates the filter (most rows test positive) —
        every row takes the exact-verify path, result unchanged."""
        batch, ref = self._frames(spark)
        expected = sorted(
            r["id"] for r in dedup_against(batch, ref, ["text"]).collect()
        )
        got = sorted(
            r["id"]
            for r in dedup_against_bloom(
                batch, ref, ["text"], max_bits=64
            ).collect()
        )
        assert got == expected

    def test_prebuilt_bloom_reuse(self, spark):
        batch, ref = self._frames(spark)
        flt = build_digest_bloom(ref, ["text"])
        assert flt.m <= DEFAULT_MAX_BITS
        a = sorted(
            r["id"]
            for r in dedup_against_bloom(
                batch, ref, ["text"], bloom=flt
            ).collect()
        )
        b = sorted(
            r["id"] for r in dedup_against_bloom(batch, ref, ["text"]).collect()
        )
        assert a == b
        # steady state: a second batch reuses the same filter object
        batch2 = batch.withColumn("id", F.col("id") + 10_000)
        c = sorted(
            r["id"]
            for r in dedup_against_bloom(
                batch2, ref, ["text"], bloom=flt
            ).collect()
        )
        assert c == [x + 10_000 for x in a]

    def test_empty_reference_keeps_everything(self, spark):
        batch, ref = self._frames(spark)
        empty = ref.where(F.lit(False))
        got = dedup_against_bloom(batch, empty, ["text"])
        assert got.count() == batch.count()

    def test_build_is_deterministic(self, spark):
        _, ref = self._frames(spark)
        a = build_digest_bloom(ref, ["text"], expected_items=26)
        b = build_digest_bloom(ref.repartition(7), ["text"], expected_items=26)
        assert a.m == b.m and a.k == b.k
        assert (a.words == b.words).all()
