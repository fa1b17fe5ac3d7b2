"""Bit-identity of the Arrow SimHash kernel (``operators.dedup.simhash``)
against the retired expression form, kept below as the reference.

The expression form computed each fingerprint bit as one
higher-order-function filter scan over the md5/sha256 hex digests (a
~1.5k-node Catalyst tree at 32 bits); ``dedup.simhash_sql``, the DuckDB
twin, still spells the same nibble compares. The Arrow kernel may only
change the evaluation strategy, so both forms must agree bit-for-bit on
the real fixture corpus and on crafted whitespace/empty/NULL edge cases.

Tokenization stays in the JVM on both sides (``split(trim(lower(col)),
'\\s+')``), so split/trim/lower semantics cannot drift: only the
md5/sha256 + vote kernel runs in numpy."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.dedup import simhash


def simhash_expr_reference(col: Column, bits: int = 16) -> Column:
    """The retired expression form: bit b is set when more than half of
    the tokens have hex digit b of their digest >= '8' (md5 up to 32
    bits, sha2-256 above)."""
    assert 1 <= bits <= 63
    tokens = F.split(F.trim(F.lower(col)), r"\s+")
    digest = (lambda t: F.md5(t)) if bits <= 32 else (lambda t: F.sha2(t, 256))
    hashes = F.transform(tokens, digest)
    n = F.size(tokens)
    fp = F.lit(0).cast("bigint")

    # the loop variable is captured via a factory, not a lambda default:
    # PySpark reads lambda arity, and a 2-arg lambda is treated as an
    # (element, index) function
    def _bit_predicate(b: int):
        # '8'=56 < '9' < 'a'-'f' — the only chars above are the set-bit ones
        return lambda h: F.ascii(F.substring(h, b + 1, 1)) >= 56

    for b in range(bits):
        set_count = F.size(F.filter(hashes, _bit_predicate(b)))
        bit_on = (set_count * 2) > n  # strict: vote sum > 0
        fp = fp + F.when(bit_on, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return fp


#: whitespace-shape edge cases: F.trim strips 0x20 only, Java's \s is
#: [ \t\n\x0B\f\r], and split(limit=-1) KEEPS leading/trailing empty
#: tokens — every case below exercises one of those contracts (the
#: empty token hashes md5("") and votes like any other)
EDGE_TEXTS = [
    None,
    "",
    " ",
    "   ",
    "a",
    "a b",
    "A  B",
    "a\tb",
    "\ta b ",
    "ab\t",
    "x\x0by\fz\rq\nw",
    "same same same different",
    "The  QUICK   brown\tfox",
    " leading and trailing  ",
    "a " * 50 + "b",
    # more votes per bit than a uint8 holds
    "a " * 300 + "b c",
]


class TestSimhashArrowEquivalence:
    @pytest.mark.parametrize("bits", [16, 32])
    def test_fixture_corpus_bit_identical(self, spark, sf_dir, bits):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        both = docs.select(
            simhash(F.col("text"), bits).alias("arrow"),
            simhash_expr_reference(F.col("text"), bits).alias("expr"),
        )
        bad = both.where(F.col("arrow") != F.col("expr")).count()
        assert bad == 0
        # and the fingerprints are non-trivial (not all zero)
        assert both.where(F.col("arrow") != 0).count() > 0

    @pytest.mark.parametrize("bits", [16, 32, 63])
    def test_edge_cases_bit_identical(self, spark, bits):
        df = spark.createDataFrame(
            [(t,) for t in EDGE_TEXTS], "text string"
        )
        rows = df.select(
            "text",
            simhash(F.col("text"), bits).alias("arrow"),
            simhash_expr_reference(F.col("text"), bits).alias("expr"),
        ).collect()
        for r in rows:
            assert r["arrow"] == r["expr"], (bits, r["text"])

    def test_null_text_is_zero(self, spark):
        df = spark.createDataFrame([(None,)], "text string")
        assert df.select(simhash(F.col("text"), 32)).head()[0] == 0

    def test_single_arrow_eval_in_block_frame(self, spark, sf_dir):
        """The block frame references the fingerprint 4x (one shiftright
        per pigeonhole segment); the plan must still evaluate the UDF
        ONCE — one ArrowEvalPython node carrying one pythonUDF — or the
        rewrite quietly quadruples the hashing work (guide §4.4)."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            _simhash_block_frame,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fp = docs.select(
            F.col("doc_id").alias("id"),
            simhash(F.col("text"), 32).alias("fp"),
        )
        frame = _simhash_block_frame(fp, bits=32, max_hamming=3)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "BatchEvalPython" not in plan, plan
