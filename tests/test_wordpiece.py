"""WordPiece trainer + longest-match encoder (operators/wordpiece.py).

Hand-computed merge decisions (likelihood gain vs raw frequency), the
greedy longest-match/[UNK] contract, and full-loop DuckDB twins on a
crafted corpus — the bpe/unigram test discipline.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.bpe import _merge_word
from ml_hadoop_experiment_spark.operators.wordpiece import (
    UNK,
    _merged,
    greedy_seg_expr,
    wordpiece_encode,
    wordpiece_encode_sql,
    wordpiece_learn,
    wordpiece_learn_sql,
)

ROWS = [
    (1, "the cat sat on the mat"),
    (2, "the cat can cat the catnap"),
    (3, "banana bandana ban"),
    (4, "Mat and CAT and the THE the"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in ROWS)
        + ") AS t(doc_id, text)"
    )
    yield c
    c.close()


class TestLearn:
    def test_likelihood_gain_beats_raw_frequency(self, spark):
        """Corpus where the most FREQUENT pair is not the best-SCORING
        pair: ('a','##b') occurs 4x but both symbols are common
        (4*6=24 joint mass), while ('x','##y') occurs 3x out of 3x3 —
        score 3/9 > 4/24, so likelihood gain picks (x, ##y) first where
        raw-frequency BPE would pick (a, ##b)."""
        df = spark.createDataFrame(
            [(1, "ab ab ab ab ac bb xy xy xy")], "doc_id long, text string"
        )
        _, merges = wordpiece_learn(df, "text", n_merges=1)
        assert merges[0][:2] == ("x", "##y")

    def test_merge_keeps_left_prefix_status(self):
        """Merging ('##a', '##b') yields '##ab'; merging ('t', '##h')
        yields 'th' — the continuation marker belongs to the word
        position, not the merge."""
        assert _merge_word(
            ["x", "##a", "##b"], "##a", "##b", _merged("##a", "##b")
        ) == ["x", "##ab"]
        assert _merge_word(
            ["t", "##h", "##x"], "t", "##h", _merged("t", "##h")
        ) == ["th", "##x"]
        assert _merge_word(
            ["t", "##h", "##x"], "##a", "##b", _merged("##a", "##b")
        ) == ["t", "##h", "##x"]

    def test_learn_matches_duckdb_twin(self, spark, docs, con):
        vocab, _ = wordpiece_learn(docs, "text", n_merges=4)
        sp = sorted(tuple(r) for r in vocab.collect())
        dk = sorted(
            tuple(r)
            for r in con.execute(
                wordpiece_learn_sql("docs", "text", 4)
            ).fetchall()
        )
        assert sp == dk

    def test_rejects_nonpositive_merges(self, spark, docs):
        with pytest.raises(ValueError):
            wordpiece_learn(docs, "text", n_merges=0)
        with pytest.raises(ValueError):
            wordpiece_learn_sql("docs", "text", 0)

    def test_exhausted_vocabulary_raises(self, spark):
        """One merge ('a', '##b') leaves no pair; merge 2 must fail
        loudly, not silently diverge from the unrolled SQL."""
        df = spark.createDataFrame([("ab ab",)], "text string")
        with pytest.raises(ValueError, match="exhausted after 1"):
            wordpiece_learn(df, "text", n_merges=2)


class TestEncode:
    def test_longest_match_first_and_unk(self, spark):
        """Pieces {'un', '##able', '##a', 'u', '##n', ...}: 'unable'
        must take 'un' + '##able' (longest at each step), not
        character pieces; a word with an uncovered position encodes to
        a single [UNK]."""
        df = spark.createDataFrame(
            [("unable",), ("unq",)], "w string"
        )
        m = F.map_from_entries(
            F.expr(
                "transform(array('un', '##able', '##a', 'u', '##n',"
                " '##b', '##l', '##e'), p -> struct(p, 1))"
            )
        )
        out = df.select(
            greedy_seg_expr(F.col("w"), m, max_piece_len=5).alias("seg")
        ).collect()
        assert out[0]["seg"] == "un ##able"
        assert out[1]["seg"] == UNK  # '##q' not in the vocabulary

    def test_cap_is_engine_consistent_not_trained(self, spark):
        """A piece longer than max_piece_len simply never matches: the
        cap is an operator contract, so the segmentation falls back to
        shorter covered pieces deterministically."""
        df = spark.createDataFrame([("abcdef",)], "w string")
        m = F.map_from_entries(
            F.expr(
                "transform(array('abcdef', 'abc', '##def', 'a', '##b',"
                " '##c', '##d', '##e', '##f'), p -> struct(p, 1))"
            )
        )
        out = df.select(
            greedy_seg_expr(F.col("w"), m, max_piece_len=3).alias("seg")
        ).collect()
        assert out[0]["seg"] == "abc ##def"  # 6-char piece is dead weight

    def test_encode_matches_duckdb_twin(self, spark, docs, con):
        vocab, _ = wordpiece_learn(docs, "text", n_merges=4)
        enc = wordpiece_encode(
            docs, "doc_id", "text", vocab, max_piece_len=8
        )
        sp = sorted(tuple(r) for r in enc.collect())
        dk = sorted(
            tuple(r)
            for r in con.execute(
                wordpiece_encode_sql("docs", "doc_id", "text", 4, 8)
            ).fetchall()
        )
        assert sp == dk

    def test_encode_plan_has_no_python_crossing(self, spark, docs):
        """Train + encode stays JVM-side: no BatchEvalPython /
        ArrowEvalPython / FlatMapsInPandas in the executed plan."""
        vocab, _ = wordpiece_learn(docs, "text", n_merges=2)
        enc = wordpiece_encode(docs, "doc_id", "text", vocab)
        plan = enc._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
            assert marker not in plan


class TestAdversarialTwin:
    """The driver trainer and the DuckDB twin on words built to split
    the engines: precomposed and combining-mark accents, CJK, an astral
    emoji (one code point, two UTF-16 units, four UTF-8 bytes),
    fullwidth letters, the JSON and SQL quoting characters, and score
    ties only the pair string breaks."""

    DOCS = [
        (1, "caf\u00e9 caf\u00e9 cafe\u0301 na\u00efve"),
        (2, "中文 中文 中文 中国 文化"),
        (3, "😀😀 😀😀 😀😀 ａａ ａａ ａａ"),
        (4, "n't \"q\" a\\b a\\b"),
        (5, "\u00e9\u00e9 e\u0301"),
    ]
    # Words seen once with symbols seen nowhere else score 1.0, so the
    # pair string orders them ('"' < '#' < U+6587). '##e' +
    # '##\u0301' merges into a decomposed '##é' that
    # sorts before the precomposed one ('e' < U+00E9); the last two
    # merges tie at 1/3 and code-point order puts U+FF41 before
    # U+1F600, where UTF-16 order would not.
    MERGES = [
        ('"', "##q"), ('"q', '##"'), ("##'", "##t"), ("##\u00ef", "##v"),
        ("文", "##化"), ("##\\", "##b"), ("##\u00efv", "##e"),
        ("##e", "##\u0301"), ("e", "##\u0301"), ("a", "##\\b"),
        ("n", "##'t"), ("##f", "##e\u0301"), ("##f", "##\u00e9"),
        ("\u00e9", "##\u00e9"), ("ａ", "##ａ"), ("😀", "##😀"),
    ]

    @pytest.fixture(scope="class")
    def duck(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", self.DOCS)
        yield con
        con.close()

    def test_learn_and_encode_match_sql_twin(self, spark, duck):
        n = len(self.MERGES)
        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        vocab, merges = wordpiece_learn(docs, "text", n)
        assert [(m[0], m[1]) for m in merges] == self.MERGES
        got = sorted(map(tuple, vocab.collect()))
        want = sorted(map(tuple, duck.execute(
            wordpiece_learn_sql("docs", "text", n)
        ).fetchall()))
        assert got == want
        got = sorted(map(tuple, wordpiece_encode(
            docs, "doc_id", "text", vocab
        ).collect()))
        want = sorted(map(tuple, duck.execute(
            wordpiece_encode_sql("docs", "doc_id", "text", n)
        ).fetchall()))
        assert got == want
