"""Iterative BPE trainer: greedy-merge fold goldens, hand-computed
toy-corpus merges, guards, and whole-vocabulary equivalence with the
DuckDB single-statement replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestMergeFold:
    def test_greedy_left_to_right_non_overlapping(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import merge_pair_expr

        df = spark.createDataFrame(
            [(["a", "a", "a"],), (["h", "e", "l", "l", "o"],)],
            "s array<string>",
        )
        got = [
            r["m"]
            for r in df.select(
                merge_pair_expr(F.col("s"), "a", "a").alias("m")
            ).collect()
        ]
        assert got[0] == ["aa", "a"]  # leftmost-first, no overlap
        assert got[1] == ["h", "e", "l", "l", "o"]
        got2 = df.select(
            merge_pair_expr(F.col("s"), "l", "l").alias("m")
        ).collect()
        assert got2[1]["m"] == ["h", "e", "ll", "o"]

    def test_merged_symbol_does_not_rematch(self, spark):
        """After merging (a, a) -> 'aa', the new last symbol 'aa' must
        not re-trigger against a following 'a' (the non-overlap rule)."""
        from ml_hadoop_experiment_spark.operators.bpe import merge_pair_expr

        df = spark.createDataFrame([(["a"] * 5,)], "s array<string>")
        got = df.select(
            merge_pair_expr(F.col("s"), "a", "a").alias("m")
        ).collect()[0]["m"]
        assert got == ["aa", "aa", "a"]


class TestBpeLearn:
    def test_toy_corpus_merges_and_segmentation(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        docs = spark.createDataFrame(
            [("low low low lower lowest",), ("new newer newest low",)],
            "text string",
        )
        out, merges = bpe_learn(docs, "text", n_merges=3)
        # merge 1: 'l o' and 'o w' tie at 6, pair asc -> ('l','o');
        # merge 2: ('lo','w') at 6; merge 3: 'e w' and 'n e' tie at 3
        # (the 'w e' pairs died inside 'low') -> ('e','w')
        assert [(m[0], m[1]) for m in merges] == [
            ("l", "o"), ("lo", "w"), ("e", "w"),
        ]
        seg = {r["word"]: r["segmentation"] for r in out.collect()}
        assert seg["low"] == "low"
        assert seg["lowest"] == "low e s t"
        assert seg["newer"] == "n ew e r"
        counts = {r["word"]: r["word_count"] for r in out.collect()}
        assert counts["low"] == 4

    def test_release_pinned_frees_every_round_checkpoint(self, spark):
        """Training persists and checkpoints nothing: the returned frame
        is a literal, so no persisted RDD is left behind either before or
        after the sweep's ``release_pinned``."""
        from ml_hadoop_experiment_spark.common.cache_registry import (
            release_pinned,
        )
        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        release_pinned()
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs())
        docs = spark.createDataFrame(
            [("low low low lower lowest",), ("new newer newest low",)],
            "text string",
        )
        out, _ = bpe_learn(docs, "text", n_merges=3)
        out.collect()
        assert len(set(jsc.getPersistentRDDs()) - before) == 0
        release_pinned()
        assert set(jsc.getPersistentRDDs()) - before == set()

    def test_merge_refolds_only_words_with_its_pair(self, spark, monkeypatch):
        """A merge re-folds the words that contain its pair, not the
        whole vocabulary; the result matches the toy corpus above."""
        from ml_hadoop_experiment_spark.operators import bpe

        folded = []
        real = bpe._merge_word

        def _counting(syms, left, right):
            folded.append("".join(syms))
            return real(syms, left, right)

        monkeypatch.setattr(bpe, "_merge_word", _counting)
        docs = spark.createDataFrame(
            [("low low low lower lowest cat dog fix",), ("new newer newest low",)],
            "text string",
        )
        out, merges = bpe.bpe_learn(docs, "text", n_merges=3)
        assert [(m[0], m[1]) for m in merges] == [
            ("l", "o"), ("lo", "w"), ("e", "w"),
        ]
        # 'l o' and 'lo w': low, lower, lowest; 'e w': new, newer, newest
        assert sorted(folded) == sorted(
            ["low", "lower", "lowest"] * 2 + ["new", "newer", "newest"]
        )
        seg = {r["word"]: r["segmentation"] for r in out.collect()}
        assert seg["newer"] == "n ew e r" and seg["cat"] == "c a t"

    def test_guards(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        docs = spark.createDataFrame([("ab ab",)], "text string")
        with pytest.raises(ValueError, match="positive"):
            bpe_learn(docs, "text", n_merges=0)
        with pytest.raises(ValueError, match="exhausted after 1"):
            # one merge ('a','b') empties every pair; merge 2 must fail
            # loudly, not silently diverge from the unrolled SQL
            bpe_learn(docs, "text", n_merges=2)

    def test_apply_segments_documents_in_order(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_apply,
            bpe_learn,
        )

        docs = spark.createDataFrame(
            [(1, "low low low lower lowest"), (2, "new newer newest low"),
             (3, "a lone x")],
            "doc_id long, text string",
        )
        vocab, merges = bpe_learn(docs, "text", n_merges=3)
        out = {r["id"]: r for r in bpe_apply(
            docs, "doc_id", "text", vocab
        ).collect()}
        # merges on THIS corpus: (l,o), (lo,w), then (n,e) — "lone"
        # lifts 'n e' to 4 over 'e w' at 3. Doc order preserved; words
        # shorter than 2 chars pass through as their own token
        assert [(m[0], m[1]) for m in merges] == [
            ("l", "o"), ("lo", "w"), ("n", "e"),
        ]
        assert out[1]["tokens"] == "low low low low e r low e s t"
        assert out[1]["n_tokens"] == 10
        assert out[2]["tokens"] == "ne w ne w e r ne w e s t low"
        assert out[3]["tokens"] == "a lo ne x"
        assert out[3]["n_tokens"] == 4

    def test_apply_oov_words_segment_by_trained_merges(self, spark):
        """Cross-corpus application: a word UNSEEN at training time
        must be segmented by the trained merges applied to its chars
        (what the tokenizer produces on new text), not passed through
        as one unsegmented token."""
        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_apply,
            bpe_learn,
        )

        train = spark.createDataFrame(
            [("low low low lower lowest",), ("new newer newest low",),
             ("a lone x",)],
            "text string",
        )
        vocab, merges = bpe_learn(train, "text", n_merges=3)
        # merges: (l,o), (lo,w), (n,e). 'lowland' is OOV: chars ->
        # (l,o)->'lo' ... -> lo w l a n d -> (lo,w)->'low' -> low l a n d
        # -> (n,e): no 'n e' adjacency -> final: low l a n d
        new = spark.createDataFrame(
            [(9, "lowland low")], "doc_id long, text string"
        )
        with_m = bpe_apply(new, "doc_id", "text", vocab, merges=merges)
        assert with_m.collect()[0]["tokens"] == "low l a n d low"
        without = bpe_apply(new, "doc_id", "text", vocab)
        assert without.collect()[0]["tokens"] == "lowland low"

    def test_apply_matches_duckdb_train_and_apply(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_apply,
            bpe_apply_sql,
            bpe_learn,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        vocab, merges = bpe_learn(docs, "text", n_merges=4)
        s = sorted(
            map(
                tuple,
                bpe_apply(
                    docs, "doc_id", "text", vocab, merges=merges
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet')"
        )
        d = sorted(map(tuple, con.execute(
            bpe_apply_sql("documents", "doc_id", "text", 4)
        ).fetchall()))
        con.close()
        assert s == d

    def test_matches_duckdb_full_loop(self, spark):
        import duckdb

        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_learn,
            bpe_learn_sql,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out, merges = bpe_learn(docs, "text", n_merges=4)
        s = sorted(map(tuple, out.collect()))
        assert len(merges) == 4
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet')"
        )
        d = sorted(map(tuple, con.execute(
            bpe_learn_sql("documents", "text", 4)
        ).fetchall()))
        con.close()
        assert s == d


class TestBatchedMerges:
    CORPUS = [
        ("low low low lower lowest new newer newest",),
        ("wide wider widest low slow slower slowest",),
        ("deep deeper deepest steep steeper steepest",),
    ]

    def _counting_collect(self, spark, monkeypatch):
        # patch the CONCRETE class (pyspark 4.x: pyspark.sql.DataFrame
        # is abstract; classic.DataFrame overrides collect)
        cls = type(spark.range(1))
        calls = {"n": 0}
        orig = cls.collect

        def counting(df):
            calls["n"] += 1
            return orig(df)

        monkeypatch.setattr(cls, "collect", counting)
        return calls

    def test_batched_equals_sequential_and_cuts_rounds(
        self, spark, monkeypatch
    ):
        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        docs = spark.createDataFrame(self.CORPUS, "text string")
        n = 8
        calls = self._counting_collect(spark, monkeypatch)
        seg1, merges1 = bpe_learn(docs, "text", n)
        seq_collects = calls["n"]
        out1 = sorted(tuple(r) for r in seg1.collect())
        calls["n"] = 0
        seg4, merges4 = bpe_learn(docs, "text", n, merges_per_round=4)
        batch_collects = calls["n"]
        out4 = sorted(tuple(r) for r in seg4.collect())
        # result-equality with m=1 on the fixture (merge LIST and the
        # full segmented vocabulary); the rounds run on the driver, so
        # either batch size costs exactly the one vocabulary collect
        assert merges4 == merges1
        assert out4 == out1
        assert seq_collects == 1
        assert batch_collects == 1

    @pytest.mark.parametrize("n", [1, 8])
    def test_learn_is_one_collect_and_a_literal_frame(
        self, spark, monkeypatch, n
    ):
        """Training is ONE Spark action whatever the merge count, and
        the returned vocabulary is a JVM-side literal: no RDD-backed
        relation (slow in the apply's broadcast join, and a pin to
        release) and no Python node in its plan."""
        import re

        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        docs = spark.createDataFrame(self.CORPUS, "text string")
        calls = self._counting_collect(spark, monkeypatch)
        seg, merges = bpe_learn(docs, "text", n)
        assert calls["n"] == 1
        assert len(merges) == n
        plan = seg._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"LogicalRDD|ExistingRDD", plan), plan
        assert not re.search(r"Python|Pandas|Arrow", plan), plan
        assert seg.schema.simpleString() == (
            "struct<word:string,segmentation:string,word_count:bigint>"
        )

    def test_wordpiece_batched_equals_sequential(
        self, spark, monkeypatch
    ):
        """Equality fixture where the commutation provably holds:
        2-char words over disjoint alphabets — merging one word
        creates NO new pairs (size-1 symbol arrays) and touches no
        other word's symbol counts, so batched selection == strict
        sequential. (On corpora with longer words WordPiece batching
        is documented-approximate: a merge's created pairs have small
        new-symbol denominators and jump the score queue.)"""
        from ml_hadoop_experiment_spark.operators.wordpiece import (
            wordpiece_learn,
        )

        docs = spark.createDataFrame(
            [("ab ab ab ab cd cd cd ef ef gh ij kl",)], "text string"
        )
        n = 6
        calls = self._counting_collect(spark, monkeypatch)
        seg1, merges1 = wordpiece_learn(docs, "text", n)
        out1 = sorted(tuple(r) for r in seg1.collect())
        seq_rounds = calls["n"] - 1
        calls["n"] = 0
        seg3, merges3 = wordpiece_learn(
            docs, "text", n, merges_per_round=3
        )
        out3 = sorted(tuple(r) for r in seg3.collect())
        batch_rounds = calls["n"] - 1
        assert merges3 == merges1
        assert out3 == out1
        assert seq_rounds == n
        assert batch_rounds < seq_rounds, (batch_rounds, seq_rounds)

    def test_disjoint_prefix_stops_at_conflict(self):
        from ml_hadoop_experiment_spark.operators.bpe import (
            _disjoint_prefix,
        )

        got = _disjoint_prefix(
            [("a b", 9), ("c d", 8), ("b e", 7), ("f g", 6)]
        )
        # "b e" shares 'b' with the first pick: the prefix STOPS there
        # (skipping would reorder the greedy sequence), so "f g" is
        # excluded even though it conflicts with nothing
        assert got == [("a", "b", 9), ("c", "d", 8)]

    def test_rejects_nonpositive_batch(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

        docs = spark.createDataFrame(self.CORPUS, "text string")
        with pytest.raises(ValueError, match="merges_per_round"):
            bpe_learn(docs, "text", 2, merges_per_round=0)


class TestAdversarialTwin:
    """Spark and the DuckDB twin on words built to split the engines:
    precomposed and combining-mark accents, CJK, an astral emoji (one
    code point, two UTF-16 units, four UTF-8 bytes), the JSON and SQL
    quoting characters, and count ties only the pair string breaks."""

    DOCS = [
        (1, "café café cafe\u0301 cafe\u0301 cafe\u0301 cafe\u0301 naïve"),
        (2, "中文 中文 中文 中文 中文 中国 文化"),
        (3, "😀😀 😀😀 😀😀 😀😀 😀😀 ａａ ａａ ａａ ａａ ａａ a😀b"),
        (4, "don't don't say\"hi\" say\"hi\" a\\b a\\b a\\b a\\b c:\\\\dir"),
        (5, "\u00e9\u00e9 e\u0301e\u0301 a b"),
    ]
    # The first 8 merges: (a, f) over (c, a), both 6; (c, af); the
    # combining mark (e, U+0301); then "中 文", "ａ ａ" and "😀 😀", all
    # 5 — code-point order puts U+FF41 before U+1F600, where UTF-16
    # order would not; then backslash-b and a-backslash-b, both 4.
    MERGES = [
        ("a", "f"), ("c", "af"), ("e", "\u0301"), ("中", "文"),
        ("ａ", "ａ"), ("😀", "😀"), ("\\", "b"), ("a", "\\b"),
    ]

    @pytest.fixture(scope="class")
    def duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", self.DOCS)
        yield con
        con.close()

    def test_learn_and_apply_match_sql_twin(self, spark, duck):
        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_apply,
            bpe_apply_sql,
            bpe_learn,
            bpe_learn_sql,
        )

        n = 8
        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        vocab, merges = bpe_learn(docs, "text", n)
        assert [(m[0], m[1]) for m in merges] == self.MERGES
        got = sorted(map(tuple, vocab.collect()))
        want = sorted(map(tuple, duck.execute(
            bpe_learn_sql("docs", "text", n)
        ).fetchall()))
        assert got == want
        got = sorted(map(tuple, bpe_apply(
            docs, "doc_id", "text", vocab, merges=merges
        ).collect()))
        want = sorted(map(tuple, duck.execute(
            bpe_apply_sql("docs", "doc_id", "text", n)
        ).fetchall()))
        assert got == want


class TestMergeListFold:
    """``bpe_apply``'s out-of-vocabulary fallback: the whole merge list
    as one array-of-struct literal folded over each word."""

    TRAIN = [
        ("low low low lower lowest new newer newest wide wider widest",),
        ("slow slower slowest deep deeper deepest steep steeper steepest",),
        ("it's it's don't don't a\\b a\\b",),
    ]
    # no word of this corpus is in the training vocabulary
    NEW = [
        (1, "lowers newly widen deepen steepness slowness"),
        (2, "sweeper wideness isn't won't a\\bc lowed"),
    ]

    def test_fallback_equals_chained_merges(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import (
            PAIR_SEP,
            _char_symbols,
            bpe_apply,
            bpe_learn,
            merge_pair_expr,
        )

        train = spark.createDataFrame(self.TRAIN, "text string")
        vocab, merges = bpe_learn(train, "text", 20)
        assert len(merges) == 20
        new = spark.createDataFrame(self.NEW, "doc_id long, text string")
        trained = {r["word"] for r in vocab.collect()}
        words = [w for _, t in self.NEW for w in t.split()]
        assert not trained & set(words)

        got = {
            r["id"]: r["tokens"].split(PAIR_SEP)
            for r in bpe_apply(
                new, "doc_id", "text", vocab, merges=merges
            ).collect()
        }
        syms = _char_symbols("w")
        for left, right, _ in merges:
            syms = merge_pair_expr(syms, left, right)
        chained = {
            r["w"]: r["s"]
            for r in spark.createDataFrame([(w,) for w in words], "w string")
            .select("w", syms.alias("s"))
            .collect()
        }
        for doc_id, text in self.NEW:
            want = [s for w in text.split() for s in chained[w]]
            assert got[doc_id] == want, doc_id
        # the merges do apply to the unseen words
        assert any(len(chained[w]) < len(w) for w in words)

    def test_fallback_size_does_not_grow_with_merges(self, spark):
        from ml_hadoop_experiment_spark.operators.bpe import (
            bpe_apply,
            bpe_learn,
        )

        train = spark.createDataFrame(self.TRAIN, "text string")
        vocab, merges = bpe_learn(train, "text", 20)
        new = spark.createDataFrame(self.NEW, "doc_id long, text string")

        def n_aggregates(ms):
            df = bpe_apply(new, "doc_id", "text", vocab, merges=ms)
            plan = df._jdf.queryExecution().analyzed().toString()
            return plan.count("aggregate(")

        assert n_aggregates(merges[:1]) == n_aggregates(merges) > 0
