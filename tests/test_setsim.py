"""Exact prefix-filtered set-similarity join (operators/setsim.py)."""

from __future__ import annotations

import itertools
import random

import pytest

from ml_hadoop_experiment_spark.operators.dedup import tokens_frame
from ml_hadoop_experiment_spark.operators.setsim import (
    jaccard_join,
    prefix_filter_candidates,
)


def _brute_pairs(docs, shingle_size, threshold):
    """Driver-side brute force: exact Jaccard over ALL pairs."""

    def shingles(text):
        t = text.strip().split()
        if len(t) < shingle_size:
            return {" ".join(t)}
        return {
            " ".join(t[i : i + shingle_size])
            for i in range(len(t) - shingle_size + 1)
        }

    sets = {i: shingles(txt) for i, txt in docs}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        j = round(inter / (len(sa) + len(sb) - inter), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    # overlapping word streams: many near-dup pairs at varied similarity,
    # plus short docs (whole-text shingle rule) and an exact duplicate
    rng = random.Random(7)
    words = [f"w{i}" for i in range(30)]
    rows = []
    base = [rng.choice(words) for _ in range(40)]
    for i in range(25):
        doc = list(base)
        for _ in range(rng.randrange(0, 25)):
            doc[rng.randrange(len(doc))] = rng.choice(words)
        rows.append((i, " ".join(doc)))
    rows.append((100, " ".join(base)))  # exact dup of doc built from base
    rows.append((101, "one two"))  # short: whole-text shingle
    rows.append((102, "one two"))  # short exact dup -> jaccard 1.0
    rows.append((103, "solitary"))
    return rows


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_join_matches_brute_force(spark, corpus, threshold):
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_join(
            df, "doc_id", "text", threshold=threshold, shingle_size=3
        ).collect()
    }
    want = _brute_pairs(corpus, 3, threshold)
    assert got == want  # completeness AND exactness, no LSH recall gap


def test_prefix_candidates_complete_at_integer_boundary(spark):
    # t*n exactly integral (t=0.5, sizes 4 and 8): the float-ceil nudge
    # must keep the prefix long enough — a pair at exactly J=0.5 survives
    rows = [
        (1, "a b c d e"),  # 3-shingles: {abc bcd cde} size 3
        (2, "a b c d f"),  # {abc bcd cdf} inter=2 union=4 J=0.5
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    toks = tokens_frame(df, "doc_id", "text", shingle_size=3)
    cands = prefix_filter_candidates(toks, 0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in cands] == [(1, 2)]
    out = jaccard_join(df, "doc_id", "text", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(1, 2, 0.5)]


def test_prefix_join_prunes_vs_full_index(spark, corpus):
    # the point of prefix filtering: candidate pairs strictly fewer than
    # the full inverted-index join would produce (here the corpus shares
    # `base`, so the full index is near-all-pairs)
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    toks = tokens_frame(df, "doc_id", "text", shingle_size=3)
    n_cand = prefix_filter_candidates(toks, 0.8).count()
    ta = toks.selectExpr("id AS id_a", "token")
    tb = toks.selectExpr("id AS id_b", "token")
    n_full = (
        ta.join(tb, "token")
        .where("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n_cand < n_full


class TestPostingWidthCap:
    def _clone_corpus(self, spark):
        # 6 clone groups of 8 near-identical docs: every shingle's posting
        # list has width ~8 (the dup-heavy worst case for the prefix index)
        rows = []
        for g in range(6):
            base = " ".join(f"g{g}w{i}" for i in range(20))
            for k in range(8):
                rows.append((g * 10 + k, base + f" tail{k}"))
        # one isolated pair sharing a group-unique vocabulary (width 2)
        rows.append((100, "uniq alpha beta gamma delta epsilon zeta eta"))
        rows.append((101, "uniq alpha beta gamma delta epsilon zeta XXX"))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_cap_bounds_candidates_and_audit_reports(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import tokens_frame
        from ml_hadoop_experiment_spark.operators.setsim import (
            jaccard_join,
            prefix_filter_candidates,
            prefix_posting_overflow,
        )

        df = self._clone_corpus(spark)
        toks = tokens_frame(df, "doc_id", "text", 3)
        exact = prefix_filter_candidates(toks, 0.5).count()
        capped = prefix_filter_candidates(toks, 0.5, max_posting_width=4).count()
        assert capped < exact  # clone-group pairs gone from the join
        # the audit names the over-cap prefix tokens the cap silenced
        audit = prefix_posting_overflow(toks, 0.5, max_posting_width=4)
        assert audit.count() > 0
        assert audit.where("width <= 4").count() == 0
        # the width-2 pair survives the cap: its shared prefix tokens are
        # under-cap, so capped recall loss is confined to wide postings
        pairs = jaccard_join(
            df, "doc_id", "text", threshold=0.5, max_posting_width=4
        ).collect()
        assert (100, 101) in {(r["id_a"], r["id_b"]) for r in pairs}

    def test_default_stays_complete(self, spark):
        from ml_hadoop_experiment_spark.operators.setsim import jaccard_join

        df = self._clone_corpus(spark)
        # uncapped: every intra-group pair found (6 groups x C(8,2) = 168)
        n = jaccard_join(df, "doc_id", "text", threshold=0.5).count()
        assert n == 6 * 28 + 1


class TestTopkSimilarPairs:
    def test_exact_topk_above_floor(self, spark, corpus):
        from ml_hadoop_experiment_spark.operators.setsim import (
            jaccard_join,
            topk_similar_pairs,
        )

        df = spark.createDataFrame(corpus, "doc_id bigint, text string")
        got = [
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in topk_similar_pairs(df, "doc_id", "text", k=5, floor=0.3).collect()
        ]
        full = jaccard_join(df, "doc_id", "text", threshold=0.3).collect()
        want = sorted(
            ((r["id_a"], r["id_b"], r["jaccard"]) for r in full),
            key=lambda t: (-t[2], t[0], t[1]),
        )[:5]
        assert got == want
        assert got == sorted(got, key=lambda t: (-t[2], t[0], t[1]))

    def test_floor_exhaustion_returns_fewer(self, spark):
        from ml_hadoop_experiment_spark.operators.setsim import topk_similar_pairs

        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d f"), (3, "z y x w v")],
            "doc_id bigint, text string",
        )
        out = topk_similar_pairs(df, "doc_id", "text", k=10, floor=0.3).collect()
        assert len(out) == 1  # only one pair exists above the floor

    def test_probe_and_fallback_agree_with_direct_floor(self, spark, corpus):
        """The adaptive probe must be invisible in the result: whether
        the probe satisfies k, falls back, or is disabled, the answer
        equals the direct single-pass join at the caller's floor."""
        from ml_hadoop_experiment_spark.operators.setsim import topk_similar_pairs

        df = spark.createDataFrame(corpus, "doc_id bigint, text string")
        as_tuples = lambda rows: [
            (r["id_a"], r["id_b"], r["jaccard"]) for r in rows
        ]
        direct = as_tuples(
            topk_similar_pairs(
                df, "doc_id", "text", k=5, floor=0.3, probe_floor=None
            ).collect()
        )
        # probe low enough to satisfy k (probe path returns)
        probed = as_tuples(
            topk_similar_pairs(
                df, "doc_id", "text", k=5, floor=0.3, probe_floor=0.35
            ).collect()
        )
        # probe so high it finds < k pairs (fallback path runs)
        fallback = as_tuples(
            topk_similar_pairs(
                df, "doc_id", "text", k=5, floor=0.3, probe_floor=0.99
            ).collect()
        )
        assert probed == direct
        assert fallback == direct

    def test_rejects_floorless_topk(self, spark):
        import pytest as _pytest

        from ml_hadoop_experiment_spark.operators.setsim import topk_similar_pairs

        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with _pytest.raises(ValueError, match="floorless"):
            topk_similar_pairs(df, "doc_id", "text", floor=0.0)
        with _pytest.raises(ValueError, match="k must be positive"):
            topk_similar_pairs(df, "doc_id", "text", k=0, floor=0.3)
