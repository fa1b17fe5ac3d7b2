"""Dedup operator tests: exact, MinHash/LSH, SimHash, Jaccard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.dedup import (
    dedup_exact,
    duplicate_stats,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash,
    simhash_near_dup_pairs,
    tokens_frame,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact(docs):
    out = dedup_exact(docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4]  # keeps lowest id per distinct text


def test_dedup_exact_null_safety(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", ""), (3, "a", None), (4, None, "a")],
        "id bigint, x string, y string",
    )
    out = dedup_exact(df, ["x", "y"], "id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 4]


def test_duplicate_stats(docs):
    stats = duplicate_stats(docs, ["text"]).collect()
    assert len(stats) == 1
    assert stats[0]["count"] == 3


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id bigint, text string")
    toks = {r["token"] for r in tokens_frame(df, "id", "text", 1).collect()}
    assert toks == {"a", "b", "c", "d"}
    sh = {r["token"] for r in tokens_frame(df, "id", "text", 2).collect()}
    assert sh == {"a b", "b c", "c d"}
    # document shorter than the shingle -> whole text as a single shingle
    short = spark.createDataFrame(
        [(1, "a"), (2, "a  b"), (3, "a b c")], "id bigint, text string"
    )
    got = {r["id"]: r["token"] for r in tokens_frame(short, "id", "text", 3).collect()
           if r["id"] != 3}
    assert got == {1: "a", 2: "a b"}  # normalized whitespace, one shingle


def test_short_doc_near_dups_found(spark):
    """Short-doc copies are near-dup candidates via the whole-text shingle
    (pre-round-4 they emitted zero tokens and were invisible to MinHash)."""
    df = spark.createDataFrame(
        [(1, "buy now"), (2, "buy now"), (3, "unrelated words entirely"),
         (4, "a much longer document with plenty of distinct words in it")],
        "id bigint, text string",
    )
    pairs = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
             minhash_dedup_pairs(df, "id", "text", shingle_size=3,
                                 threshold=0.5).collect()}
    assert pairs == {(1, 2, 1.0)}


def test_minhash_identical_docs_same_signature(docs):
    toks = tokens_frame(docs, "doc_id", "text", 1)
    sigs = {r["id"]: (r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"])
            for r in minhash_signatures(toks, 4).collect()}
    assert sigs[1] == sigs[2] == sigs[5]
    assert sigs[1] != sigs[4]


def test_lsh_finds_near_dups(docs):
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_size=1, num_hashes=8, bands=4,
        rows_per_band=2, threshold=0.5,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # all exact dups found with jaccard 1.0
    assert {(1, 2), (1, 5), (2, 5)} <= found
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert jac[(1, 2)] == 1.0
    # doc 4 pairs with nothing
    assert not any(4 in p for p in found)


def test_minhash_persist_flip(docs, spark):
    """cache_intermediates=True must not change results, must actually
    register cached plans, and the auto-heuristic must stay off for tiny
    inputs (measured slower at small scale) while engaging for big ones."""
    from ml_hadoop_experiment_spark.operators import dedup as D

    kw = dict(shingle_size=1, num_hashes=8, bands=4, rows_per_band=2,
              threshold=0.5)
    base = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_dedup_pairs(docs, "doc_id", "text",
                                  cache_intermediates=False, **kw).collect()}

    spark.catalog.clearCache()
    cached = D.minhash_dedup_pairs(
        docs, "doc_id", "text", cache_intermediates=True, **kw)
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in cached.collect()}
    assert got == base
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()

    # driver-local relations have no Catalyst stats -> the unknown-size
    # fallback must choose the safe-at-scale branch (persist)
    assert D._estimated_input_bytes(docs) > D.AUTO_PERSIST_BYTES

    # parquet scans DO have stats: the tiny fixture stays below the
    # threshold, so the auto default skips the persist
    pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert D._estimated_input_bytes(pq) < D.AUTO_PERSIST_BYTES
    D.minhash_dedup_pairs(pq, "doc_id", "text", **kw).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_jaccard_values(spark):
    # A={a,b,c}, B={b,c,d} -> J = 2/4 = 0.5
    df = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "id bigint, text string")
    toks = tokens_frame(df, "id", "text", 1)
    cands = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    out = jaccard_pairs(cands, toks).collect()
    assert out[0]["jaccard"] == 0.5


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "entirely unrelated words here")],
        "id bigint, text string",
    )
    fp = {r["id"]: r["f"] for r in
          df.select("id", simhash(F.col("text"), 16).alias("f")).collect()}
    assert fp[1] == fp[2]  # identical text -> identical fingerprint
    assert 0 <= fp[1] < (1 << 16)
    assert fp[1] != fp[3]


def test_simhash_near_dup_pairs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    pairs = simhash_near_dup_pairs(df, "id", "text", bits=16, max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == {(1, 2, 0)}


def test_simhash_block_bounds():
    from ml_hadoop_experiment_spark.operators.dedup import simhash_block_bounds

    assert simhash_block_bounds(16, 3) == [(0, 4), (4, 4), (8, 4), (12, 4)]
    assert simhash_block_bounds(16, 1) == [(0, 8), (8, 8)]
    # uneven split still covers all bits with max_hamming+1 segments
    assert simhash_block_bounds(16, 4) == [(0, 4), (4, 3), (7, 3), (10, 3), (13, 3)]
    with pytest.raises(ValueError):
        simhash_block_bounds(4, 4)


def test_simhash_pairs_recall_vs_bruteforce(spark):
    """Blocking must return EXACTLY the brute-force popcount pairs at every
    max_hamming — including pairs whose flips split across the old two
    halves (e.g. hamming 2 as 1+1), which half-blocking silently missed."""
    from itertools import combinations

    from ml_hadoop_experiment_spark.operators.dedup import simhash_pairs_from_fingerprints

    # crafted fingerprints: flips split across halves/segments on purpose
    fps = {
        1: 0b0000000000000000,
        2: 0b0000000100000001,  # hamming 2 vs 1, one flip per 8-bit half
        3: 0b0001000100000001,  # hamming 3 vs 1, flips in 3 of 4 nibbles
        4: 0b0001000100010001,  # hamming 4 vs 1 (outside d<=3)
        5: 0b1000000000000001,  # hamming 2 vs 1, extreme bits
        6: 0b0000000000000011,  # hamming 2 vs 1, same nibble
    }
    df = spark.createDataFrame(list(fps.items()), "id bigint, fp bigint")
    for d in (0, 1, 2, 3):
        truth = {
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a, b in combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= d
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs_from_fingerprints(df, bits=16, max_hamming=d).collect()
        }
        assert got == truth, f"max_hamming={d}: {got} != {truth}"


def test_simhash_near_dup_pairs_recall_real_texts(spark):
    """End-to-end recall on real fingerprints: operator output == brute-force
    all-pairs popcount over the same simhash column, at hamming 2 and 3."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    fp = {r["doc_id"]: r["f"] for r in
          docs.select("doc_id", simhash(F.col("text"), 16).alias("f")).collect()}
    ids = sorted(fp)
    for d in (2, 3):
        truth = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(fp[a] ^ fp[b]).count("1")
                if h <= d:
                    truth.add((a, b, h))
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               simhash_near_dup_pairs(docs, "doc_id", "text",
                                      bits=16, max_hamming=d).collect()}
        assert got == truth


def test_auto_simhash_bits_sizing():
    from ml_hadoop_experiment_spark.operators.dedup import auto_simhash_bits

    # floor: tiny corpora keep the 16-bit minimum
    assert auto_simhash_bits(10, max_hamming=2) == 18
    assert auto_simhash_bits(2, max_hamming=1) == 16
    # sf0.1 documents (5k docs, d=2): 13-bit segments -> 39 bits
    assert auto_simhash_bits(5000, max_hamming=2) == 39
    # web-scale saturates at the bigint cap
    assert auto_simhash_bits(10**10, max_hamming=2) == 63
    # monotone in n and d
    assert auto_simhash_bits(10**6, 2) >= auto_simhash_bits(10**3, 2)
    assert auto_simhash_bits(10**6, 3) >= auto_simhash_bits(10**6, 2)


def test_simhash_wide_bits_recall(spark):
    """>32-bit fingerprints (sha256 digest path) keep exact pigeonhole
    recall, and bits='auto' resolves from the corpus count."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    fp = {r["doc_id"]: r["f"] for r in
          docs.select("doc_id", simhash(F.col("text"), 48).alias("f")).collect()}
    assert any(v > (1 << 32) for v in fp.values())  # genuinely wide
    ids = sorted(fp)
    truth = {(a, b, bin(fp[a] ^ fp[b]).count("1"))
             for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(fp[a] ^ fp[b]).count("1") <= 3}
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
           simhash_near_dup_pairs(docs, "doc_id", "text",
                                  bits=48, max_hamming=3).collect()}
    assert got == truth
    # auto mode runs end-to-end (80 docs -> 3*7=21 bits at d=2)
    auto = simhash_near_dup_pairs(docs, "doc_id", "text",
                                  bits="auto", max_hamming=2)
    assert auto.columns == ["id_a", "id_b", "hamming"]
    auto.count()  # executes


def test_simhash_wide_sql_twin(spark):
    """The sha256 digest path agrees across engines too."""
    import duckdb

    from ml_hadoop_experiment_spark.operators.dedup import simhash_sql

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(15)
    got = {r["doc_id"]: r["f"] for r in
           df.select("doc_id", simhash(F.col("text"), 40).alias("f")).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    duck = dict(con.execute(
        f"SELECT doc_id, {simhash_sql('text', 40)} FROM documents LIMIT 15"
    ).fetchall())
    for k, v in got.items():
        assert duck[k] == v


def test_simhash_sql_twin(spark):
    """simhash() and simhash_sql() agree (Spark evaluates both)."""
    import duckdb

    from ml_hadoop_experiment_spark.operators.dedup import simhash_sql

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    got = {r["doc_id"]: r["f"] for r in
           df.select("doc_id", simhash(F.col("text"), 8).alias("f")).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    duck = dict(con.execute(
        f"SELECT doc_id, {simhash_sql('text', 8)} FROM documents LIMIT 20"
    ).fetchall())
    for k, v in got.items():
        assert duck[k] == v


def test_lsh_bucket_cap_drops_only_wide_buckets(docs, spark):
    """max_bucket_ids drops candidates only from buckets wider than the cap;
    uncapped (None) results are unchanged from the default path."""
    toks = tokens_frame(docs, "doc_id", "text", 1)
    sigs = minhash_signatures(toks, 8)
    base = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, 4, 2).collect()}
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, 4, 2, max_bucket_ids=None).collect()
    }
    assert uncapped == base
    # docs 1,2,5 are identical -> every band bucket holding them has width 3;
    # cap=2 removes exactly those buckets' pairs
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, 4, 2, max_bucket_ids=2).collect()
    }
    assert not {(1, 2), (1, 5), (2, 5)} & capped
    assert capped <= base


def test_lsh_single_scan_plan(docs, spark):
    """The banding frame must come from ONE explode of the signature frame —
    no per-band union branches (round-2 plan had `bands` scans)."""
    toks = tokens_frame(docs, "doc_id", "text", 1)
    sigs = minhash_signatures(toks, 8)
    plan = lsh_candidate_pairs(sigs, 4, 2)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan


def test_dedup_against_cross_corpus(spark):
    from ml_hadoop_experiment_spark.operators.dedup import dedup_against

    new = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, None), (4, "also new")],
        "id bigint, text string",
    )
    ref = spark.createDataFrame(
        [(100, "seen before"), (101, None)], "rid bigint, text string"
    )
    out = sorted(r["id"] for r in dedup_against(new, ref, ["text"]).collect())
    # row 1 (exact text match) and row 3 (NULL matches NULL sentinel) drop
    assert out == [2, 4]
    # payload column set preserved
    assert dedup_against(new, ref, ["text"]).columns == ["id", "text"]


def test_lsh_bucket_cap_and_overflow_audit(spark):
    """A degenerate corpus (identical text, bucket width > cap) loses its
    pairs under the cap, and lsh_bucket_overflow reports exactly the
    dropped buckets; distinct content is unaffected."""
    from ml_hadoop_experiment_spark.operators.dedup import lsh_bucket_overflow

    degenerate = [(i, "all the same boilerplate text here") for i in range(8)]
    distinct = [(100, "alpha beta gamma delta epsilon zeta"),
                (101, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(degenerate + distinct, "id bigint, text string")

    uncapped = minhash_dedup_pairs(df, "id", "text", threshold=0.1,
                                   max_bucket_ids=None)
    capped = minhash_dedup_pairs(df, "id", "text", threshold=0.1,
                                 max_bucket_ids=4)
    unc = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in unc and (100, 101) in cap
    assert any(a < 100 and b < 100 for a, b in unc)  # degenerate pairs exist
    assert not any(a < 100 and b < 100 for a, b in cap)  # ...and are capped away

    toks = tokens_frame(df, "id", "text", 3)
    sigs = minhash_signatures(toks, 8)
    overflow = lsh_bucket_overflow(sigs, 4, 2, max_bucket_ids=4).collect()
    assert len(overflow) == 4  # all 4 bands overflow for the identical docs
    assert all(r["width"] == 8 for r in overflow)
    assert lsh_bucket_overflow(sigs, 4, 2, max_bucket_ids=1024).count() == 0


def test_connected_components_basic(spark):
    """Chain, triangle, and singleton-via-df: labels are min reachable id."""
    from ml_hadoop_experiment_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),       # chain -> comp 1
         (10, 11), (11, 12), (10, 12), # triangle -> comp 10
         (20, 21)],                    # pair -> comp 20
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
                                 "doc_id bigint")
    clusters = {r["id"]: r["cluster"] for r in
                dedup_clusters(docs, edges, "doc_id").collect()}
    assert clusters[99] == 99  # singleton: own cluster
    assert clusters[4] == 1 and clusters[12] == 10


def test_connected_components_long_chain_converges(spark):
    """A 40-node path needs ~log-diameter label hops; ensure the iteration
    bound accommodates it and labels are exact."""
    from ml_hadoop_experiment_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges, max_iterations=45).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 41


def test_connected_components_depth_guard_raises(spark, monkeypatch):
    """The recursion bound reports non-contraction instead of silently
    returning partial labels. Forcing the single-task base case OFF
    (threshold 0) makes a multi-partition chain need >1 contraction
    level, so max_iterations=1 must raise."""
    from ml_hadoop_experiment_spark.operators import dedup

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 260)], "id_a bigint, id_b bigint"
    ).repartition(8)
    monkeypatch.setattr(dedup, "CC_SINGLE_TASK_EDGES", 0)
    with pytest.raises(ValueError, match="did not contract"):
        dedup.connected_components(edges, max_iterations=1)
    # and with the depth available, the same forced-contraction path
    # still converges to the right single component
    out = dedup.connected_components(edges, max_iterations=25).collect()
    assert set(r["comp"] for r in out) == {200}
    assert dedup.LAST_CC_STATS["rounds"] >= 2


def test_connected_components_releases_every_level(spark):
    """A level's edge checkpoint is freed once its mapping is materialized;
    the mappings and labels the result reads from are freed by the sweep's
    ``release_pinned``, leaving no persisted RDD behind."""
    from ml_hadoop_experiment_spark.common.cache_registry import release_pinned
    from ml_hadoop_experiment_spark.operators import dedup

    release_pinned()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300, 360)], "id_a bigint, id_b bigint"
    ).repartition(8)
    out = dedup.connected_components(edges, single_task_edges=0).collect()
    assert {r["comp"] for r in out} == {300}
    assert dedup.LAST_CC_STATS["rounds"] >= 2
    release_pinned()
    assert set(jsc.getPersistentRDDs()) - before == set()


def test_connected_components_multi_level_vs_recursive_cte(spark):
    """Depth-2+ contraction on a partition-spanning clone graph, labels
    checked against an independent DuckDB recursive-CTE closure — the
    cluster-scale regime (level-0 contraction larger than one task's
    edge budget) reproduced via the single_task_edges knob instead of
    fixtures too large to test. SCALE.md "CC depth-2 contraction" holds
    the timed version of this construction (180k edges, budget 20k:
    3 levels, exact labels)."""
    import duckdb

    from ml_hadoop_experiment_spark.operators import dedup

    G, L = 2_000, 10  # 2k clone groups x chain of 10, shuffled over 16 parts
    src = np.concatenate([np.arange(g * L, g * L + L - 1) for g in range(G)])
    pdf = pd.DataFrame({"id_a": src, "id_b": src + 1}).sample(
        frac=1.0, random_state=7
    )
    edges = spark.createDataFrame(pdf).repartition(16)
    out = (
        dedup.connected_components(edges, single_task_edges=2_000)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert dedup.LAST_CC_STATS["rounds"] >= 2, dedup.LAST_CC_STATS
    con = duckdb.connect()
    con.register("edges", pdf)
    oracle = con.execute(
        """
        WITH RECURSIVE sym AS (
          SELECT id_a AS a, id_b AS b FROM edges UNION
          SELECT id_b, id_a FROM edges
        ),
        walk(id, comp) AS (
          SELECT a, least(a, min(b)) FROM sym GROUP BY a
          UNION
          SELECT s.a, w.comp FROM sym s JOIN walk w ON w.id = s.b
            WHERE w.comp < s.a
        )
        SELECT id, min(comp) AS comp FROM walk GROUP BY id
        """
    ).df().sort_values("id", ignore_index=True)
    assert len(out) == len(oracle) == G * L
    assert (out["id"].values == oracle["id"].values).all()
    assert (out["comp"].values == oracle["comp"].values).all()


class TestNearDupAgainst:
    def test_finds_corpus_near_dups_only(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import near_dup_against

        base = "the quick brown fox jumps over the lazy dog again and again"
        corpus_rows = [
            (100, base),
            (101, "completely different text about spark planning internals"),
            (102, base.replace("dog", "cat")),
        ]
        new_rows = [
            (1, base),                                 # exact dup of 100
            (2, base.replace("quick", "slow")),        # near dup
            (3, "unrelated fresh content nothing shared with anything here"),
        ]
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")
        out = near_dup_against(new, corpus, "doc_id", "text",
                               shingle_size=3, threshold=0.3)
        got = {(r["id_new"], r["id_corpus"]) for r in out.collect()}
        assert (1, 100) in got            # exact copy found
        assert all(a != 3 for a, _ in got)  # fresh doc matches nothing
        # corpus is never self-paired: every id_new is from the new batch
        assert {a for a, _ in got} <= {1, 2}

    def test_id_collision_between_inputs_is_safe(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import near_dup_against

        text = "shared sentence with enough words to form several shingles"
        corpus = spark.createDataFrame([(7, text)], "doc_id long, text string")
        new = spark.createDataFrame([(7, text)], "doc_id long, text string")
        out = near_dup_against(new, corpus, "doc_id", "text",
                               shingle_size=3, threshold=0.5).collect()
        assert [(r["id_new"], r["id_corpus"], r["jaccard"]) for r in out] == [
            (7, 7, 1.0)
        ]

    def test_matches_full_pipeline_on_split(self, spark):
        """Incremental result == the cross-split subset of the full
        self-join pipeline on the same corpus."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            minhash_dedup_pairs,
            near_dup_against,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(200)
        new = docs.where(F.col("doc_id") % 10 == 0)
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        incr = {(r["id_new"], r["id_corpus"], r["jaccard"]) for r in
                near_dup_against(new, corpus, "doc_id", "text",
                                 shingle_size=3, threshold=0.3).collect()}
        full = minhash_dedup_pairs(docs, "doc_id", "text", shingle_size=3,
                                   threshold=0.3).collect()
        cross = set()
        for r in full:
            a, b = r["id_a"], r["id_b"]
            if a % 10 == 0 and b % 10 != 0:
                cross.add((a, b, r["jaccard"]))
            elif b % 10 == 0 and a % 10 != 0:
                cross.add((b, a, r["jaccard"]))
        assert incr == cross


class TestNearDupCorpusIndex:
    def test_index_path_equals_from_scratch(self, spark):
        """build_corpus_index + near_dup_against_index returns exactly
        the from-scratch near_dup_against result (same LSH params), for
        multiple batches against ONE index — the steady-state contract."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            build_corpus_index,
            near_dup_against,
            near_dup_against_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(300)
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        index = build_corpus_index(corpus, "doc_id", "text",
                                   shingle_size=3, num_hashes=8,
                                   bands=4, rows_per_band=2)
        try:
            for m in (0, 5):  # two distinct "crawl batches", one index
                new = docs.where(F.col("doc_id") % 10 == m)
                got = {
                    (r["id_new"], r["id_corpus"], r["jaccard"])
                    for r in near_dup_against_index(
                        new, index, "doc_id", "text", threshold=0.3
                    ).collect()
                }
                want = {
                    (r["id_new"], r["id_corpus"], r["jaccard"])
                    for r in near_dup_against(
                        new, corpus, "doc_id", "text", shingle_size=3,
                        num_hashes=8, bands=4, rows_per_band=2,
                        threshold=0.3,
                    ).collect()
                }
                assert got == want and want  # non-vacuous: dups exist
        finally:
            index.unpersist()

    def test_index_carries_lsh_params(self, spark):
        """The batch is banded with the INDEX's parameters, so a
        non-default build still joins bucket-compatibly."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            build_corpus_index,
            near_dup_against_index,
        )

        text = "shared sentence with enough words to form several shingles"
        corpus = spark.createDataFrame([(7, text)], "doc_id long, text string")
        new = spark.createDataFrame([(8, text)], "doc_id long, text string")
        index = build_corpus_index(corpus, "doc_id", "text",
                                   shingle_size=2, num_hashes=6,
                                   bands=3, rows_per_band=2)
        try:
            out = near_dup_against_index(
                new, index, "doc_id", "text", threshold=0.5
            ).collect()
            assert [(r["id_new"], r["id_corpus"], r["jaccard"]) for r in out] \
                == [(8, 7, 1.0)]
        finally:
            index.unpersist()


class TestSimhashAgainst:
    def test_matches_full_pipeline_cross_pairs(self, spark):
        """Incremental result == the full self-join restricted to cross
        pairs — EXACT, not probabilistic (pigeonhole recall)."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            simhash_against,
            simhash_near_dup_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(300)
        new = docs.where(F.col("doc_id") % 10 == 0)
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        incr = {(r["id_new"], r["id_corpus"], r["hamming"]) for r in
                simhash_against(new, corpus, "doc_id", "text",
                                bits=32, max_hamming=3).collect()}
        full = simhash_near_dup_pairs(docs, "doc_id", "text",
                                      bits=32, max_hamming=3).collect()
        cross = set()
        for r in full:
            a, b = r["id_a"], r["id_b"]
            if a % 10 == 0 and b % 10 != 0:
                cross.add((a, b, r["hamming"]))
            elif b % 10 == 0 and a % 10 != 0:
                cross.add((b, a, r["hamming"]))
        assert incr == cross and incr

    def test_id_collision_between_inputs_is_safe(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import simhash_against

        text = "the very same sentence of words for both sides here"
        corpus = spark.createDataFrame([(7, text)], "doc_id long, text string")
        new = spark.createDataFrame([(7, text)], "doc_id long, text string")
        rows = simhash_against(new, corpus, "doc_id", "text",
                               bits=32, max_hamming=0).collect()
        assert [(r["id_new"], r["id_corpus"], r["hamming"]) for r in rows] \
            == [(7, 7, 0)]


class TestKeepBestPerCluster:
    def test_keeps_highest_score_not_min_id(self, spark):
        """The survivor is the best-quality doc, which here is NOT the
        min id — the behavioral difference vs dup_clusters retention."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        df = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (3, 0.5), (9, 0.1)],
            "doc_id long, score double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        kept = keep_best_per_cluster(df, pairs, "doc_id", "score").collect()
        got = {(r["doc_id"], r["cluster"], r["score"]) for r in kept}
        # cluster {1,2,3} -> survivor 2 (score .9), labeled min id 1;
        # singleton 9 keeps itself
        assert got == {(2, 1, 0.9), (9, 9, 0.1)}

    def test_score_tie_breaks_on_ascending_id(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        df = spark.createDataFrame(
            [(5, 1.0), (6, 1.0)], "doc_id long, score double"
        )
        pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
        kept = keep_best_per_cluster(df, pairs, "doc_id", "score").collect()
        assert [(r["doc_id"], r["cluster"]) for r in kept] == [(5, 5)]

    def test_id_col_named_id(self, spark):
        """The component frame's own id column is literally 'id'; the
        join must not be ambiguous when the input uses that name too."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        df = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (7, 0.3)], "id long, score double"
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        kept = keep_best_per_cluster(df, pairs, "id", "score").collect()
        assert {(r["id"], r["cluster"]) for r in kept} == {(2, 1), (7, 7)}

    def test_existing_cluster_column_rejected(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        df = spark.createDataFrame(
            [(1, 0.2, 0)], "doc_id long, score double, cluster long"
        )
        pairs = spark.createDataFrame([(1, 1)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="cluster"):
            keep_best_per_cluster(df, pairs, "doc_id", "score")

    def test_auto_bits_guard_preserves_retention_on_stable_clusters(
        self, spark
    ):
        """The dup-heavy guard (auto_simhash_bits widening) bounds the
        pair graph, and on every cluster whose member set survives the
        widening unchanged, the retained doc is IDENTICAL — the
        labels-match contract behind SCALE.md's "dedup_keep_best
        capped-guard A/B". Clone fixture: 8 groups x 6 near-identical
        copies (shared long template + a copy token), distinct
        templates across groups."""
        from pyspark.sql import functions as F

        from ml_hadoop_experiment_spark.operators.dedup import (
            auto_simhash_bits,
            dedup_clusters,
            keep_best_per_cluster,
            simhash_near_dup_pairs,
        )

        rows = []
        for g in range(8):
            base = " ".join(
                f"tmpl{g}w{(7 * g + i * i) % 23}" for i in range(40)
            )
            for k in range(6):
                text = base if k == 0 else f"{base} copytoken{k}"
                rows.append((g * 10 + k, text, float(len(text) % 7)))
        df = spark.createDataFrame(rows, "doc_id bigint, text string, q double")

        auto = auto_simhash_bits(len(rows), 3)
        assert auto > 16  # the widening actually engages
        results = {}
        for bits in (16, auto):
            pairs = simhash_near_dup_pairs(
                df, "doc_id", "text", bits=bits, max_hamming=3
            )
            kept = keep_best_per_cluster(df, pairs, "doc_id", "q")
            comp = dedup_clusters(df, pairs, "doc_id")
            members = {
                r["cluster"]: tuple(r["m"])
                for r in comp.groupBy("cluster")
                .agg(F.sort_array(F.collect_list("id")).alias("m"))
                .collect()
            }
            results[bits] = (
                {r["cluster"]: r["doc_id"] for r in kept.collect()},
                members,
            )
        kept16, mem16 = results[16]
        kepta, mema = results[auto]
        byset16 = {v: kept16[c] for c, v in mem16.items()}
        byseta = {v: kepta[c] for c, v in mema.items()}
        stable = set(byset16) & set(byseta)
        assert stable  # the comparison must not be vacuous
        for member_set in stable:
            assert byset16[member_set] == byseta[member_set]


class TestZeroThresholdPairs:
    def test_zero_intersection_candidates_scored_not_dropped(self, spark):
        """At threshold <= 0 every candidate pair gets a scored row —
        a supplied pair whose docs share no token appears with 0.0, so
        a custom blocker's candidate set can be audited 1:1."""
        from ml_hadoop_experiment_spark.operators.dedup import (
            jaccard_pairs,
            overlap_pairs,
            tokens_frame,
        )

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "b c d"), (3, "x y z")],
            "id bigint, text string",
        )
        toks = tokens_frame(df, "id", "text", 1)
        cands = spark.createDataFrame(
            [(1, 2), (1, 3)], "id_a bigint, id_b bigint"
        )
        j = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in jaccard_pairs(cands, toks, threshold=0.0).collect()}
        assert j == {(1, 2): 0.5, (1, 3): 0.0}
        o = {(r["id_a"], r["id_b"]): (r["overlap"], r["jaccard"])
             for r in overlap_pairs(cands, toks, threshold=0.0).collect()}
        assert o == {(1, 2): (0.666667, 0.5), (1, 3): (0.0, 0.0)}
        # positive threshold keeps the pruned inner-join shape
        assert {(r["id_a"], r["id_b"])
                for r in jaccard_pairs(cands, toks, threshold=0.1).collect()
                } == {(1, 2)}
