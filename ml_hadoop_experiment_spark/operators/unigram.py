"""Unigram-LM (SentencePiece-style) tokenizer training — Viterbi EM.

The second trainer of the tokenizer story (``bpe.bpe_learn`` is the
first): Kudo 2018 ("Subword Regularization", ACL — public literature)
trains a unigram language model over subword pieces by EM — seed a
large candidate vocabulary from substring frequencies, alternate
(E) segment the corpus under the current piece probabilities and
(M) re-estimate the probabilities from the segmentation counts, then
prune to the target vocabulary. This module implements the
deterministic, cross-engine-replayable member of that family:

- **hard (Viterbi) EM**: the E-step takes each word's single BEST
  segmentation (max probability product, ties to fewer pieces then
  lexicographically smallest piece string) instead of
  forward-backward expectations — the standard hard-EM variant, and
  the one whose arithmetic both engines replay bit-for-bit;
- **probability products, not log sums**: Viterbi compares raw IEEE
  products of the smoothed piece probabilities (one division per
  piece, one multiplication per step, fixed fold order), so no ``ln``
  ever enters a comparison — transcendental libm rounding is the one
  thing two engines may disagree on at the last ulp, and a last-ulp
  flip in an argmin would diverge the whole segmentation;
- **add-one smoothing over the fixed seed set** (the PSI discipline):
  every piece stays feasible through all iterations, so the M-step is
  pure integer counts + one division;
- **frequency pruning** to the final vocabulary (count desc, piece
  asc — a total order), always retaining every single character, in
  place of SentencePiece's likelihood-loss pruning.

Execution shape (the ``bpe_learn`` discipline): the corpus collapses
ONCE to the distinct-word ``(word, count)`` frame — the only
corpus-sized shuffle — and is pinned. Each EM iteration is: the model
folded to a ONE-ROW ``map<piece, p>`` frame (``map_from_entries``,
bounded by the seed size), broadcast-cross-joined to the vocabulary
(the engine's bounded-BNLJ pattern — build side is 1 row, adjudicated
like every other totals broadcast in SCALE.md), one map-only Viterbi
fold per word, one vocabulary-bounded piece-count aggregation, one
broadcast totals join. NOTHING model-sized ever passes through the
driver — the model lives in DataFrames end to end.

The ENTIRE loop replays in DuckDB (:func:`unigram_learn_sql`):
unrolled per-iteration CTE chains — the ``kmeans_ctes`` /
``bpe_learn_sql`` precedent — with the same Viterbi fold as a
``list_reduce`` whose accumulator is the DP state list (position =
``len(acc)``, so the fold needs no index variable).

Tokenization convention shared with ``bpe.py`` BY CONSTRUCTION:
training collapses the corpus with ``bpe._distinct_words`` (split
``trim(lower(text))`` on the explicit whitespace class, keep words of
length >= 2).

Reference parity: criteo/ml-hadoop-experiment has no tokenizer
surface (SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import (
    PAIR_SEP,
    WORD_SPLIT_SPARK,
    WORD_SPLIT_SQL,
    _distinct_words,
)

#: probability assigned to an out-of-vocabulary SINGLE character at
#: encode time (training never sees one: the seed keeps every corpus
#: character). An exact power of two, so the literal is the same IEEE
#: double in both engines.
OOV_P = 2.0**-30


def viterbi_seg_expr(
    word: Column,
    model_map: Column,
    max_piece_len: int,
    oov_fallback: bool = False,
) -> Column:
    """Best unigram-LM segmentation of ``word`` under the piece
    probabilities in ``model_map`` (a ``map<string, double>`` column):
    the space-joined piece sequence maximizing the probability
    product, ties broken to fewer pieces, then to the
    lexicographically smallest piece string — a TOTAL order, so the
    segmentation is a pure function of (word, model).

    One ``aggregate`` fold over character positions; the accumulator
    is the DP state array ``struct<p, n, seg>`` (best product, piece
    count, joined pieces for each prefix). Each step considers pieces
    of length 1..``max_piece_len`` ending at the position; candidates
    are compared as ``(-p, n, seg)`` structs under ``array_min`` (the
    argmax-via-min(struct) idiom, ``langid.language_id`` precedent).
    Pure codegen fold — no UDF, no Python.

    ``oov_fallback`` prices single characters ABSENT from the model at
    :data:`OOV_P` (encode-time totality for unseen text); training
    leaves it off so a model bug fails loudly as a NULL segmentation
    instead of silently re-weighting.
    """
    # the DP state carries np = -(probability product): min(np, n, seg)
    # IS the argmax ordering, one struct type end to end, and the IEEE
    # sign flip is exact so (-1.0 * p1) * p2 == -(p1 * p2) bit-for-bit
    init = F.expr(
        "array(struct(cast(-1.0 as double) as np, 0 as n, '' as seg))"
    )

    # Infeasible positions are encoded IN-BAND as a sentinel struct with
    # np = +1.0 (every feasible np is a negated probability product, i.e.
    # strictly negative, so the sentinel sorts LAST under array_min and can
    # never beat a legal segmentation — the round-12 ADVICE defect was the
    # previous encoding, where an unreachable prefix left NULL np fields
    # that sorted FIRST). In-band rather than a NULL element because a
    # wholesale-NULL struct inside this nested higher-order fold NPEs in
    # Spark 4.1 whole-stage codegen (GetStructField/UnsafeProjection skip
    # the null check; interpreted mode handles it fine). Mirrors the guard
    # in _viterbi_fold_sql.
    sentinel = F.struct(
        F.lit(1.0).alias("np"),
        F.lit(0).alias("n"),
        F.lit(None).cast("string").alias("seg"),
    )

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for j in range(1, max_piece_len + 1):
            piece = word.substr(i - F.lit(j - 1), F.lit(j))
            prev = F.element_at(acc, i - F.lit(j - 1))
            pp = F.element_at(model_map, piece)
            if j == 1 and oov_fallback:
                pp = F.coalesce(pp, F.lit(OOV_P))
            cands.append(
                F.when(
                    # prev["np"] < 0 gates infeasible prefixes (the
                    # sentinel and everything built on it is positive)
                    (F.lit(j) <= i) & pp.isNotNull() & (prev["np"] < 0),
                    F.struct(
                        (prev["np"] * pp).alias("np"),
                        (prev["n"] + 1).alias("n"),
                        F.when(prev["n"] == 0, piece)
                        .otherwise(
                            F.concat(prev["seg"], F.lit(PAIR_SEP), piece)
                        )
                        .alias("seg"),
                    ),
                )
            )
        best = F.coalesce(
            F.array_min(F.filter(F.array(*cands), lambda c: c.isNotNull())),
            sentinel,
        )
        return F.concat(acc, F.array(best))

    dp = F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step)
    # unsegmentable word -> final element is the sentinel -> seg is NULL,
    # exactly the "no legal segmentation" contract
    return F.element_at(dp, -1)["seg"]


def _seed_model(
    vocab: DataFrame, seed_multi: int, max_piece_len: int
) -> DataFrame:
    """``(piece, p)`` seed: EVERY single character in the corpus plus
    the ``seed_multi`` most frequent multi-character substrings of
    length <= ``max_piece_len`` (frequency = occurrences weighted by
    word count; ties to the lexicographically smaller piece), with
    add-one-smoothed probabilities over the kept set."""
    from pyspark.sql import Window

    subs = vocab.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(__w)), i ->"
                f" transform(sequence(1, least({max_piece_len},"
                " length(__w) - i + 1)), j -> substring(__w, i, j))))"
            )
        ).alias("piece"),
        F.col("__c"),
    )
    freqs = subs.groupBy("piece").agg(F.sum("__c").alias("freq"))
    chars = freqs.where(F.length("piece") == 1)
    w = Window.orderBy(F.col("freq").desc(), F.col("piece").asc())
    multi = (
        freqs.where(F.length("piece") > 1)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= seed_multi)
        .drop("__r")
    )
    seed = chars.unionByName(multi)
    return _smoothed(seed.select("piece", F.col("freq").alias("cnt")))


def _smoothed(counts: DataFrame) -> DataFrame:
    """``(piece, p)`` with ``p = (cnt + 1) / (total + n_pieces)`` —
    integer counts, ONE division, both totals from a 1-row broadcast
    (the PSI smoothing discipline: exact, order-independent)."""
    tots = counts.agg(
        F.sum("cnt").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    return counts.join(F.broadcast(tots)).select(
        "piece",
        (
            (F.col("cnt").cast("double") + F.lit(1.0))
            / (F.col("__t").cast("double") + F.col("__k").cast("double"))
        ).alias("p"),
    )


def _model_map(model: DataFrame) -> DataFrame:
    """The model folded to ONE row ``map<piece, p>`` — what the
    Viterbi fold looks pieces up in; broadcast-cross-joined to the
    word frame (bounded build side: 1 row)."""
    return model.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "p"))
        ).alias("__m")
    )


def _estep_counts(
    vocab: DataFrame, model: DataFrame, max_piece_len: int
) -> DataFrame:
    """One hard-EM E-step: Viterbi-segment every distinct word under
    ``model``, count pieces weighted by word count — ``(piece, cnt)``
    over the model's piece set (zeros for pieces no best segmentation
    uses)."""
    seg = vocab.crossJoin(F.broadcast(_model_map(model))).select(
        viterbi_seg_expr(
            F.col("__w"), F.col("__m"), max_piece_len
        ).alias("__seg"),
        F.col("__c"),
    )
    used = (
        seg.select(
            F.explode(F.split("__seg", f"[{PAIR_SEP}]")).alias("piece"),
            F.col("__c"),
        )
        .groupBy("piece")
        .agg(F.sum("__c").alias("cnt"))
    )
    return model.select("piece").join(used, "piece", "left").select(
        "piece", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


def unigram_learn(
    df: DataFrame,
    text_col: str,
    n_iters: int = 2,
    seed_multi: int = 200,
    vocab_size: int = 150,
    max_piece_len: int = 3,
) -> DataFrame:
    """Train a unigram-LM tokenizer: ``(piece, piece_count)`` — the
    final vocabulary (every single character plus the top
    ``vocab_size`` multi-character pieces by final E-step count, ties
    to the lexicographically smaller piece) with the counts that
    define it. Integer output — the doubles steering the Viterbi
    decisions never surface, so the driver hash is exact by
    construction.

    Scale: one corpus-sized shuffle (the distinct-word collapse,
    pinned MEMORY_AND_DISK), then per iteration one map-only Viterbi
    scan of the pinned vocabulary, one vocabulary-bounded count
    aggregation, and 1-row totals/map broadcasts. No driver collect
    anywhere — so the pins are LAZY and the whole train executes as
    one job at action time (see the body comment).
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be positive, got {n_iters}")
    from pyspark import StorageLevel

    from ..common.cache_registry import register_pinned

    # LAZY materialization only: unlike bpe_learn and wordpiece_learn
    # (which collect the word counts and merge on the driver), nothing
    # here reads back to the driver — so the EM chain stays ONE lazy
    # plan and the first action computes everything in a single job
    # (measured: eager per-phase counts cost ~5 s of small-job
    # overhead at sf0.1; lazy, the whole train is ~1.5 s). The
    # per-iteration frames take a lazy localCheckpoint, not a plain
    # persist: each smoothing join reads its counts frame twice and
    # each E-step embeds the previous model, so WITHOUT lineage
    # truncation the analyzed plan doubles per reuse (measured ~7000
    # Exchange nodes at n_iters=2 for the encode composition — the
    # optimizer, not execution, became the cost); the checkpoint cuts
    # each iteration's plan at a LogicalRDD while staying lazy.
    vocab = _distinct_words(df, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    register_pinned(vocab)
    model = _seed_model(vocab, seed_multi, max_piece_len).localCheckpoint(
        eager=False
    )
    register_pinned(model)
    counts = None
    for _ in range(n_iters):
        counts = _estep_counts(vocab, model, max_piece_len).localCheckpoint(
            eager=False
        )
        model = _smoothed(counts).localCheckpoint(eager=False)
        # each checkpoint persists its rows on first use; the sweep
        # boundary frees them
        register_pinned(counts)
        register_pinned(model)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    multi = (
        counts.where(F.length("piece") > 1)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= vocab_size)
        .drop("__r")
    )
    final = counts.where(F.length("piece") == 1).unionByName(multi)
    return final.select(
        "piece", F.col("cnt").cast("long").alias("piece_count")
    )


def unigram_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_counts: DataFrame,
    max_piece_len: int = 3,
) -> DataFrame:
    """Segment every document with a TRAINED unigram vocabulary
    (:func:`unigram_learn`'s ``(piece, piece_count)`` output):
    ``(id, n_tokens, tokens)``, tokens space-joined in document order.
    Probabilities are re-smoothed over the PRUNED vocabulary (same
    add-one rule), and out-of-vocabulary single characters price at
    :data:`OOV_P` so unseen text still encodes.

    The bpe_apply shape: each DISTINCT word Viterbi-segments once
    against the 1-row model map, documents reassemble by broadcast
    join of their positioned words against that vocabulary-sized
    table — the text shuffles once for the order-preserving regroup.
    """
    model = _smoothed(
        model_counts.select(
            "piece", F.col("piece_count").alias("cnt")
        )
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), WORD_SPLIT_SPARK)
        ).alias("pos", "w"),
    ).where(F.length("w") >= 1)
    distinct_words = words.select("w").distinct()
    seg = distinct_words.crossJoin(
        F.broadcast(_model_map(model))
    ).select(
        F.col("w").alias("__w"),
        viterbi_seg_expr(
            F.col("w"), F.col("__m"), max_piece_len, oov_fallback=True
        ).alias("__seg"),
    )
    joined = words.join(
        F.broadcast(seg), words["w"] == F.col("__w")
    ).select("id", "pos", F.col("__seg").alias("seg"))
    toks = joined.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            PAIR_SEP,
        ).alias("tokens")
    )
    return toks.select(
        "id",
        F.size(F.split("tokens", f"[{PAIR_SEP}]")).alias("n_tokens"),
        "tokens",
    )


# --------------------------------------------------------------------
# DuckDB twins
# --------------------------------------------------------------------


def _viterbi_fold_sql(
    word_expr: str,
    map_expr: str,
    max_piece_len: int,
    oov_fallback: bool = False,
) -> str:
    """DuckDB twin of :func:`viterbi_seg_expr`: the same DP as a
    ``list_reduce`` whose accumulator IS the state list — the current
    position is ``len(acc)`` (the list starts with the empty-prefix
    state), so the per-position elements are dummies. Same candidate
    set, same ``(-p, n, seg)`` struct-min tie-break (``list_sort``
    then first element), same IEEE multiplication order."""
    w, m = word_expr, map_expr
    look = f"({m}[substring({w}, len(acc) - j + 1, j)])[1]"
    pp = (
        # j = 1 gets the fallback; longer pieces never do
        f"CASE WHEN j = 1 THEN coalesce({look},"
        f" CAST({OOV_P!r} AS DOUBLE)) ELSE {look} END"
        if oov_fallback
        else look
    )
    cand = (
        f"CASE WHEN {pp} IS NOT NULL THEN "
        "{'np': struct_extract(acc[len(acc) - j + 1], 'np') * "
        f"{pp}, "
        "'n': struct_extract(acc[len(acc) - j + 1], 'n') + 1, "
        "'seg': CASE WHEN struct_extract(acc[len(acc) - j + 1], 'n') = 0 "
        f"THEN substring({w}, len(acc) - j + 1, j) "
        f"ELSE struct_extract(acc[len(acc) - j + 1], 'seg') || "
        f"'{PAIR_SEP}' || substring({w}, len(acc) - j + 1, j) END}} "
        "END"
    )
    best = (
        "list_sort(list_filter(list_transform("
        f"range(1, least({max_piece_len}, len(acc)) + 1), j -> {cand}),"
        " c -> c IS NOT NULL))[1]"
    )
    return (
        "struct_extract(list_reduce(list_prepend("
        "[{'np': CAST(-1.0 AS DOUBLE), 'n': 0, 'seg': ''}], "
        f"list_transform(range(1, len({w}) + 1), i -> "
        "[{'np': CAST(0.0 AS DOUBLE), 'n': 0, 'seg': ''}])), "
        f"(acc, x) -> list_append(acc, {best}))[-1], 'seg')"
    )


def _learn_ctes(
    relation: str,
    text_expr: str,
    n_iters: int,
    seed_multi: int,
    max_piece_len: int,
):
    """Shared CTE chain of the training loop: returns ``(ctes,
    final_counts_cte)`` where the final CTE holds ``(piece, cnt)``
    after the last E-step — consumed by both
    :func:`unigram_learn_sql` and :func:`unigram_encode_sql`."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be positive, got {n_iters}")
    L = max_piece_len
    ctes = [
        (
            "w0 AS (SELECT unnest(regexp_split_to_array(trim(lower("
            f"{text_expr})), '{WORD_SPLIT_SQL}')) AS w FROM {relation})"
        ),
        (
            "v0 AS (SELECT w, count(*) AS c FROM w0"
            " WHERE len(w) >= 2 GROUP BY w)"
        ),
        (
            "sub0 AS (SELECT piece, sum(c) AS freq FROM ("
            "SELECT unnest(flatten(list_transform(range(1, len(w) + 1),"
            f" i -> list_transform(range(1, least({L},"
            " len(w) - i + 1) + 1), j -> substring(w, i, j))))) AS piece,"
            " c FROM v0) GROUP BY piece)"
        ),
        (
            "seed0 AS (SELECT piece, freq AS cnt FROM sub0"
            " WHERE len(piece) = 1"
            " UNION ALL SELECT piece, freq AS cnt FROM ("
            "SELECT piece, freq, row_number() OVER (ORDER BY freq DESC,"
            " piece ASC) AS r FROM sub0 WHERE len(piece) > 1)"
            f" WHERE r <= {seed_multi})"
        ),
        _smooth_cte("m0", "seed0"),
    ]
    counts = None
    for t in range(n_iters):
        fold = _viterbi_fold_sql("v.w", "mm.m", L)
        ctes.append(
            f"map{t} AS (SELECT map_from_entries(list((piece, p)))"
            f" AS m FROM m{t})"
        )
        ctes.append(
            f"seg{t} AS (SELECT {fold} AS seg, v.c"
            f" FROM v0 v, map{t} mm)"
        )
        counts = f"cnt{t}"
        ctes.append(
            f"used{t} AS (SELECT piece, sum(c) AS cnt FROM ("
            f"SELECT unnest(string_split(seg, '{PAIR_SEP}')) AS piece, c"
            f" FROM seg{t}) GROUP BY piece)"
        )
        ctes.append(
            f"cnt{t} AS (SELECT m.piece, coalesce(u.cnt, 0) AS cnt"
            f" FROM m{t} m LEFT JOIN used{t} u ON m.piece = u.piece)"
        )
        if t < n_iters - 1:
            ctes.append(_smooth_cte(f"m{t + 1}", f"cnt{t}"))
    return ctes, counts


def _smooth_cte(name: str, counts_cte: str) -> str:
    """``(piece, p)`` with the add-one smoothing rule — the SQL twin
    of :func:`_smoothed` (same single division of the same
    integers)."""
    return (
        f"{name} AS (SELECT piece, (CAST(cnt AS DOUBLE) + 1.0) /"
        " (CAST(t AS DOUBLE) + CAST(k AS DOUBLE)) AS p"
        f" FROM {counts_cte}, (SELECT sum(cnt) AS t, count(*) AS k"
        f" FROM {counts_cte}))"
    )


def _final_cte(counts_cte: str, vocab_size: int) -> str:
    """The pruned final vocabulary ``(piece, cnt)``: every single
    character plus the top ``vocab_size`` multi-character pieces."""
    return (
        f"final AS (SELECT piece, cnt FROM {counts_cte}"
        " WHERE len(piece) = 1"
        " UNION ALL SELECT piece, cnt FROM ("
        "SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC,"
        f" piece ASC) AS r FROM {counts_cte} WHERE len(piece) > 1)"
        f" WHERE r <= {vocab_size})"
    )


def unigram_learn_sql(
    relation: str,
    text_expr: str,
    n_iters: int = 2,
    seed_multi: int = 200,
    vocab_size: int = 150,
    max_piece_len: int = 3,
) -> str:
    """DuckDB replay of :func:`unigram_learn`'s ENTIRE loop in one
    statement — seed substring frequencies, per-iteration 1-row model
    map, Viterbi fold, piece counts, smoothing — unrolled CTEs (the
    kmeans_ctes / bpe_learn_sql pattern)."""
    ctes, counts = _learn_ctes(
        relation, text_expr, n_iters, seed_multi, max_piece_len
    )
    ctes.append(_final_cte(counts, vocab_size))
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT piece, CAST(cnt AS BIGINT) AS piece_count FROM final
"""
    )


def unigram_encode_sql(
    relation: str,
    id_expr: str,
    text_expr: str,
    n_iters: int = 2,
    seed_multi: int = 200,
    vocab_size: int = 150,
    max_piece_len: int = 3,
    out_id: str = "id",
) -> str:
    """DuckDB twin of learn-then-encode: the :func:`_learn_ctes`
    chain trains and prunes the vocabulary, probabilities re-smooth
    over the pruned set, then documents re-split with positional
    unnest, each DISTINCT word Viterbi-segments once against the
    1-row map (OOV single characters priced at :data:`OOV_P`), and
    ``string_agg(..., ORDER BY pos)`` reassembles each document."""
    ctes, counts = _learn_ctes(
        relation, text_expr, n_iters, seed_multi, max_piece_len
    )
    ctes.append(_final_cte(counts, vocab_size))
    ctes.append(_smooth_cte("mfin", "final"))
    ctes.append(
        "mapfin AS (SELECT map_from_entries(list((piece, p))) AS m"
        " FROM mfin)"
    )
    split = (
        f"regexp_split_to_array(trim(lower({text_expr})),"
        f" '{WORD_SPLIT_SQL}')"
    )
    ctes.append(
        f"docw AS (SELECT {id_expr} AS id, unnest({split}) AS w,"
        f" unnest(range(1, len({split}) + 1)) AS pos FROM {relation})"
    )
    fold = _viterbi_fold_sql("v.w", "mm.m", max_piece_len, oov_fallback=True)
    ctes.append(
        "dseg AS (SELECT v.w AS w, "
        f"{fold} AS seg FROM (SELECT DISTINCT w FROM docw"
        " WHERE len(w) >= 1) v, mapfin mm)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id AS {out_id},
       CAST(len(string_split(tokens, '{PAIR_SEP}')) AS INT) AS n_tokens,
       tokens
FROM (SELECT d.id, string_agg(s.seg, '{PAIR_SEP}' ORDER BY d.pos)
        AS tokens
      FROM docw d JOIN dseg s ON d.w = s.w
      WHERE len(d.w) >= 1
      GROUP BY d.id)
"""
    )
