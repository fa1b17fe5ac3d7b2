"""WordPiece tokenizer training + longest-match encoding.

The third production tokenizer family beside BPE (``bpe.py``) and
unigram-LM (``unigram.py``) — Schuster & Nakajima, "Japanese and Korean
Voice Search", ICASSP 2012, as popularized by BERT (Devlin et al. 2019)
and implemented by the HuggingFace ``tokenizers`` WordPiece trainer
(public literature / public code patterns only):

- **Training** is greedy pair merging like BPE, but the merge is chosen
  by LIKELIHOOD GAIN, not raw frequency: ``score(a, b) =
  count(ab) / (count(a) * count(b))`` — merging the pair whose joint
  occurrence is most surprising under independence maximizes the
  unigram-LM likelihood delta per merge.
- **Word-internal continuation symbols carry the ``##`` prefix** (the
  BERT convention): a word's first character is bare, every subsequent
  character is ``##c``; merging ``(x, ##y)`` produces ``x ⊕ y`` keeping
  the left symbol's prefix status.
- **Encoding** is NOT the merge history replayed (that is BPE's apply):
  WordPiece encodes by GREEDY LONGEST-MATCH-FIRST against the final
  piece vocabulary, and a word with any unmatchable position encodes to
  a single ``[UNK]`` token — both per the published algorithm.

Execution shape is ``bpe.bpe_learn``'s: the corpus collapses ONCE to
the distinct-word ``(word, count)`` table (the only corpus-sized
shuffle — at 100 TB the token stream is trillions of rows, the
vocabulary is millions), collected to the driver in one action, and
the merge rounds run there in the trainer loop both families share
(``bpe._train_merges``). Each round picks the pair with the best
likelihood gain under a TOTAL order (score desc, pair asc); the
segmented vocabulary returns as one literal frame. Encoding is a pure
fold expression — no UDF, no Python in the per-row path.

Cross-engine determinism of the score: pair/symbol counts are exact
integers; the score is ONE IEEE double division of the counts cast to
double, the symbol counts multiplied as doubles — the expression the
DuckDB twin orders by, so the driver and the twin rank candidates
identically bit-for-bit.

Reference parity: criteo/ml-hadoop-experiment has no tokenizer surface
(SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import (
    PAIR_SEP,
    WORD_SPLIT_SPARK,
    WORD_SPLIT_SQL,
    _distinct_words,
    _train_merges,
)

#: BERT-convention continuation marker for word-internal pieces
CONT = "##"

#: the published unknown-token sentinel: a word with any unmatchable
#: position encodes to this single token
UNK = "[UNK]"


def _merged(left: str, right: str) -> str:
    """The WordPiece merged symbol: ``left`` plus ``right`` without its
    ``##``, so it inherits the left symbol's word-position status
    (``t ##h`` -> ``th``, ``##a ##b`` -> ``##ab``)."""
    return left + (right[len(CONT):] if right.startswith(CONT) else right)


def _best_gain(counts: Dict[str, int], sym_counts: Dict[str, int]) -> str:
    """WordPiece's pick: the highest likelihood gain
    ``count(ab) / (count(a) * count(b))``, ties to the smallest pair
    string. Each count is cast to float BEFORE multiplying — the IEEE
    expression the DuckDB twin orders by (Python's exact integer
    product would round differently above 2^53)."""

    def key(pair: str) -> Tuple[float, str]:
        left, right = pair.split(PAIR_SEP, 1)
        score = float(counts[pair]) / (
            float(sym_counts[left]) * float(sym_counts[right])
        )
        return -score, pair

    return min(counts, key=key)


def wordpiece_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int,
) -> Tuple[DataFrame, List[Tuple[str, str, int]]]:
    """Train ``n_merges`` WordPiece merges; returns ``(segmented_vocab,
    merges)`` where ``segmented_vocab`` is ``(word, segmentation,
    word_count)`` — every distinct word with its post-merge symbols
    space-joined, continuations carrying ``##`` — and ``merges`` is the
    ordered ``[(left, right, pair_count)]`` list.

    Tokenization is the shared trainer convention (``bpe.bpe_learn``):
    split ``trim(lower(text))`` on the explicit whitespace class, keep
    words of length >= 2. Raises when the vocabulary exhausts adjacent
    pairs before ``n_merges`` (the SQL twin unrolls exactly
    ``n_merges`` iterations — a short corpus must fail loudly).

    Scale: ONE Spark action — the distinct-word collapse, collected as
    ``(word, count)`` rows. The merge rounds run on the driver in
    ``bpe._train_merges`` with :func:`_best_gain` as the pick and
    :func:`_merged` as the merged symbol; the returned frame is one
    JSON literal expanded by ``inline``: no cache, no RDD lineage.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    rows = _distinct_words(df, text_col).collect()
    vocab = [
        (w, int(c), [w[0]] + [CONT + ch for ch in w[1:]]) for w, c in rows
    ]
    return _train_merges(
        df.sparkSession, vocab, n_merges, _merged, _best_gain
    )


def greedy_seg_expr(
    word: Column, piece_map: Column, max_piece_len: int
) -> Column:
    """Greedy longest-match-first WordPiece segmentation of one word as
    a pure fold expression: at each position try pieces of length
    ``max_piece_len`` down to 1 (continuations looked up with the
    ``##`` prefix), emit the matched KEY (``##`` included — the BERT
    output convention), advance by the match length; any unmatchable
    position fails the whole word to :data:`UNK`.

    ``max_piece_len`` caps the match window on BOTH engines (the SQL
    twin is generated before training, so the cap is part of the
    operator contract, not a trained quantity): a trained piece longer
    than the cap is dead weight but segmentation stays engine-identical.

    The fold state ``struct<pos, seg, ok>`` is never wholesale-NULL
    (failure is in-band via ``ok`` — the unigram.viterbi_seg_expr
    Spark 4.1 codegen lesson). ``length(word)`` iterations bound the
    scan: every match consumes >= 1 character.
    """
    init = F.struct(
        F.lit(1).alias("pos"),
        F.lit("").alias("seg"),
        F.lit(True).alias("ok"),
    )

    def step(st: Column, _i: Column) -> Column:
        # no-match fallback: position survives, ok drops
        result = F.struct(
            st["pos"].alias("pos"), st["seg"].alias("seg"),
            F.lit(False).alias("ok"),
        )
        for j in range(1, max_piece_len + 1):  # wrap upward: longest wins
            piece = word.substr(st["pos"], F.lit(j))
            key = F.when(st["pos"] == 1, piece).otherwise(
                F.concat(F.lit(CONT), piece)
            )
            cond = (
                (st["pos"] + F.lit(j - 1) <= F.length(word))
                & F.map_contains_key(piece_map, key)
            )
            new = F.struct(
                (st["pos"] + F.lit(j)).alias("pos"),
                F.when(st["seg"] == "", key)
                .otherwise(F.concat(st["seg"], F.lit(PAIR_SEP), key))
                .alias("seg"),
                F.lit(True).alias("ok"),
            )
            result = F.when(cond, new).otherwise(result)
        # done (pos past end) or already failed: state passes through
        return F.when(
            (~st["ok"]) | (st["pos"] > F.length(word)), st
        ).otherwise(result)

    folded = F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step)
    return F.when(folded["ok"], folded["seg"]).otherwise(F.lit(UNK))


def wordpiece_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_seg: DataFrame,
    max_piece_len: int = 8,
) -> DataFrame:
    """Encode every document with a TRAINED WordPiece vocabulary
    (:func:`wordpiece_learn`'s segmented-vocab frame): ``(id, n_tokens,
    tokens)``, tokens space-joined in document order, ``##`` markers
    intact, unmatchable words as :data:`UNK`.

    The piece vocabulary is the distinct symbol set of the trained
    segmentations, folded to a 1-row ``map<piece, 1>`` and broadcast
    (vocabulary-bounded — the ``unigram_encode`` model-map precedent).
    Each DISTINCT word greedy-segments exactly once; documents
    reassemble by broadcast join + order-preserving regroup (the
    ``bpe_apply`` shape).
    """
    pieces = vocab_seg.select(
        F.explode(F.split("segmentation", f"[{PAIR_SEP}]")).alias("piece")
    ).distinct()
    piece_map = pieces.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.lit(1)))
        ).alias("__m")
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), WORD_SPLIT_SPARK)
        ).alias("pos", "w"),
    ).where(F.length("w") >= 1)
    seg = (
        words.select("w")
        .distinct()
        .crossJoin(F.broadcast(piece_map))
        .select(
            F.col("w").alias("__w"),
            greedy_seg_expr(F.col("w"), F.col("__m"), max_piece_len).alias(
                "__seg"
            ),
        )
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


# --------------------------------------------------------------------------
# DuckDB twins — the bpe_learn_sql / unigram_encode_sql unrolled-CTE pattern
# --------------------------------------------------------------------------


def _wp_merge_fold_sql(syms_expr: str, left: str, right: str) -> str:
    """DuckDB twin of the WordPiece merge fold (the boxed-VARCHAR[]
    ``list_reduce`` of ``bpe._merge_fold_sql``, with the merged symbol
    stripping the right side's ``##`` as :func:`_merged` does)."""
    merged = (
        f"acc[-1] || CASE WHEN starts_with(x[1], '{CONT}')"
        f" THEN substring(x[1], {len(CONT) + 1}) ELSE x[1] END"
    )
    return (
        f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
        f"list_transform({syms_expr}, e -> [e])), "
        f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {left} "
        f"AND x[1] = {right} "
        f"THEN list_append(acc[1:len(acc) - 1], {merged}) "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _learn_ctes(relation: str, text_expr: str, n_merges: int):
    """Shared training CTE chain: returns ``(ctes, final_vocab_cte)``
    with the final CTE holding ``(w, c, s array<varchar>)``. Every head
    is ``AS MATERIALIZED``: DuckDB inlines a plain CTE at each
    reference, and round i reads ``v{i}`` through ``pc{i}``, ``sc{i}``
    twice and ``v{i+1}``, so an unhinted chain grows about 4x per
    merge."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    ctes = [
        (
            "w0 AS MATERIALIZED (SELECT unnest(regexp_split_to_array(trim(lower("
            f"{text_expr})), '{WORD_SPLIT_SQL}')) AS w FROM {relation})"
        ),
        (
            "v0 AS MATERIALIZED (SELECT w, count(*) AS c, list_transform(range(1, "
            "len(w) + 1), i -> CASE WHEN i = 1 THEN substring(w, i, 1) "
            f"ELSE '{CONT}' || substring(w, i, 1) END) AS s "
            "FROM w0 WHERE len(w) >= 2 GROUP BY w)"
        ),
    ]
    for i in range(n_merges):
        ctes.append(
            f"pc{i} AS MATERIALIZED (SELECT pair, sum(c) AS pair_count FROM ("
            f"SELECT unnest(list_transform(range(1, len(s)), "
            f"j -> s[j] || '{PAIR_SEP}' || s[j + 1])) AS pair, c "
            f"FROM v{i}) GROUP BY pair)"
        )
        ctes.append(
            f"sc{i} AS MATERIALIZED (SELECT sym, sum(c) AS sym_count FROM ("
            f"SELECT unnest(s) AS sym, c FROM v{i}) GROUP BY sym)"
        )
        # likelihood-gain argmax: ONE double division of exact integer
        # counts on both engines -> bit-identical ordering
        ctes.append(
            f"best{i} AS MATERIALIZED (SELECT split_part(pair, '{PAIR_SEP}', 1) AS l, "
            f"split_part(pair, '{PAIR_SEP}', 2) AS r FROM pc{i} "
            f"JOIN sc{i} a ON a.sym = split_part(pair, '{PAIR_SEP}', 1) "
            f"JOIN sc{i} b ON b.sym = split_part(pair, '{PAIR_SEP}', 2) "
            "ORDER BY CAST(pair_count AS DOUBLE) / "
            "(CAST(a.sym_count AS DOUBLE) * CAST(b.sym_count AS DOUBLE)) "
            "DESC, pair ASC LIMIT 1)"
        )
        fold = _wp_merge_fold_sql("v.s", "b.l", "b.r")
        ctes.append(
            f"v{i + 1} AS MATERIALIZED (SELECT v.w, v.c, {fold} AS s "
            f"FROM v{i} v, best{i} b)"
        )
    return ctes, f"v{n_merges}"


def wordpiece_learn_sql(relation: str, text_expr: str, n_merges: int) -> str:
    """DuckDB replay of :func:`wordpiece_learn`'s ENTIRE loop in one
    statement (unrolled per-iteration CTEs: pair counts, symbol counts,
    likelihood-gain 1-row argmax, merge fold)."""
    ctes, final = _learn_ctes(relation, text_expr, n_merges)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w AS word, array_to_string(s, '{PAIR_SEP}') AS segmentation,
       CAST(c AS BIGINT) AS word_count
FROM {final}
"""
    )


def _greedy_fold_sql(word: str, pieces: str, max_piece_len: int) -> str:
    """DuckDB twin of :func:`greedy_seg_expr`: ``list_reduce`` fold,
    state boxed as ``[pos::VARCHAR, seg, ok]`` (the boxed-VARCHAR[]
    accumulator precedent of ``bpe._merge_fold_sql``), piece membership
    via ``list_contains`` against the 1-row trained piece list."""
    pos = "CAST(acc[1] AS INT)"
    arms = []
    for j in range(max_piece_len, 0, -1):  # longest-first
        key = (
            f"CASE WHEN acc[1] = '1' THEN substring({word}, {pos}, {j}) "
            f"ELSE '{CONT}' || substring({word}, {pos}, {j}) END"
        )
        seg = (
            f"CASE WHEN acc[2] = '' THEN {key} "
            f"ELSE acc[2] || '{PAIR_SEP}' || {key} END"
        )
        arms.append(
            f"WHEN {pos} + {j - 1} <= len({word}) "
            f"AND list_contains({pieces}, {key}) "
            f"THEN [CAST({pos} + {j} AS VARCHAR), {seg}, '1']"
        )
    arms_sql = " ".join(arms)
    return (
        f"list_reduce(list_prepend(['1', '', '1'], "
        f"list_transform(range(1, len({word}) + 1), e -> "
        f"['', '', ''])), "
        f"(acc, x) -> CASE WHEN acc[3] = '0' OR {pos} > len({word}) "
        f"THEN acc {arms_sql} "
        f"ELSE [acc[1], acc[2], '0'] END)"
    )


def wordpiece_encode_sql(
    relation: str,
    id_expr: str,
    text_expr: str,
    n_merges: int,
    max_piece_len: int = 8,
    out_id: str = "id",
) -> str:
    """DuckDB twin of learn-then-encode: the :func:`_learn_ctes` chain
    trains the vocabulary, the distinct symbol set folds to one LIST
    row, every positioned word greedy-segments via
    :func:`_greedy_fold_sql`, and ``string_agg(..., ORDER BY pos)``
    reassembles documents."""
    ctes, final = _learn_ctes(relation, text_expr, n_merges)
    ctes.append(
        f"pieces AS (SELECT list(DISTINCT sym) AS ps FROM ("
        f"SELECT unnest(s) AS sym FROM {final}))"
    )
    split = (
        f"regexp_split_to_array(trim(lower({text_expr})),"
        f" '{WORD_SPLIT_SQL}')"
    )
    ctes.append(
        "docw AS (SELECT "
        f"{id_expr} AS id, "
        f"unnest({split}) AS w, "
        f"unnest(range(1, len({split}) + 1)) AS pos "
        f"FROM {relation})"
    )
    fold = _greedy_fold_sql("d.w", "p.ps", max_piece_len)
    ctes.append(
        "docseg AS (SELECT d.id, d.pos, "
        f"CASE WHEN fold[3] = '1' THEN fold[2] ELSE '{UNK}' END AS seg "
        f"FROM (SELECT d.id, d.pos, {fold} AS fold "
        "FROM docw d, pieces p WHERE len(d.w) >= 1) AS d(id, pos, fold))"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id AS {out_id},
       CAST(len(string_split(tokens, '{PAIR_SEP}')) AS INT) AS n_tokens,
       tokens
FROM (SELECT id, string_agg(seg, '{PAIR_SEP}' ORDER BY pos) AS tokens
      FROM docseg GROUP BY id)
"""
    )
