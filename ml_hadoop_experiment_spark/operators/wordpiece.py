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

Execution shape is a Lloyd loop of Spark jobs (``bpe.bpe_learn``
instead collects its word counts once and merges on the driver; this
trainer still runs every round in Spark): the corpus collapses
ONCE to the pinned distinct-word ``(word, count)`` frame (the only
corpus-sized shuffle — at 100 TB the token stream is trillions of rows,
the vocabulary is millions), each merge is two vocabulary-sized
aggregations (pair counts + symbol counts) joined and argmax'd under a
TOTAL order (score desc, pair asc), and only the 1-row argmax ever
reaches the driver. Merging and encoding are pure fold expressions —
no UDF, no Python in the per-row path.

Cross-engine determinism of the score: pair/symbol counts are exact
BIGINTs; the score is ONE IEEE double division of exactly-representable
integers (counts < 2^53, product guarded), so Spark and DuckDB order
candidates identically bit-for-bit.

Reference parity: criteo/ml-hadoop-experiment has no tokenizer surface
(SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import (
    PAIR_SEP,
    WORD_SPLIT_SPARK,
    WORD_SPLIT_SQL,
    _disjoint_prefix,
    _merge_fold,
)

#: BERT-convention continuation marker for word-internal pieces
CONT = "##"

#: the published unknown-token sentinel: a word with any unmatchable
#: position encodes to this single token
UNK = "[UNK]"


def _wp_symbols(col_name: str) -> Column:
    """``array<string>`` initial WordPiece symbols: bare first
    character, ``##``-prefixed continuations."""
    return F.expr(
        f"transform(sequence(1, length({col_name})), i -> CASE WHEN i = 1"
        f" THEN substring({col_name}, i, 1)"
        f" ELSE '{CONT}' || substring({col_name}, i, 1) END)"
    )


def _strip_cont(sym: str) -> str:
    return sym[len(CONT):] if sym.startswith(CONT) else sym


def merge_wp_pair_expr(syms: Column, left: str, right: str) -> Column:
    """One WordPiece merge applied to a symbol array: greedy
    left-to-right, non-overlapping (the ``bpe.merge_pair_expr`` fold);
    the merged symbol is ``left ⊕ strip_cont(right)`` so it inherits
    the left symbol's word-position status."""
    return _merge_fold(
        syms, F.lit(left), F.lit(right), F.lit(left + _strip_cont(right))
    )


def _pair_counts(vocab: DataFrame, syms_col: str) -> DataFrame:
    """(pair, pair_count) over adjacent symbols, weighted by word
    count — vocabulary-sized input, map-combined aggregation."""
    # CASE guard: a fully merged word has size 1, and Spark's
    # sequence(1, 0) would count DOWN ([1, 0]) where DuckDB's
    # range(1, 1) is empty — both engines must yield zero pairs
    pairs = vocab.select(
        F.explode(
            F.expr(
                f"CASE WHEN size({syms_col}) < 2"
                " THEN cast(array() as array<string>)"
                f" ELSE transform(sequence(1, size({syms_col}) - 1),"
                f" j -> concat({syms_col}[j - 1], '{PAIR_SEP}',"
                f" {syms_col}[j])) END"
            )
        ).alias("pair"),
        F.col("__c"),
    )
    return pairs.groupBy("pair").agg(F.sum("__c").alias("pair_count"))


def _symbol_counts(vocab: DataFrame, syms_col: str) -> DataFrame:
    """(sym, sym_count): occurrences of each symbol across the current
    segmentations, weighted by word count — the denominators of the
    likelihood-gain score. Vocabulary-sized, map-combined."""
    return (
        vocab.select(F.explode(F.col(syms_col)).alias("sym"), F.col("__c"))
        .groupBy("sym")
        .agg(F.sum("__c").alias("sym_count"))
    )


def wordpiece_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    merges_per_round: int = 1,
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

    Scale: ONE corpus-sized shuffle (the pinned distinct-word
    collapse); per ROUND two vocabulary-sized aggregations, one
    broadcast-joined argmax, one bounded collect.

    ``merges_per_round`` batches the driver loop exactly as
    :func:`~.bpe.bpe_learn` does (the shared ``_disjoint_prefix``
    rule): the longest conflict-free prefix of the (score desc, pair
    asc)-sorted candidates applies in one pass. Disjoint pairs leave
    each other's pair counts AND symbol counts (hence scores)
    untouched, so APPLICATION commutes — but WordPiece batched
    SELECTION diverges from strict sequential more readily than BPE's:
    a merge's created pairs carry a small new-symbol denominator and
    routinely outscore the next batch member (where BPE's created
    pairs are count-bounded by the merged pair). Batching here is the
    documented-approximate scale mode for large vocabularies; default
    1 is the exact sequential order and what the declared oracle
    queries and the SQL twin replay.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    if merges_per_round < 1:
        raise ValueError(
            f"merges_per_round must be positive, got {merges_per_round}"
        )
    from pyspark import StorageLevel

    from ..common.cache_registry import register_pinned, release

    words = df.select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), WORD_SPLIT_SPARK)
        ).alias("__w")
    ).where(F.length("__w") >= 2)
    vocab = (
        words.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__s", _wp_symbols("__w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    merges: List[Tuple[str, str, int]] = []
    current = vocab
    try:
        while len(merges) < n_merges:
            m = min(merges_per_round, n_merges - len(merges))
            pairs = _pair_counts(current, "__s").select(
                "pair",
                "pair_count",
                F.substring_index("pair", PAIR_SEP, 1).alias("__l"),
                F.substring_index("pair", PAIR_SEP, -1).alias("__r"),
            )
            syms = _symbol_counts(current, "__s")
            scored = (
                pairs.join(
                    F.broadcast(
                        syms.select(
                            F.col("sym").alias("__l"),
                            F.col("sym_count").alias("__cl"),
                        )
                    ),
                    "__l",
                )
                .join(
                    F.broadcast(
                        syms.select(
                            F.col("sym").alias("__r"),
                            F.col("sym_count").alias("__cr"),
                        )
                    ),
                    "__r",
                )
                .select(
                    "pair",
                    "pair_count",
                    # cast EACH count to double BEFORE multiplying: a
                    # long*long product overflows (throws under ANSI)
                    # at web-corpus symbol counts, while the double
                    # product is exact below 2^53 and ordered
                    # identically by DuckDB (which would widen to
                    # HUGEINT) — the cross-engine guard the module
                    # docstring promises
                    (
                        F.col("pair_count").cast("double")
                        / (
                            F.col("__cl").cast("double")
                            * F.col("__cr").cast("double")
                        )
                    ).alias("score"),
                )
            )
            best = (
                scored.orderBy(F.col("score").desc(), F.col("pair").asc())
                .limit(m)
                .collect()
            )
            if not best:
                raise ValueError(
                    f"vocabulary exhausted after {len(merges)} merges"
                    f" (requested {n_merges})"
                )
            batch = _disjoint_prefix(
                [(r["pair"], int(r["pair_count"])) for r in best]
            )
            merges.extend(batch)
            col = F.col("__s")
            for left, right, _ in batch:
                col = merge_wp_pair_expr(col, left, right)
            # eager localCheckpoint, not persist+count: persist keeps
            # the FULL logical lineage, so round r's plan carried r
            # nested merge folds and Catalyst re-analysis grew
            # quadratically with the merge count (measured gaps
            # 0.4 -> 1.9 s across 4 wordpiece rounds, r13 receipts);
            # the checkpoint truncates lineage to the materialized
            # blocks — same rows, O(1) analysis per round (the
            # connected_components precedent, guide §3.3)
            nxt = current.withColumn("__s", col).localCheckpoint()
            release(current)  # frees the checkpoint, not only a cache
            current = nxt
        out = current.select(
            F.col("__w").alias("word"),
            F.array_join("__s", PAIR_SEP).alias("segmentation"),
            F.col("__c").alias("word_count"),
        )
        return out, merges
    finally:
        register_pinned(current)


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
    """DuckDB twin of :func:`merge_wp_pair_expr` (the boxed-VARCHAR[]
    ``list_reduce`` of ``bpe._merge_fold_sql``, with the merged symbol
    stripping the right side's ``##``)."""
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
    with the final CTE holding ``(w, c, s array<varchar>)``."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    ctes = [
        (
            "w0 AS (SELECT unnest(regexp_split_to_array(trim(lower("
            f"{text_expr})), '{WORD_SPLIT_SQL}')) AS w FROM {relation})"
        ),
        (
            "v0 AS (SELECT w, count(*) AS c, list_transform(range(1, "
            "len(w) + 1), i -> CASE WHEN i = 1 THEN substring(w, i, 1) "
            f"ELSE '{CONT}' || substring(w, i, 1) END) AS s "
            "FROM w0 WHERE len(w) >= 2 GROUP BY w)"
        ),
    ]
    for i in range(n_merges):
        ctes.append(
            f"pc{i} AS (SELECT pair, sum(c) AS pair_count FROM ("
            f"SELECT unnest(list_transform(range(1, len(s)), "
            f"j -> s[j] || '{PAIR_SEP}' || s[j + 1])) AS pair, c "
            f"FROM v{i}) GROUP BY pair)"
        )
        ctes.append(
            f"sc{i} AS (SELECT sym, sum(c) AS sym_count FROM ("
            f"SELECT unnest(s) AS sym, c FROM v{i}) GROUP BY sym)"
        )
        # likelihood-gain argmax: ONE double division of exact integer
        # counts on both engines -> bit-identical ordering
        ctes.append(
            f"best{i} AS (SELECT split_part(pair, '{PAIR_SEP}', 1) AS l, "
            f"split_part(pair, '{PAIR_SEP}', 2) AS r FROM pc{i} "
            f"JOIN sc{i} a ON a.sym = split_part(pair, '{PAIR_SEP}', 1) "
            f"JOIN sc{i} b ON b.sym = split_part(pair, '{PAIR_SEP}', 2) "
            "ORDER BY CAST(pair_count AS DOUBLE) / "
            "(CAST(a.sym_count AS DOUBLE) * CAST(b.sym_count AS DOUBLE)) "
            "DESC, pair ASC LIMIT 1)"
        )
        fold = _wp_merge_fold_sql("v.s", "b.l", "b.r")
        ctes.append(
            f"v{i + 1} AS (SELECT v.w, v.c, {fold} AS s "
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
