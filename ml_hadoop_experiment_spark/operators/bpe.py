"""Iterative BPE merge training — the driver-gated N-merge loop.

``corpus.bpe_pair_counts`` is ONE trainer iteration's statistic (the
adjacent-pair frequencies the next merge is picked from). This module
runs the actual loop (Sennrich et al., "Neural Machine Translation of
Rare Words with Subword Units", ACL 2016 — public literature): N
times, count adjacent symbol pairs over the weighted vocabulary, pick
the most frequent pair under a TOTAL order (count desc, pair asc),
merge it greedily left-to-right in every word, repeat. The result is
the merge list and the fully segmented vocabulary — the
tokenizer-training story end-to-end.

Same execution shape as the oracle'd Lloyd loop
(``clustering.kmeans_lloyd``): the corpus stream collapses ONCE to the
distinct-word ``(word, count)`` table (the classic trainer
optimization — at 100 TB that's millions of rows where the token
stream is trillions, and it is the ONLY corpus-sized shuffle), the
frame is pinned, and each iteration is one vocabulary-sized
aggregation whose single-row argmax is the only thing the driver ever
holds (N pairs total). Merging is a pure ``aggregate`` fold expression
— no Python in the per-row path, no UDFs.

The ENTIRE loop replays in DuckDB (:func:`bpe_learn_sql`): unrolled
per-iteration CTE chains — pair counts, a 1-row ``best_i``, the same
greedy left-to-right ``list_reduce`` fold — exactly the
``kmeans_ctes`` precedent for data-dependent iterative state inside
one SQL statement.

It shares corpus.py's tokenization CONVENTION (split
``trim(lower(text))`` on ``\\s+``, keep words of length >= 2) by
construction.

Reference parity: criteo/ml-hadoop-experiment has no tokenizer surface
(SURVEY.md §2) — north-star extension for LLM data pipelines.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: symbols never contain whitespace (words are split on whitespace), so
#: a single space joins a pair into one string both engines order and
#: split identically
PAIR_SEP = " "

#: word-split regex with the whitespace class spelled explicitly on both
#: engines — Java's \s includes \x0B where RE2's (DuckDB) does not, the
#: same cross-engine divergence operators/rules.py pins down
WORD_SPLIT_SPARK = "[ \t\n\x0B\f\r]+"
WORD_SPLIT_SQL = "[ \\t\\n\\x0B\\f\\r]+"


def _char_symbols(col_name: str) -> Column:
    """``array<string>`` of single characters — the iteration-0 symbol
    sequence. Spelled as a substring transform (not ``split(w, '')``)
    so the Spark and DuckDB twins share one construction."""
    return F.expr(
        f"transform(sequence(1, length({col_name})),"
        f" i -> substring({col_name}, i, 1))"
    )


def merge_pair_expr(syms: Column, left: str, right: str) -> Column:
    """One BPE merge applied to a symbol array: greedy left-to-right,
    non-overlapping — fold each symbol onto the output, replacing the
    output's last element with ``left || right`` whenever (last ==
    left, current == right). ``aaa`` under (a, a) becomes ``[aa, a]``,
    the standard trainer behavior. Pure codegen fold, no UDF."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _disjoint_prefix(
    cands: List[Tuple[str, int]],
) -> List[Tuple[str, str, int]]:
    """Longest prefix of the sorted ``(pair, count)`` candidates whose
    pairs share no symbol, STOPPING at the first conflict (skipping
    past one would reorder the greedy sequence): the safe batch whose
    one-pass application equals sequential application. Returns
    ``[(left, right, count)]`` in selection order."""
    batch: List[Tuple[str, str, int]] = []
    used: set = set()
    for pair, count in cands:
        left, right = pair.split(PAIR_SEP, 1)
        if batch and ({left, right} & used):
            break
        batch.append((left, right, count))
        used |= {left, right}
    return batch


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


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    merges_per_round: int = 1,
) -> Tuple[DataFrame, List[Tuple[str, str, int]]]:
    """Train ``n_merges`` BPE merges on the corpus; returns
    ``(segmented_vocab, merges)`` where ``segmented_vocab`` is
    ``(word, segmentation, word_count)`` — every distinct word with its
    symbols after ALL merges, space-joined (the whole-vocabulary check
    the driver gate hashes) — and ``merges`` is the ordered
    ``[(left, right, pair_count)]`` list (all the state a tokenizer
    needs to segment new text).

    Tokenization is ``corpus.bpe_pair_counts``'s: split
    ``trim(lower(text))`` on whitespace, keep words of length >= 2.
    Raises when the vocabulary runs out of adjacent pairs before
    ``n_merges`` (the SQL twin unrolls exactly ``n_merges``
    iterations, so a short corpus must fail loudly, not diverge).

    Scale: ONE corpus-sized shuffle (the distinct-word collapse, pinned
    vocabulary-sized), then per ROUND one aggregation over the vocab
    frame and one bounded collect; each round's symbol column is
    re-materialized into the pin so plans stay shallow (the Lloyd
    pattern — no expression stacking across iterations).

    ``merges_per_round`` batches the driver loop (round 13 — a
    production 30k-merge vocab must not be 30k Spark jobs): each round
    applies the longest PREFIX of the (count desc, pair asc)-sorted
    candidates whose pairs are pairwise symbol-DISJOINT, stopping at
    the first conflict, capped at ``merges_per_round``. Disjoint pairs
    leave each other's counts untouched and their greedy folds
    commute, so applying the prefix in one pass equals applying its
    members sequentially. The one documented divergence from strict
    one-at-a-time greedy: a batch member's merge can CREATE a pair
    (containing its new symbol, count bounded by that member's count)
    that strict greedy would have ranked before a LATER batch member —
    the merge SET can differ near such ties. The default (1) is the
    exact Sennrich order and what every declared oracle query uses;
    the SQL twin replays ``merges_per_round=1`` only.
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
        .withColumn("__s", _char_symbols("__w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    merges: List[Tuple[str, str, int]] = []
    current = vocab
    try:
        while len(merges) < n_merges:
            m = min(merges_per_round, n_merges - len(merges))
            best = (
                _pair_counts(current, "__s")
                .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
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
                col = merge_pair_expr(col, left, right)
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
        # the caller's frame still reads from `current`'s pin; register
        # it so sweep drivers reclaim it between queries
        register_pinned(current)


def _merge_fold_sql(syms_expr: str, left_expr: str, right_expr: str) -> str:
    """DuckDB twin of :func:`merge_pair_expr`: same greedy
    left-to-right fold. DuckDB's ``list_reduce`` keeps ONE element
    type, so the VARCHAR symbols are boxed to single-element VARCHAR[]
    (``x[1]`` unboxes) to share the accumulator's list type — the
    list-typed analogue of the repo's 0.0-prepended double folds."""
    return (
        f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
        f"list_transform({syms_expr}, e -> [e])), "
        f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {left_expr} "
        f"AND x[1] = {right_expr} "
        f"THEN list_append(acc[1:len(acc) - 1], acc[-1] || x[1]) "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _learn_ctes(relation: str, text_expr: str, n_merges: int):
    """The shared CTE chain of the training loop: returns
    ``(ctes, final_vocab_cte)`` where the final CTE holds the fully
    segmented vocabulary ``(w, c, s array<varchar>)`` — consumed by
    both :func:`bpe_learn_sql` and :func:`bpe_apply_sql`."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    ctes = [
        (
            "w0 AS (SELECT unnest(regexp_split_to_array(trim(lower("
            f"{text_expr})), '{WORD_SPLIT_SQL}')) AS w FROM {relation})"
        ),
        (
            "v0 AS (SELECT w, count(*) AS c, list_transform(range(1, "
            "len(w) + 1), i -> substring(w, i, 1)) AS s "
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
            f"best{i} AS (SELECT split_part(pair, '{PAIR_SEP}', 1) AS l, "
            f"split_part(pair, '{PAIR_SEP}', 2) AS r FROM pc{i} "
            f"ORDER BY pair_count DESC, pair ASC LIMIT 1)"
        )
        fold = _merge_fold_sql("v.s", "b.l", "b.r")
        ctes.append(
            f"v{i + 1} AS (SELECT v.w, v.c, {fold} AS s "
            f"FROM v{i} v, best{i} b)"
        )
    return ctes, f"v{n_merges}"


def bpe_learn_sql(relation: str, text_expr: str, n_merges: int) -> str:
    """DuckDB replay of :func:`bpe_learn`'s ENTIRE loop in one
    statement: the distinct-word vocabulary, then per iteration a pair
    aggregation, a 1-row ``best_i`` under the same (count desc, pair
    asc) total order, and the same greedy merge fold correlated on
    ``best_i`` — the ``kmeans_ctes`` pattern for data-dependent
    iterative state. Final projection is the whole segmented
    vocabulary."""
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


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_seg: DataFrame,
    merges: Optional[List[Tuple[str, str, int]]] = None,
) -> DataFrame:
    """Segment every document with a TRAINED vocabulary — the apply
    half of the tokenizer story (:func:`bpe_learn` is the train half):
    ``(id, n_tokens, tokens)`` where ``tokens`` is the document's
    full BPE token stream space-joined in document order.

    The classic trainer-side optimization applies to encoding too:
    each DISTINCT word is segmented once (it already was, in
    ``vocab_seg`` = ``bpe_learn``'s output frame), and documents
    reassemble by a broadcast join of their positioned words against
    that vocabulary-sized table — the text itself shuffles once for
    the order-preserving regroup (the ``tokens_to_ids`` pattern).

    Out-of-vocabulary words: pass ``merges`` (``bpe_learn``'s ordered
    merge list) and unseen words are segmented by applying the trained
    merges to their character arrays inline — exactly what the trained
    tokenizer produces on NEW text, as a pure fold-expression chain
    evaluated only on join misses. WITHOUT ``merges`` an OOV word
    passes through as one unsegmented token — correct only for
    same-corpus application (apply to the corpus the vocab was trained
    on), so cross-corpus callers must pass ``merges``. Words shorter
    than 2 characters carry no vocab row (the training filter) and
    segment to themselves under either path; empty strings are
    dropped.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), WORD_SPLIT_SPARK)
        ).alias("pos", "w"),
    ).where(F.length("w") >= 1)
    seg = vocab_seg.select(
        F.col("word").alias("__w"), F.col("segmentation").alias("__seg")
    )
    if merges is not None:
        syms = _char_symbols("w")
        for left, right, *_ in merges:
            syms = merge_pair_expr(syms, left, right)
        fallback = F.array_join(syms, PAIR_SEP)
    else:
        fallback = F.col("w")
    joined = words.join(
        F.broadcast(seg), words["w"] == F.col("__w"), "left"
    ).select("id", "pos", F.coalesce("__seg", fallback).alias("seg"))
    toks = (
        joined.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                PAIR_SEP,
            ).alias("tokens")
        )
    )
    return toks.select(
        "id",
        F.size(F.split("tokens", f"[{PAIR_SEP}]")).alias("n_tokens"),
        "tokens",
    )


def bpe_apply_sql(
    relation: str, id_expr: str, text_expr: str, n_merges: int
) -> str:
    """DuckDB twin of learn-then-apply: the :func:`_learn_ctes` chain
    trains the segmented vocabulary, then documents re-split with
    zipped positional unnest, LEFT JOIN the vocabulary, and
    ``string_agg(..., ORDER BY pos)`` reassembles each document's
    token stream in order. Out-of-vocabulary words fall back to the
    trained merge folds applied inline (nested ``list_reduce`` chain
    correlated on the ``best_i`` rows) — the twin of
    :func:`bpe_apply` WITH ``merges`` supplied."""
    ctes, final = _learn_ctes(relation, text_expr, n_merges)
    split = f"regexp_split_to_array(trim(lower({text_expr})), '{WORD_SPLIT_SQL}')"  # noqa: E501
    ctes.append(
        "docw AS (SELECT "
        f"{id_expr} AS id, "
        f"unnest({split}) AS w, "
        f"unnest(range(1, len({split}) + 1)) AS pos "
        f"FROM {relation})"
    )
    fold = (
        "list_transform(range(1, len(d.w) + 1), i -> substring(d.w, i, 1))"
    )
    for i in range(n_merges):
        fold = _merge_fold_sql(fold, f"b{i}.l", f"b{i}.r")
    best_joins = "".join(f", best{i} b{i}" for i in range(n_merges))
    ctes.append(
        "docseg AS (SELECT d.id, d.pos, coalesce("
        f"array_to_string(v.s, '{PAIR_SEP}'), "
        f"array_to_string({fold}, '{PAIR_SEP}')) AS seg "
        f"FROM docw d LEFT JOIN {final} v ON d.w = v.w{best_joins} "
        "WHERE len(d.w) >= 1)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, CAST(len(string_split(tokens, '{PAIR_SEP}')) AS INT)
         AS n_tokens, tokens
FROM (SELECT id, string_agg(seg, '{PAIR_SEP}' ORDER BY pos) AS tokens
      FROM docseg GROUP BY id)
"""
    )
