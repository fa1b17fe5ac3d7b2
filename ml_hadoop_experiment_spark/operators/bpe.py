"""Iterative BPE merge training: one vocabulary collect, merges on the driver.

``corpus.bpe_pair_counts`` is ONE trainer iteration's statistic (the
adjacent-pair frequencies the next merge is picked from). This module
runs the actual loop (Sennrich et al., "Neural Machine Translation of
Rare Words with Subword Units", ACL 2016 — public literature): N
times, count adjacent symbol pairs over the weighted vocabulary, pick
the most frequent pair under a TOTAL order (count desc, pair asc),
merge it greedily left-to-right in every word, repeat. The result is
the merge list and the fully segmented vocabulary — the
tokenizer-training story end-to-end.

Execution shape: the corpus stream collapses ONCE in Spark to the
distinct-word ``(word, count)`` table (the classic trainer
optimization — at 100 TB that's millions of rows where the token
stream is trillions, and it is the ONLY corpus-sized shuffle), and
that table is collected to the driver in one action, the way
vocabulary building collects its distinct-value aggregation. The
merge loop then runs in plain Python over the in-memory word counts,
as Sennrich's reference trainer does, and the segmented vocabulary
goes back to Spark as one JSON string literal expanded by ``inline`` —
a JVM-side frame with no RDD lineage, cheap to broadcast. A vocabulary
too large for the driver fails loudly at ``spark.driver.maxResultSize``.

Applying merges to new text (:func:`bpe_apply`) stays a pure
``aggregate`` fold expression — the merge list is one array-of-struct
literal, so the expression size does not grow with the merge count;
no Python in the per-row path, no UDFs.

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

import heapq
import json
from typing import Dict, List, Optional, Tuple

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


def _merge_fold(
    syms: Column, left: Column, right: Column, merged: Column
) -> Column:
    """Greedy left-to-right, non-overlapping merge of ``(left, right)``
    over a symbol array: fold each symbol onto the output, replacing
    the output's last element with ``merged`` whenever (last == left,
    current == right)."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def merge_pair_expr(syms: Column, left: str, right: str) -> Column:
    """One BPE merge applied to a symbol array: greedy left-to-right,
    non-overlapping. ``aaa`` under (a, a) becomes ``[aa, a]``, the
    standard trainer behavior. Pure codegen fold, no UDF; the one-merge
    case of :func:`_merge_list_expr`."""
    return _merge_fold(syms, F.lit(left), F.lit(right), F.lit(left + right))


def _merge_list_expr(
    syms: Column, merges: List[Tuple[str, str, int]]
) -> Column:
    """Every merge of ``merges`` applied in order, as ONE fold over an
    ``array<struct<l, r>>`` literal of the merge list with
    :func:`_merge_fold` nested inside: two ``aggregate`` calls whatever
    the merge count (one nested fold per merge would put N lambdas into
    the plan)."""
    payload = json.dumps([{"l": m[0], "r": m[1]} for m in merges])
    merge_list = F.from_json(
        F.lit(payload), "array<struct<l:string,r:string>>"
    )
    return F.aggregate(
        merge_list,
        syms,
        lambda acc, m: _merge_fold(
            acc, m["l"], m["r"], F.concat(m["l"], m["r"])
        ),
    )


def _merge_word(syms: List[str], left: str, right: str) -> List[str]:
    """:func:`merge_pair_expr` on the driver: the same greedy
    left-to-right, non-overlapping fold over one word's symbols."""
    out: List[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def _pairs(syms: List[str]) -> List[str]:
    """A word's adjacent symbol pairs, each joined by ``PAIR_SEP``."""
    return [left + PAIR_SEP + right for left, right in zip(syms, syms[1:])]


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

    Scale: ONE Spark action — the corpus-sized distinct-word collapse,
    collected as ``(word, count)`` rows. The merge rounds run on the
    driver over that table: pair counts weighted by word count, the
    (count desc, pair asc) order — Python's code-point string order is
    Spark's and DuckDB's UTF-8 byte order — and the same greedy fold as
    :func:`merge_pair_expr`. A pair-to-words index keeps the counts:
    a merge re-folds and re-counts only the words that contain its
    pair. The returned frame is one JSON literal
    expanded by ``inline``: nothing is persisted or checkpointed.

    ``merges_per_round`` batches the selection: each round applies the
    longest PREFIX of the (count desc, pair asc)-sorted candidates
    whose pairs are pairwise symbol-DISJOINT, stopping at the first
    conflict, capped at ``merges_per_round``. Disjoint pairs leave each
    other's counts untouched and their greedy folds commute, so
    applying the prefix in one pass equals applying its members
    sequentially. It saves no Spark jobs (the loop runs none); it cuts
    the driver's scans for the top pairs, one per round. The one
    documented divergence from strict one-at-a-time greedy: a batch
    member's merge can CREATE a pair (containing its new symbol, count
    bounded by that member's count) that strict greedy would have
    ranked before a LATER batch member — the merge SET can differ near
    such ties. The default (1) is the exact Sennrich order and what
    every declared oracle query uses; the SQL twin replays
    ``merges_per_round=1`` only.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    if merges_per_round < 1:
        raise ValueError(
            f"merges_per_round must be positive, got {merges_per_round}"
        )
    rows = (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), WORD_SPLIT_SPARK)
            ).alias("__w")
        )
        .where(F.length("__w") >= 2)
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    vocab = [(r["__w"], int(r["__c"]), list(r["__w"])) for r in rows]
    # weighted pair counts, and the words each pair occurs in: a merge
    # re-counts only the words that contain its pair (Sennrich's
    # reference trainer keeps the same index)
    counts: Dict[str, int] = {}
    where: Dict[str, set] = {}
    for i, (_, c, syms) in enumerate(vocab):
        for pair in _pairs(syms):
            counts[pair] = counts.get(pair, 0) + c
            where.setdefault(pair, set()).add(i)
    merges: List[Tuple[str, str, int]] = []
    while len(merges) < n_merges:
        if not counts:
            raise ValueError(
                f"vocabulary exhausted after {len(merges)} merges"
                f" (requested {n_merges})"
            )
        m = min(merges_per_round, n_merges - len(merges))
        # only pairs at or above the m-th highest count need the sort key
        floor = heapq.nlargest(m, counts.values())[-1]
        best = sorted(
            (kv for kv in counts.items() if kv[1] >= floor),
            key=lambda kv: (-kv[1], kv[0]),
        )[:m]
        batch = _disjoint_prefix(best)
        merges.extend(batch)
        for left, right, _ in batch:
            for i in list(where[left + PAIR_SEP + right]):
                _, c, syms = vocab[i]
                old = _pairs(syms)
                syms[:] = _merge_word(syms, left, right)
                new = _pairs(syms)
                for pair in old:
                    counts[pair] -= c
                for pair in new:
                    counts[pair] = counts.get(pair, 0) + c
                    where.setdefault(pair, set()).add(i)
                for pair in set(old).difference(new):
                    where[pair].discard(i)
                    if not counts[pair]:
                        del counts[pair], where[pair]
    payload = json.dumps(
        [
            {"word": w, "segmentation": PAIR_SEP.join(syms), "word_count": c}
            for w, c, syms in vocab
        ]
    )
    out = df.sparkSession.sql(
        "SELECT inline(from_json(:p, 'array<struct<word:string,"
        "segmentation:string,word_count:bigint>>'))",
        args={"p": payload},
    )
    return out, merges


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
    tokenizer produces on NEW text, as one fold over the merge-list
    literal (:func:`_merge_list_expr`) evaluated only on join misses.
    WITHOUT ``merges`` an OOV word passes through as one unsegmented
    token — correct only for same-corpus application (apply to the
    corpus the vocab was trained on), so cross-corpus callers must pass
    ``merges``. Words shorter than 2 characters carry no vocab row (the
    training filter) and segment to themselves under either path; empty
    strings are dropped.
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
        fallback = F.array_join(
            _merge_list_expr(_char_symbols("w"), merges), PAIR_SEP
        )
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
