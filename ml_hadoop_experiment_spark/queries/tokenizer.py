"""Tokenizer training and application queries (BPE, unigram-LM).

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.vocabulary import vocabulary_dataframe
from ml_hadoop_experiment_spark.queries._shared import _materialize_ctes, _t


def q_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → ordered token-id sequences, the LLM-pipeline encode step:
    vocabulary (count >= 50) gets dense ids most-frequent-first via the
    TWO-PHASE distributed rank (no single-partition window), tokens map
    through a broadcast join (OOV → 0), and per-document id arrays are
    reassembled order-preserving. The result is re-exploded to
    (doc_id, pos, token_id) so the oracle checks the exact ORDER the
    array reassembly produced, not just the multiset."""
    from ml_hadoop_experiment_spark.operators.vocabulary import (
        encode_tokens_to_ids,
        vocab_id_table,
        vocabulary_dataframe,
    )

    docs = _t(spark, sf_dir, "documents")
    counts = vocabulary_dataframe(
        docs.withColumn("tokens", F.split(F.col("text"), " ")),
        ["tokens"],
        threshold=50,
    )
    vocab = vocab_id_table(counts)
    enc = encode_tokens_to_ids(docs, "doc_id", "text", vocab)
    return enc.select("doc_id", F.posexplode("ids").alias("pos", "token_id"))


SQL_TOKENS_TO_IDS = """
WITH toks AS (
  SELECT doc_id,
         unnest(range(len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1 HAVING count(*) >= 50),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS tid FROM cnt
)
SELECT t.doc_id, t.pos, CAST(coalesce(v.tid, 0) AS BIGINT) AS token_id
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train-then-apply end-to-end (operators/bpe.bpe_learn
    + bpe_apply): four merges trained on the driver from one collect of
    the documents' word counts, then EVERY document
    segmented into its BPE token stream — (id, n_tokens, tokens) with
    the stream hash-checked whole (the llm_pipeline convention). The
    apply half segments each DISTINCT word exactly once (the trained
    vocab frame IS the segmentation table) and reassembles documents
    by a broadcast join + order-preserving regroup; the oracle replays
    train AND apply in one statement (the unrolled learn CTEs feeding
    a positional-unnest join + ordered string_agg)."""
    from ml_hadoop_experiment_spark.operators.bpe import bpe_apply, bpe_learn

    docs = _t(spark, sf_dir, "documents")
    vocab_seg, merges = bpe_learn(docs, "text", n_merges=4)
    # merges supplied: OOV words (none in same-corpus application, but
    # the oracle twin always carries the fold fallback) segment by the
    # trained merges instead of passing through unsegmented
    return bpe_apply(docs, "doc_id", "text", vocab_seg, merges=merges)


def _sql_bpe_encode() -> str:
    from ml_hadoop_experiment_spark.operators.bpe import bpe_apply_sql

    return bpe_apply_sql("documents", "doc_id", "text", 4)


SQL_BPE_ENCODE = _sql_bpe_encode()


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistic: top-200 adjacent character pairs
    weighted by word frequency — one BPE merge-selection iteration.
    Aggregates over DISTINCT words (the trainer optimization: the pair
    explode runs on vocabulary-sized data, not the token stream);
    deterministic (count desc, pair asc) top-k; codegen end to end."""
    from ml_hadoop_experiment_spark.operators.corpus import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_k=200)


def _sql_bpe_pairs() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import bpe_pair_counts_sql

    return bpe_pair_counts_sql("documents", "text", top_k=200)


SQL_BPE_PAIRS = _sql_bpe_pairs()


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training (operators/bpe.bpe_learn): FOUR
    merge rounds — weighted pair counts over the distinct-word
    vocabulary, argmax under the (count desc, pair asc) total order,
    greedy left-to-right merge fold — returning the WHOLE segmented
    vocabulary (word, segmentation, word_count), so the gate hash
    checks every merge decision on every word. The oracle replays the
    entire loop in one DuckDB statement of unrolled per-iteration CTEs
    (the kmeans_ctes precedent for data-dependent iteration). One Spark
    action total: the distinct-word collapse, collected once; the
    rounds run on the driver over those word counts."""
    from ml_hadoop_experiment_spark.operators.bpe import bpe_learn

    docs = _t(spark, sf_dir, "documents")
    out, _merges = bpe_learn(docs, "text", n_merges=4)
    return out


def _sql_bpe_merges() -> str:
    from ml_hadoop_experiment_spark.operators.bpe import bpe_learn_sql

    return bpe_learn_sql("documents", "text", 4)


SQL_BPE_MERGES = _sql_bpe_merges()


#: one parameter set for the unigram-LM tokenizer pair — the Spark
#: queries and the DuckDB twins must train the identical model
_UNIGRAM_KW = dict(
    n_iters=2, seed_multi=200, vocab_size=150, max_piece_len=3
)


def q_unigram_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram.unigram_learn): substring-frequency seed, TWO
    hard-EM (Viterbi) iterations over the pinned distinct-word frame,
    frequency pruning to the final vocabulary — returning
    (piece, piece_count), integer-exact by construction (the doubles
    steering the Viterbi argmax never surface). The model travels as
    a 1-row map frame end to end — no driver collect anywhere — and
    the oracle replays the ENTIRE loop (seed, per-iteration map,
    Viterbi fold, counts, smoothing) in one unrolled-CTE DuckDB
    statement (the bpe_merges precedent)."""
    from ml_hadoop_experiment_spark.operators.unigram import unigram_learn

    docs = _t(spark, sf_dir, "documents")
    return unigram_learn(docs, "text", **_UNIGRAM_KW)


def _sql_unigram_learn() -> str:
    from ml_hadoop_experiment_spark.operators.unigram import (
        unigram_learn_sql,
    )

    return unigram_learn_sql("documents", "text", **_UNIGRAM_KW)


SQL_UNIGRAM_LEARN = _sql_unigram_learn()


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM learn-then-encode (operators/unigram.unigram_encode):
    the q_unigram_learn model segments every document by Viterbi —
    (doc_id, n_tokens, tokens), tokens in document order. Each
    DISTINCT word segments once against the 1-row model map
    (probabilities re-smoothed over the pruned vocabulary, OOV single
    characters priced at the fixed OOV_P literal) and documents
    reassemble by broadcast join — the bpe_encode shape with a
    different trained segmenter."""
    from ml_hadoop_experiment_spark.operators.unigram import (
        unigram_encode,
        unigram_learn,
    )

    docs = _t(spark, sf_dir, "documents")
    model = unigram_learn(docs, "text", **_UNIGRAM_KW)
    return unigram_encode(
        docs, "doc_id", "text", model,
        max_piece_len=_UNIGRAM_KW["max_piece_len"],
    ).withColumnRenamed("id", "doc_id")


def _sql_unigram_encode() -> str:
    from ml_hadoop_experiment_spark.operators.unigram import (
        unigram_encode_sql,
    )

    return unigram_encode_sql(
        "documents", "doc_id", "text", out_id="doc_id", **_UNIGRAM_KW
    )


SQL_UNIGRAM_ENCODE = _materialize_ctes(_sql_unigram_encode())


# --------------------------------------------------------------------------
# WordPiece (round 12): the third production tokenizer family — likelihood-
# gain merge training + greedy longest-match-first encoding (operators/
# wordpiece.py; Schuster & Nakajima 2012 / BERT's tokenizer).
# --------------------------------------------------------------------------

_WORDPIECE_MERGES = 4
_WORDPIECE_MAX_PIECE = 8


def q_wordpiece_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge training (operators/wordpiece.wordpiece_learn):
    FOUR driver-gated merges picked by LIKELIHOOD GAIN — score(a, b) =
    count(ab) / (count(a) * count(b)), ONE IEEE double division of
    exact integer counts so both engines order candidates identically —
    over ##-marked continuation symbols; returns the WHOLE segmented
    vocabulary (word, segmentation, word_count) so the gate hash checks
    every merge decision on every word. Oracle replays the full loop as
    unrolled CTEs (the bpe_merges precedent). One corpus-sized shuffle
    (the distinct-word collapse) and one collect; the merges run on
    the driver."""
    from ml_hadoop_experiment_spark.operators.wordpiece import (
        wordpiece_learn,
    )

    docs = _t(spark, sf_dir, "documents")
    out, _merges = wordpiece_learn(docs, "text", n_merges=_WORDPIECE_MERGES)
    return out


def _sql_wordpiece_learn() -> str:
    from ml_hadoop_experiment_spark.operators.wordpiece import (
        wordpiece_learn_sql,
    )

    return wordpiece_learn_sql("documents", "text", _WORDPIECE_MERGES)


SQL_WORDPIECE_LEARN = _materialize_ctes(_sql_wordpiece_learn())


def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece learn-then-encode end-to-end
    (operators/wordpiece.wordpiece_encode): the trained piece
    vocabulary encodes EVERY document by greedy longest-match-first
    (NOT the merge history — WordPiece's published encode differs from
    BPE's apply), ## continuation markers intact, unmatchable words as
    [UNK] — (doc_id, n_tokens, tokens) with the stream hash-checked
    whole. Each DISTINCT word segments once against the 1-row broadcast
    piece map; documents reassemble by broadcast join +
    order-preserving regroup (the bpe_encode shape)."""
    from ml_hadoop_experiment_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_learn,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab_seg, _merges = wordpiece_learn(
        docs, "text", n_merges=_WORDPIECE_MERGES
    )
    return wordpiece_encode(
        docs, "doc_id", "text", vocab_seg,
        max_piece_len=_WORDPIECE_MAX_PIECE,
    ).withColumnRenamed("id", "doc_id")


def _sql_wordpiece_encode() -> str:
    from ml_hadoop_experiment_spark.operators.wordpiece import (
        wordpiece_encode_sql,
    )

    return wordpiece_encode_sql(
        "documents", "doc_id", "text", _WORDPIECE_MERGES,
        max_piece_len=_WORDPIECE_MAX_PIECE, out_id="doc_id",
    )


SQL_WORDPIECE_ENCODE = _materialize_ctes(_sql_wordpiece_encode())
