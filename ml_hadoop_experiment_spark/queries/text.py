"""Text analysis, quality scoring, and lexical statistics queries.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions import text as TX
from ml_hadoop_experiment_spark.operators.dedup import dedup_exact
from ml_hadoop_experiment_spark.operators.vocabulary import vocabulary_dataframe
from ml_hadoop_experiment_spark.queries._shared import _t
from ml_hadoop_experiment_spark.queries.sampling import _SPLITS


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language id, quality score, token count per document — all codegen."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )


SQL_TEXT_STATS = f"""
SELECT doc_id,
       {TX.token_count_sql('text')} AS n_tokens,
       {TX.bpe_token_count_sql('text')} AS n_bpe_tokens,
       {TX.quality_score_sql('text')} AS quality,
       {TX.lang_id_sql('text')} AS lang_pred
FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling token hash (exact-sequence dedup key)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {TX.doc_fingerprint_sql('text')} AS fingerprint
FROM documents
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (round 5): top-20 documents for a bag-of-terms
    query, the query being the distinct tokens of the smallest-doc_id
    document (a seed-document "more like this" search — fully
    distributed, no driver collect; the ann_topk pattern in text space).
    Per-term contributions round to 6 dp and sum as DECIMAL so the score
    is partition-order independent; ties break on doc_id."""
    from ml_hadoop_experiment_spark.operators.corpus import bm25_topk_docs

    docs = _t(spark, sf_dir, "documents")
    seed = docs.orderBy(F.col("doc_id").asc()).limit(1)
    qterms = seed.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).distinct()
    out = bm25_topk_docs(docs, "doc_id", "text", qterms, k=20)
    return out.withColumnRenamed("id", "doc_id")


def _sql_bm25_topk() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import bm25_topk_sql

    seed_terms = """
  SELECT DISTINCT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
  FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
"""
    return bm25_topk_sql(
        "documents", "doc_id", "text", seed_terms, k=20, out_id="doc_id"
    )


SQL_BM25_TOPK = _sql_bm25_topk()


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: deterministic synthetic PII (email, phone, IP,
    SSN, card — derived from doc_id) is appended to each document and then
    redacted by the codegen regexp_replace chain. The oracle applies the
    SAME patterns through DuckDB's RE2 — a differential test that the two
    regex engines replace identical spans on identical text."""
    from ml_hadoop_experiment_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 card 4111 1111 1111 1111"),
    )
    return docs.select("doc_id", redact_pii(synth).alias("redacted"))


def _sql_pii_redaction() -> str:
    from ml_hadoop_experiment_spark.functions.text import redact_pii_sql

    synth = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or +1 555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.0.' || "
        "CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 ssn 123-45-6789 card 4111 1111 1111 1111'"
    )
    return f"SELECT doc_id, {redact_pii_sql(f'({synth})')} AS redacted FROM documents"


SQL_PII_REDACTION = _sql_pii_redaction()


def q_doc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the canonical training-data shape,
    composed entirely from the engine's own operators: quality filter
    (codegen heuristic score) → exact dedup (16-byte-digest shuffle, keep
    lowest doc_id) → deterministic train/val/test assignment (portable
    entity hash) → per-(split, lang) audit counts. At 100 TB every stage
    before the final audit agg is map-side except the one digest shuffle."""
    from ml_hadoop_experiment_spark.functions.text import quality_score
    from ml_hadoop_experiment_spark.operators.dedup import dedup_exact
    from ml_hadoop_experiment_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    kept = docs.withColumn("q", quality_score(F.col("text"))).where(
        F.col("q") >= 0.5
    )
    deduped = dedup_exact(kept, ["text"], "doc_id")
    split = assign_split(deduped, ["doc_id"], _SPLITS, seed=13, portable=True)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


def _sql_doc_pipeline() -> str:
    from ml_hadoop_experiment_spark.functions.text import quality_score_sql
    from ml_hadoop_experiment_spark.operators.sampling import assign_split_sql

    q = quality_score_sql("text")
    case = assign_split_sql("doc_id", _SPLITS, seed=13)
    return f"""
WITH scored AS (
  SELECT doc_id, text, lang, {q} AS q FROM documents WHERE {q} >= 0.5
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT {case} AS split, lang,
       count(*) AS n_docs,
       round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_quality
FROM deduped
GROUP BY 1, 2
"""


SQL_DOC_PIPELINE = _sql_doc_pipeline()


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained character-trigram language ID (operators/langid):
    Cavnar-Trenkle profiles — top-200 trigrams per labeled language,
    integer rank-weights — trained on the documents table and applied
    back to it resubstitution-style; output is the per-doc
    (truth, prediction, score) frame a routing/per-language-dedup
    stage consumes. Scoring is a broadcast profile join + one integer
    sum per (doc, lang) + one min(struct) argmax — no float anywhere,
    no window on the scoring path."""
    from ml_hadoop_experiment_spark.operators.langid import (
        language_id,
        train_language_profiles,
    )

    docs = _t(spark, sf_dir, "documents")
    profiles = train_language_profiles(
        docs, "lang", "text", profile_size=200
    )
    pred = language_id(docs, "doc_id", "text", profiles)
    return docs.select(
        "doc_id", F.col("lang").alias("lang_true")
    ).join(pred, "doc_id")


def _sql_language_id() -> str:
    from ml_hadoop_experiment_spark.operators.langid import language_id_sql

    return language_id_sql(
        "documents", "documents", "doc_id", "lang", "text",
        profile_size=200,
    )


SQL_LANGUAGE_ID = _sql_language_id()


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus novelty score (operators/novelty.ngram_novelty):
    for each candidate doc (doc_id % 5 == 0), the fraction of its
    distinct 3-shingles absent from the reference corpus (the rest) —
    the redundant-acquisition / contamination screen between
    decontaminate's kill rule and the exact similarity verifiers.
    Same tokenization as the MinHash/jaccard_join pipelines."""
    from ml_hadoop_experiment_spark.operators.novelty import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 5 == 0)
    reference = docs.where(F.col("doc_id") % 5 != 0)
    return ngram_novelty(
        target, reference, "doc_id", "text", shingle_size=3
    ).withColumnRenamed("id", "doc_id")


def _sql_ngram_novelty() -> str:
    from ml_hadoop_experiment_spark.operators.novelty import ngram_novelty_sql

    return ngram_novelty_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
        "doc_id",
        "text",
        shingle_size=3,
        out_id="doc_id",
    )


SQL_NGRAM_NOVELTY = _sql_ngram_novelty()


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-rule quality audit
    (operators/rules.quality_rules_report): removal rate of each of
    six integer-predicate filters (word-count bounds, mean word
    length, symbol/digit ratios via cross-multiplied integer compares,
    stopword signal) plus the any-rule row — the threshold-tuning view
    next to quality_score's single scalar. One map-side scan, one
    single-row combine."""
    from ml_hadoop_experiment_spark.operators.rules import (
        quality_rules_report,
    )

    docs = _t(spark, sf_dir, "documents")
    return quality_rules_report(docs, "text")


def _sql_quality_rules() -> str:
    from ml_hadoop_experiment_spark.operators.rules import (
        quality_rules_report_sql,
    )

    return quality_rules_report_sql("documents", "text")


SQL_QUALITY_RULES = _sql_quality_rules()


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — corpus statistics as a relational
    composition (explode → tf agg → df agg → one-row broadcast → window).
    All aggregations map-side combined; ties break on token text."""
    from ml_hadoop_experiment_spark.operators.corpus import tfidf_topk_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_topk_terms(docs, "doc_id", "text", k=3)
    return out.withColumnRenamed("id", "doc_id")


def _sql_tfidf_topk() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import tfidf_topk_sql

    return tfidf_topk_sql("documents", "doc_id", "text", k=3, out_id="doc_id")


SQL_TFIDF_TOPK = _sql_tfidf_topk()


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio
    (pure expression) and top-bigram coverage (the fraction of the doc
    covered by its most frequent word bigram — relational: bigram explode
    → per-(doc, bigram) count → per-doc max, all map-side combined).
    The two standard mass-repetition filters for LLM corpus curation."""
    from ml_hadoop_experiment_spark.functions.text import distinct_token_ratio

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id",
        distinct_token_ratio(F.col("text")).alias("distinct_ratio"),
        # bigint: F.size is int32, DuckDB len() is BIGINT — the driver's
        # value hash serializes dtypes
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
        ).alias("__bi"),
    )
    bigrams = base.select(
        "doc_id",
        "distinct_ratio",
        "n_tokens",
        F.explode(
            F.transform(F.col("__bi"), lambda s: F.concat_ws(" ", s["0"], s["1"]))
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "distinct_ratio", "n_tokens", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("doc_id", "distinct_ratio", "n_tokens").agg(
        F.round(
            (F.max("c") * 2).cast("double") / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("top_bigram_frac")
    )


SQL_REPETITION_STATS = """
WITH base AS (
  SELECT doc_id,
         {dr} AS distinct_ratio,
         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
bigrams AS (
  SELECT doc_id, distinct_ratio, n_tokens,
         toks[i] || ' ' || toks[i + 1] AS bigram
  FROM base, unnest(range(1, len(toks))) AS t(i)
),
counts AS (
  SELECT doc_id, distinct_ratio, n_tokens, bigram, count(*) AS c
  FROM bigrams GROUP BY 1, 2, 3, 4
)
SELECT doc_id, distinct_ratio, n_tokens,
       round(max(c) * 2.0 / greatest(n_tokens, 1), 6) AS top_bigram_frac
FROM counts GROUP BY 1, 2, 3
"""


def _finalize_repetition_sql() -> str:
    from ml_hadoop_experiment_spark.functions.text import distinct_token_ratio_sql

    return SQL_REPETITION_STATS.replace("{dr}", distinct_token_ratio_sql("text"))


SQL_REPETITION_STATS = _finalize_repetition_sql()


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization audit (functions/pretoken): per doc
    the whitespace-token count, the GPT-2-core regex pretoken count,
    and their ratio (fertility — pretokens per word, the
    budget-planning number a subword tokenizer costs). Pure map
    expressions fused into the scan; the lookahead-free explicit-class
    pattern is shared verbatim by both engines."""
    from ml_hadoop_experiment_spark.functions.pretoken import (
        pretoken_count,
    )
    from ml_hadoop_experiment_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    n_ws = token_count(F.col("text"))
    n_pre = pretoken_count(F.col("text"))
    return docs.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_pre.alias("n_pretokens"),
        F.when(
            n_ws > 0,
            F.round(n_pre.cast("double") / n_ws.cast("double"), 6),
        ).alias("fertility"),
    )


def _sql_token_fertility() -> str:
    from ml_hadoop_experiment_spark.functions.pretoken import (
        pretoken_count_sql,
    )
    from ml_hadoop_experiment_spark.functions.text import token_count_sql

    nw = token_count_sql("text")
    np_ = pretoken_count_sql("text")
    return f"""
SELECT doc_id,
       CAST({nw} AS BIGINT) AS n_ws_tokens,
       {np_} AS n_pretokens,
       CASE WHEN {nw} > 0
            THEN round(CAST({np_} AS DOUBLE) / CAST({nw} AS DOUBLE), 6)
       END AS fertility
FROM documents
"""


SQL_TOKEN_FERTILITY = _sql_token_fertility()


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: 64-token windows with 8-token overlap per
    document (pretraining/RAG splitter). Pure codegen sequence+slice —
    zero Python, zero shuffle."""
    from ml_hadoop_experiment_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap=8
    ).select(F.col("id").alias("doc_id"), "chunk_id", "chunk_text", "n_tokens")


def _sql_doc_chunks() -> str:
    from ml_hadoop_experiment_spark.operators.packing import chunk_documents_sql

    inner = chunk_documents_sql(
        "documents", "doc_id", "text", chunk_tokens=64, overlap=8
    )
    return f"SELECT id AS doc_id, chunk_id, chunk_text, n_tokens FROM ({inner})"


SQL_DOC_CHUNKS = _sql_doc_chunks()


def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM data-prep DAG in one query, composed from the
    engine's own operators: quality filter (codegen score) → exact
    dedup (digest shuffle, keep lowest doc_id) → corpus vocabulary
    (count >= 20) with distributed id assignment → order-preserving
    token-id encoding. Output is the exploded (doc_id, pos, token_id)
    training stream; every pre-encode stage is map-side except the one
    digest shuffle and the vocab aggregations."""
    from ml_hadoop_experiment_spark.functions.text import quality_score
    from ml_hadoop_experiment_spark.operators.dedup import dedup_exact
    from ml_hadoop_experiment_spark.operators.vocabulary import (
        encode_tokens_to_ids,
        vocab_id_table,
        vocabulary_dataframe,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = docs.withColumn("q", quality_score(F.col("text"))).where(
        F.col("q") >= 0.5
    )
    deduped = dedup_exact(kept, ["text"], "doc_id")
    counts = vocabulary_dataframe(
        deduped.withColumn("tokens", F.split(F.col("text"), " ")),
        ["tokens"],
        threshold=20,
    )
    vocab = vocab_id_table(counts)
    enc = encode_tokens_to_ids(deduped, "doc_id", "text", vocab)
    return enc.select("doc_id", F.posexplode("ids").alias("pos", "token_id"))


def _sql_llm_pipeline() -> str:
    from ml_hadoop_experiment_spark.functions.text import quality_score_sql

    q = quality_score_sql("text")
    return f"""
WITH scored AS (
  SELECT doc_id, text FROM documents WHERE {q} >= 0.5
),
deduped AS (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
toks AS (
  SELECT doc_id,
         unnest(range(len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM deduped
),
cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1 HAVING count(*) >= 20),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS tid FROM cnt
)
SELECT t.doc_id, t.pos, CAST(coalesce(v.tid, 0) AS BIGINT) AS token_id
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
"""


SQL_LLM_PIPELINE = _sql_llm_pipeline()


def q_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token-ratio quality signal: per-doc fraction of tokens with
    corpus frequency <= 2 — the exact-integer stand-in for perplexity
    filtering (log-space unigram scores would hit cross-engine float-sum
    divergence). Explode once, count tokens (map-combined), join counts
    back on token, one per-doc agg; text never shuffles."""
    from ml_hadoop_experiment_spark.operators.corpus import rare_token_ratio

    docs = _t(spark, sf_dir, "documents")
    return rare_token_ratio(docs, "doc_id", "text", max_count=2)


def _sql_rare_tokens() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import rare_token_ratio_sql

    return rare_token_ratio_sql("documents", "doc_id", "text", max_count=2)


SQL_RARE_TOKENS = _sql_rare_tokens()


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit (operators/corpus.oov_rate): the OOV
    instance rate of a frozen top-10 vocabulary over the documents
    corpus — what a vocab size buys, checked before freezing (the
    missing gauge between vocab_build, which builds the vocabulary,
    and tokens_to_ids, which applies it). The rank window runs on the
    vocabulary-sized counts frame, never the token stream."""
    from ml_hadoop_experiment_spark.operators.corpus import oov_rate

    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, "text", vocab_size=10)


def _sql_oov_rate() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import oov_rate_sql

    return oov_rate_sql("documents", "text", vocab_size=10)


SQL_OOV_RATE = _sql_oov_rate()


def q_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy under the corpus's own token
    distribution (operators/corpus.unigram_xent) — CCNet-style LM
    quality filtering, made cross-engine exact by rounding each
    distinct token's ln before an order-independent decimal sum."""
    from ml_hadoop_experiment_spark.operators.corpus import unigram_xent

    docs = _t(spark, sf_dir, "documents")
    return unigram_xent(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _sql_unigram_xent() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import unigram_xent_sql

    return unigram_xent_sql("documents", "doc_id", "text", out_id="doc_id")


SQL_UNIGRAM_XENT = _sql_unigram_xent()


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (operators/corpus.pmi_bigrams) — Church-&-Hanks collocation
    detection for tokenizer-vocab and corpus QA; deterministic via a
    fixed integer-count ratio expression and a total (pmi, w1, w2)
    order."""
    from ml_hadoop_experiment_spark.operators.corpus import pmi_bigrams

    docs = _t(spark, sf_dir, "documents")
    return pmi_bigrams(docs, "text", min_count=5, top_k=100)


def _sql_pmi_bigrams() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import pmi_bigrams_sql

    return pmi_bigrams_sql("documents", "text", min_count=5, top_k=100)


SQL_PMI_BIGRAMS = _sql_pmi_bigrams()


def q_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's interpolated
    bigram LM (operators/corpus.bigram_xent) — the word-order-aware
    CCNet-style quality scorer (scrambled text scores high where the
    unigram scorer is blind); decimal-exact via the
    round-then-decimal-sum contract."""
    from ml_hadoop_experiment_spark.operators.corpus import bigram_xent

    docs = _t(spark, sf_dir, "documents")
    return bigram_xent(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _sql_bigram_xent() -> str:
    from ml_hadoop_experiment_spark.operators.corpus import bigram_xent_sql

    return bigram_xent_sql("documents", "doc_id", "text", out_id="doc_id")


SQL_BIGRAM_XENT = _sql_bigram_xent()


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (operators/ccnet.
    perplexity_buckets): score every document with the corpus-unigram
    cross-entropy (the green unigram_xent contract — cross-engine
    exact) and split the corpus into three equal-population buckets at
    the exact 1/3 and 2/3 percentiles (Spark ``percentile`` vs DuckDB
    ``quantile_cont`` — the interpolation parity the quantiles query
    pins), strict-greater rule, ties to the lower bucket. The
    composition CCNet actually ships: downstream recipes mix or cut by
    bucket_label."""
    from ml_hadoop_experiment_spark.operators.ccnet import (
        perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _sql_quality_buckets() -> str:
    from ml_hadoop_experiment_spark.operators.ccnet import (
        perplexity_buckets_sql,
    )

    return perplexity_buckets_sql(
        "documents", "doc_id", "text", out_id="doc_id"
    )


SQL_QUALITY_BUCKETS = _sql_quality_buckets()
