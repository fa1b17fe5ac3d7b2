"""Vocabulary (distinct-with-threshold) aggregation, DataFrame-native.

Parity target: reference ``tensorflow/vocabulary.py`` — semantics preserved,
execution re-designed for Spark:

- reference builds ``((key, value), 1)`` pairs row-by-row in Python over an
  RDD, ``reduceByKey``s them and ``collect()``s the full distinct set to the
  driver (vocabulary.py:32-55). That driver collect is the scale hazard
  SURVEY.md §3.3 flags: at 100 TB a high-cardinality column OOMs the driver.
- engine expresses the same thing declaratively: per source column,
  ``select(lit(key), value)`` (with ``explode`` for array columns — matching
  the reference's per-cell fan-out, vocabulary.py:26-29), ``unionByName``,
  then ``groupBy(key, value).count()`` with a HAVING-style threshold filter.
  Catalyst gives partial (map-side) aggregation — the moral equivalent of
  ``reduceByKey`` — plus AQE shuffle coalescing, replacing the hand-rolled
  ``ceil(n/4)`` partition math (vocabulary.py:40-41).
- many-to-one key merges (``{"my_key": ["feature1", "feature2"]}``) follow
  reference ``gen_vocab_files_from_dict`` (vocabulary.py:108-121).
- writing: executor-side ``write.partitionBy(key).text`` — one directory per
  vocab key, no driver materialization. A capped ``as_dict`` helper exists
  for small vocabularies / reference-API compatibility. Empty-string values
  are dropped exactly like vocabulary.py:73-79.

Threshold note: values are emitted once per cell, so any threshold <= 1 is
trivially satisfied; like the reference (vocabulary.py:44-48) the engine
skips the filter in that case (Catalyst would fold it, skipping keeps the
plan clean).
"""

from __future__ import annotations

from typing import Dict, List, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


def _key_value_frame(df: DataFrame, key: str, column: str) -> DataFrame:
    """(key, value-as-string) rows for one source column: arrays explode into
    one row per element, scalars pass through (reference vocabulary.py:26-29)."""
    if isinstance(df.schema[column].dataType, ArrayType):
        # explode is a generator — it must be a top-level select expression,
        # so cast to string in a second projection.
        exploded = df.select(F.explode(F.col(column)).alias("value"))
        return exploded.select(
            F.lit(key).alias("key"), F.col("value").cast("string").alias("value")
        )
    return df.where(F.col(column).isNotNull()).select(
        F.lit(key).alias("key"), F.col(column).cast("string").alias("value")
    )


def vocabulary_dataframe(
    df: DataFrame,
    columns: Union[List[str], Dict[str, List[str]]],
    threshold: int = 0,
) -> DataFrame:
    """Distinct values (with counts) per vocab key as a DataFrame.

    Output schema: ``key string, value string, count bigint`` — one row per
    retained modality. ``columns`` is either a list (one key per column) or a
    dict mapping a key to several source columns whose values are merged.
    """
    if isinstance(columns, list):
        columns = {c: [c] for c in columns}

    parts = []
    for key, source_cols in columns.items():
        for src in source_cols:
            parts.append(_key_value_frame(df, key, src))
    if not parts:
        raise ValueError("no columns given")

    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)

    counted = union.where(F.col("value").isNotNull()).groupBy("key", "value").count()
    if threshold > 1:
        counted = counted.where(F.col("count") >= threshold)
    return counted


def build_vocabulary(
    df: DataFrame,
    columns: Union[List[str], Dict[str, List[str]]],
    threshold: int = 0,
    max_rows: int = 1_000_000,
) -> Dict[str, List[str]]:
    """Driver-side dict of vocab values per key (reference return shape,
    ``_get_vocab_values`` vocabulary.py:32-55) with an explicit safety cap.

    Raises if the vocabulary exceeds ``max_rows`` — use
    ``vocabulary_dataframe`` + ``write_vocab_files`` for unbounded data.
    """
    vdf = vocabulary_dataframe(df, columns, threshold)
    capped = vdf.limit(max_rows + 1).collect()
    if len(capped) > max_rows:
        raise ValueError(
            f"vocabulary exceeds max_rows={max_rows}; "
            "use vocabulary_dataframe/write_vocab_files instead"
        )
    out: Dict[str, List[str]] = {}
    for row in capped:
        out.setdefault(row["key"], []).append(row["value"])
    return out


def write_vocab_files(
    df: DataFrame,
    columns: Union[List[str], Dict[str, List[str]]],
    path: str,
    threshold: int = 0,
) -> str:
    """Write one vocabulary directory per key under ``path`` from executors.

    Layout: ``{path}/key={name}/part-*.txt`` (one value per line, empty
    strings dropped — vocabulary.py:73-79's TF constraint). Scales to any
    cardinality: the distinct set never visits the driver.
    """
    vdf = vocabulary_dataframe(df, columns, threshold)
    (
        vdf.where(F.col("value") != "")
        .select("key", "value")
        .repartition("key")
        .write.partitionBy("key")
        .mode("overwrite")
        .text(path)
    )
    return path


def vocab_id_table(
    vocab_counts: DataFrame,
    value_col: str = "value",
    count_col: str = "count",
    id_col: str = "token_id",
    num_partitions: int = None,
) -> DataFrame:
    """Assign dense 1-based integer ids to vocabulary entries, most
    frequent first (ties broken by value) — the id table every
    token-to-id encoder needs.

    The reference stops at writing vocab VALUES to text files
    (``tensorflow/vocabulary.py:58-79``) and leaves id assignment to
    TF's lookup tables; here the assignment is part of the engine so a
    Spark pipeline can produce training-ready id sequences directly.

    Scale: rank-by-frequency is a global total order. A bare
    ``row_number() OVER (ORDER BY count DESC)`` drags the whole vocab
    through ONE task; this uses the two-phase distributed prefix sum
    (``plans/prefix.py``) — same bit-exact result, cluster parallelism.
    Output: ``value_col, count_col, id_col`` (ids 1..V; 0 is reserved
    for OOV by convention).
    """
    from ml_hadoop_experiment_spark.plans.prefix import with_global_rank

    neg = vocab_counts.withColumn("__neg", -F.col(count_col).cast("long"))
    ranked = with_global_rank(
        neg, ["__neg", value_col], out_col=id_col, num_partitions=num_partitions
    )
    return ranked.drop("__neg")


def encode_tokens_to_ids(
    df: DataFrame,
    doc_col: str,
    text_col: str,
    vocab_ids: DataFrame,
    value_col: str = "value",
    id_col: str = "token_id",
    oov_id: int = 0,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Whitespace-tokenize ``text_col`` and map every token to its
    integer id, preserving order — text → training-ready id arrays.

    Returns ``doc_col, ids array<long>, n_tokens``. Unknown tokens map
    to ``oov_id``.

    Plan shape (100 TB posture): ``posexplode`` is a map-side generate
    (no shuffle); the vocab join broadcasts when ``broadcast_vocab``
    (thresholded vocabularies are MBs — if yours is not, pass False and
    the join degrades to a hash shuffle on the token, still no driver
    involvement); reassembly is ONE shuffle on the document key carrying
    only ``(pos, id)`` int pairs — the text itself never shuffles.
    Ordering is restored by ``array_sort`` over ``(pos, id)`` structs,
    deterministic because ``pos`` is unique within a document.
    """
    tok_df = df.select(
        F.col(doc_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "__tok"),
    )
    ids = vocab_ids.select(
        F.col(value_col).alias("__tok"), F.col(id_col).cast("long").alias("__tid")
    )
    if broadcast_vocab:
        ids = F.broadcast(ids)
    joined = tok_df.join(ids, "__tok", "left").select(
        doc_col,
        "pos",
        F.coalesce(F.col("__tid"), F.lit(oov_id).cast("long")).alias("__tid"),
    )
    return joined.groupBy(doc_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "__tid"))),
            lambda s: s["__tid"],
        ).alias("ids"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
