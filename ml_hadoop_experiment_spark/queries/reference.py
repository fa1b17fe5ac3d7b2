"""Reference-parity queries (SURVEY.md S/P/A/R/U rows).

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.hashing import portable_unit_hash_sql
from ml_hadoop_experiment_spark.operators.bootstrap import (
    poisson_bootstrap_metrics,
    poisson_bootstrap_metrics_sql,
)
from ml_hadoop_experiment_spark.operators.inference import with_inference_column
from ml_hadoop_experiment_spark.operators.sampling import sample_with_predicate
from ml_hadoop_experiment_spark.operators.vocabulary import vocabulary_dataframe
from ml_hadoop_experiment_spark.queries._shared import _t


# --------------------------------------------------------------------------
# U1/U5/U6 substrate: vectorized inference column with a deterministic,
# SQL-expressible "model" (the reference's own test trick — Add/Multiply
# models, tests/tensorflow/test_dataframe_prediction_helper.py:30-83).
# --------------------------------------------------------------------------


class _LinearScorer:
    """score = price * (1 - discount); stands in for a real model."""

    def predict(self, price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)


def q_udf_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    scored = with_inference_column(
        li,
        _LinearScorer(),
        ["l_extendedprice", "l_discount"],
        lambda m, b: m.predict(b[0], b[1]),
        output_type="double",
        batch_size=4096,
        output_col="score",
    )
    return scored.select("l_orderkey", "l_linenumber", "score")


SQL_UDF_LINEAR_SCORE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS score
FROM lineitem
"""


# --------------------------------------------------------------------------
# U5 oracle gate: the sklearn adapter (with_sklearn_inference_column —
# predict_proba contract, whole-row pandas DataFrame input, broadcast
# artifact) driven end-to-end by a FIXED-coefficient logistic model whose
# sigmoid replays exactly in DuckDB — the reference's own deterministic-
# model test trick (tests/sklearn/test_sklearn_spark_inference.py:21-56
# trains on a fixed 4-row dataset for the same reason: the model must be a
# pure function of nothing). Coefficients are dyadic rationals and the
# features are integers, so z = b0 + b1*x1 + b2*x2 is EXACT in doubles on
# both engines; the only libm crossing is exp(-z), absorbed by round(...,6).
# --------------------------------------------------------------------------


class _FixedLogitModel:
    """predict_proba-shaped stand-in for a trained LogisticRegression:
    p = sigmoid(-2 + n_chars * 2^-10 + is_en * 2^-1). Named-column access
    (a real sklearn model is positional over the fit-time column order;
    the adapter hands the whole row as a DataFrame with original names —
    reference sklearn/spark_inference.py:10-55 — so names ARE the
    contract here)."""

    B0, B1, B2 = -2.0, 0.0009765625, 0.5  # -2, 2**-10, 2**-1

    def predict_proba(self, pdf: pd.DataFrame):
        import numpy as np

        z = self.B0 + pdf["n_chars"].to_numpy(dtype="float64") * self.B1 \
            + pdf["is_en"].to_numpy(dtype="float64") * self.B2
        p1 = 1.0 / (1.0 + np.exp(-z))
        return np.column_stack([1.0 - p1, p1])


def q_sklearn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 end-to-end: documents features -> broadcast SerializableObj
    artifact -> with_sklearn_inference_column (predict_proba, class-1
    postprocessing) -> rounded probability. Exercises the full reference
    adapter stack (artifact broadcast + whole-row DataFrame input +
    postprocessing_fn), not a plain pandas_udf."""
    from ml_hadoop_experiment_spark.common.artifacts import SerializableObj
    from ml_hadoop_experiment_spark.operators.inference import (
        with_sklearn_inference_column,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    model = SerializableObj(spark, _FixedLogitModel)
    scored = with_sklearn_inference_column(
        feats,
        model,
        output_col="p_keep",
        output_type="double",
        postprocessing_fn=lambda probs: pd.Series(probs[:, 1]),
        batch_size=4096,
    )
    # NULL inputs must yield NULL (the oracle's CAST(NULL) propagation),
    # not the NaN numpy produces for a masked float — latent until a
    # fixture regeneration introduces NULL lang/n_chars
    valid = F.col("n_chars").isNotNull() & F.col("is_en").isNotNull()
    return scored.select(
        "doc_id",
        F.when(valid, F.round(F.col("p_keep"), 6)).alias("p_keep"),
    )


SQL_SKLEARN_SCORE = """
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(-2.0
                                + CAST(n_chars AS DOUBLE) * 0.0009765625
                                + CAST(lang = 'en' AS INT) * 0.5))), 6)
         AS p_keep
FROM documents
"""


# --------------------------------------------------------------------------
# R2/R3 + P3/P4/P5: stratified sampling with portable deterministic hash.
# --------------------------------------------------------------------------

def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sampled = sample_with_predicate(
        li,
        global_sampling=1.0,
        positive_sampling=0.5,
        negative_sampling=0.25,
        positive_predicate=F.col("l_returnflag") == "R",
        columns_for_sample=["l_orderkey"],
        portable=True,
        seed=7,
    )
    return sampled.select("l_orderkey", "l_linenumber", "l_returnflag", "weight")


SQL_SAMPLE_STRATIFIED = f"""
WITH h AS (
  SELECT *, {portable_unit_hash_sql('l_orderkey', salt=7)} AS sh FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 2.0 END AS weight
FROM h
WHERE (l_returnflag = 'R' AND sh < 0.5)
   OR (l_returnflag <> 'R' AND sh < 0.25)
"""


# --------------------------------------------------------------------------
# A1: vocabulary build (distinct + count + threshold), scalar columns.
# --------------------------------------------------------------------------

def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return vocabulary_dataframe(part, ["p_brand", "p_type"], threshold=5)


SQL_VOCAB_BUILD = """
SELECT key, value, count(*) AS count
FROM (
  SELECT 'p_brand' AS key, p_brand AS value FROM part WHERE p_brand IS NOT NULL
  UNION ALL
  SELECT 'p_type' AS key, p_type AS value FROM part WHERE p_type IS NOT NULL
)
GROUP BY key, value
HAVING count(*) >= 5
"""


# --------------------------------------------------------------------------
# A2: many-to-one key merge of several source columns into one vocab key.
# --------------------------------------------------------------------------

def q_vocab_merged_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return vocabulary_dataframe(
        part, {"brand_or_type": ["p_brand", "p_type"], "psize": ["p_size"]}, threshold=2
    )


SQL_VOCAB_MERGED_KEYS = """
SELECT key, value, count(*) AS count
FROM (
  SELECT 'brand_or_type' AS key, p_brand AS value FROM part WHERE p_brand IS NOT NULL
  UNION ALL
  SELECT 'brand_or_type' AS key, p_type AS value FROM part WHERE p_type IS NOT NULL
  UNION ALL
  SELECT 'psize' AS key, CAST(p_size AS VARCHAR) AS value FROM part WHERE p_size IS NOT NULL
)
GROUP BY key, value
HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# A1 (array cells): vocabulary over an exploded token column — the
# reference's list-column fan-out (vocabulary.py:26-29).
# --------------------------------------------------------------------------

def q_vocab_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "tokens", F.split(F.col("text"), " ")
    )
    return vocabulary_dataframe(docs, ["tokens"], threshold=50)


SQL_VOCAB_TOKENS = """
SELECT 'tokens' AS key, value, count(*) AS count
FROM (SELECT unnest(string_split(text, ' ')) AS value FROM documents)
WHERE value IS NOT NULL
GROUP BY value
HAVING count(*) >= 50
"""


# --------------------------------------------------------------------------
# U12 relational form: sparse COO via posexplode (SURVEY §2.8 — indices are
# (row, pos), values are elements; dense_shape derivable via max(size)).
# --------------------------------------------------------------------------

def q_sparse_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "value"),
    )


SQL_SPARSE_COO = """
SELECT doc_id,
       unnest(range(len(string_split(text, ' ')))) AS pos,
       unnest(string_split(text, ' ')) AS value
FROM documents
"""


# --------------------------------------------------------------------------
# P6/P8: null-default coalesce + cast and null-if expressions.
# --------------------------------------------------------------------------

def q_null_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("click")), F.lit("none")).alias(
            "filled_type"
        ),
        F.coalesce(
            F.when(F.col("value") > 5.0, F.col("value")), F.lit(0.0)
        ).alias("filled_value"),
    )


SQL_NULL_DEFAULT_FILL = """
SELECT event_id,
       coalesce(nullif(event_type, 'click'), 'none') AS filled_type,
       coalesce(CASE WHEN value > 5.0 THEN value END, 0.0) AS filled_value
FROM events
"""


# --------------------------------------------------------------------------
# S7/A6: metric extraction to long format (step, name, value).
# --------------------------------------------------------------------------

def q_events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("value").isNotNull())
        .select(
            F.col("event_id").alias("step"),
            F.col("event_type").alias("name"),
            F.col("value"),
        )
    )


SQL_EVENTS_LONG = """
SELECT event_id AS step, event_type AS name, value
FROM events
WHERE value IS NOT NULL
"""


def q_bootstrap_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-replicate Poisson bootstrap of MSE/MAE for the deterministic
    "model" pred = quantity*1500 against label = extendedprice."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
        (F.col("l_quantity") * 1500.0).alias("pred"),
        F.col("l_extendedprice").alias("label"),
    )
    return poisson_bootstrap_metrics(
        li, key_col="rk", prediction_col="pred", label_col="label",
        nb_bootstrap=10,
    )


SQL_BOOTSTRAP_METRICS = poisson_bootstrap_metrics_sql(
    "(SELECT l_orderkey * 8 + l_linenumber AS rk, "
    "l_quantity * 1500.0 AS pred, l_extendedprice AS label FROM lineitem)",
    key_expr="rk",
    prediction_expr="pred",
    label_expr="label",
    nb_bootstrap=10,
)


# --------------------------------------------------------------------------
# TFRecord sink → source roundtrip (S2-S5) as a declared oracle query: the
# engine rendition of reference df_to_tf_record (tfrecords.py:239-268) write
# path plus the Example-parsing source (tfrecords.py:52-97), closed into a
# loop the driver can hash-check. Floats cross the TFRecord wire as proto
# float (32-bit), so the oracle casts through REAL the same way.
# --------------------------------------------------------------------------


def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write spec-projected orders as shuffled gzip TFRecords, read them
    back, and return the row set. Exercises the spec projection (P1), the
    seeded global shuffle (R4), the Example proto encoder/decoder (S5), the
    per-partition (path, count) sink contract (S2/S3), and the
    underscore-skipping file source (S4/S6) in one oracle-checkable query.

    The write is an eager side effect into a throwaway temp dir; the
    returned DataFrame lazily re-parses those files executor-side. Row order
    is scrambled by the shuffle, which the driver's sorted compare absorbs.
    """
    import tempfile

    from ml_hadoop_experiment_spark.schema.feature_spec import FixedLenFeature
    from ml_hadoop_experiment_spark.sources.tfrecords import (
        read_tfrecords,
        write_tfrecords,
    )

    specs = {
        "o_orderkey": FixedLenFeature((), "int64", default_value=0),
        "o_custkey": FixedLenFeature((), "int64", default_value=0),
        "o_totalprice": FixedLenFeature((), "float32", default_value=0.0),
        "o_orderpriority": FixedLenFeature((), "string", default_value=""),
    }
    orders = _t(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="tfr_roundtrip_")
    write_tfrecords(orders, specs, out, shuffle_seed=7)
    back = read_tfrecords(spark, out, specs)
    return back.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


SQL_TFRECORD_ROUNDTRIP = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS REAL) AS o_totalprice,
       o_orderpriority
FROM orders
"""
