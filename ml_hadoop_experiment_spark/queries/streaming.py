"""Structured Streaming drains (availableNow stateful queries).

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.queries._shared import _stream_t, _t
from ml_hadoop_experiment_spark.queries.dedup import SQL_SIMHASH_INCR
from ml_hadoop_experiment_spark.queries.reference import (
    SQL_UDF_LINEAR_SCORE,
    _LinearScorer,
)
from ml_hadoop_experiment_spark.queries.stats import SQL_PSI_DRIFT
from ml_hadoop_experiment_spark.streaming.drain import drain


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (a streaming ``dropDuplicates``, its state
    in Spark's state store) driven to completion: the documents table
    streamed as micro-batches through
    ``streaming.stateful.stateful_dedup`` on ``doc_id``, emitting each key
    exactly once. With unique fixture doc_ids the result set equals
    SELECT doc_id FROM documents — which makes a real streaming operator
    fully oracle-checkable."""
    from ml_hadoop_experiment_spark.streaming.stateful import stateful_dedup

    stream = _stream_t(spark, sf_dir, "documents").select("doc_id")
    return drain(stateful_dedup(stream, ["doc_id"]))


SQL_STREAMING_DEDUP = """
SELECT doc_id FROM documents
"""


def q_streaming_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count sketch: distinct users per event type
    with HLL registers as the per-key state (at most m=256 register
    rows per key FOREVER, vs exact-distinct state that grows with
    cardinality). The batch operator ``operators.hll.hll_register_rows``
    runs on the stream itself, drained availableNow in update mode: its
    ``groupBy(event_type, register).agg(max(rho))`` keeps the
    max-merged registers in Spark's state store, with no Python
    worker. The emitted (key, register, M) rows are max-merged and
    finished through the SAME estimator expression as the batch
    sketch, so the streaming result equals a batch replay — and the
    DuckDB oracle replays that batch estimator over events.

    Checkpoints written by the earlier version of this stream, which
    held a register array per key in a Python state function, cannot
    be resumed: the state schema differs."""
    from ml_hadoop_experiment_spark.operators.hll import (
        estimate_from_register_rows,
        hll_register_rows,
    )

    stream = _stream_t(spark, sf_dir, "events").select("event_type", "user_id")
    out = hll_register_rows(stream, F.col("user_id"), 8, ["event_type"])
    regs = (
        drain(out, "update")
        .groupBy("event_type", "register")
        .agg(F.max("M").alias("M"))
    )
    return estimate_from_register_rows(regs, 8, ["event_type"]).select(
        "event_type", "n_est"
    )


def _sql_streaming_distinct() -> str:
    from ml_hadoop_experiment_spark.operators.hll import (
        hll_keyed_estimate_sql,
    )

    return hll_keyed_estimate_sql(
        "events", "event_type", "user_id", p=8, out_key="event_type"
    )


SQL_STREAMING_DISTINCT = _sql_streaming_distinct()


def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch: p50/p90/p99 of event value per event
    type with a fixed-width histogram as the per-key state (at most
    1000 bin counts per key FOREVER, vs exact quantile state that grows
    with cardinality). The batch operator
    ``operators.histogram.histogram_counts`` runs on the stream itself,
    drained availableNow in update mode: Spark's state store adds each
    micro-batch's (key, bin) counts, with no Python worker. The
    emitted (key, bin, cnt) rows are max-merged (counts only grow) and
    finished through the SAME estimator as the batch sketch
    (operators/histogram.quantiles_from_histogram — lower edge of the
    bin holding rank ceil(q*N)), so the streaming result equals a
    batch replay and the DuckDB oracle replays that batch chain over
    events.

    Checkpoints written by the earlier version of this stream, which
    held a count array per key in a Python state function, cannot be
    resumed: the state schema differs."""
    from ml_hadoop_experiment_spark.operators.histogram import (
        histogram_counts,
        quantiles_from_histogram,
    )

    stream = _stream_t(spark, sf_dir, "events").select("event_type", "value")
    out = histogram_counts(
        stream, ["event_type"], "value", lo=0.0, hi=500.0, n_bins=1000
    )
    sketch = (
        drain(out, "update")
        .groupBy("event_type", "bin")
        .agg(F.max("cnt").alias("cnt"))
    )
    return quantiles_from_histogram(
        sketch, ["event_type"], lo=0.0, hi=500.0, n_bins=1000,
        qs=(0.5, 0.9, 0.99),
    )


def _sql_streaming_quantiles() -> str:
    from ml_hadoop_experiment_spark.operators.histogram import (
        histogram_quantiles_sql,
    )

    return histogram_quantiles_sql(
        "events", ["event_type"], "value", lo=0.0, hi=500.0,
        n_bins=1000, qs=(0.5, 0.9, 0.99),
    )


SQL_STREAMING_QUANTILES = _sql_streaming_quantiles()


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters
    (streaming/sketches.stateful_heavy_hitters): per-event-type
    Misra-Gries candidate state folded over the stream (bounded at
    `capacity` counters per key forever), drained availableNow; the
    FINAL summary (max-seq emission per key — MG counters are not
    monotone, so last wins, not max-merge) supplies the candidate set,
    and the batch operator's exact-recount step finishes it: broadcast
    the candidates against the stored events, count exactly, top-5
    users per event type under the (count desc, user asc) total order.
    At gate scale the per-key cardinality (150 at sf0.01, 1500 at
    sf0.1) sits far under capacity=4096, so the MG bound certifies the
    candidate superset and the result equals DuckDB's full exact
    aggregation; the truncation path is pytest-gated
    (tests/test_streaming_sketches.py)."""
    from ml_hadoop_experiment_spark.streaming.sketches import (
        stateful_heavy_hitters,
    )

    stream = _stream_t(spark, sf_dir, "events").select("event_type", "user_id")
    out = stateful_heavy_hitters(
        stream, ["event_type"], "user_id", capacity=4096
    )
    sunk = drain(out)
    final = (
        sunk.withColumn(
            "__mx", F.max("seq").over(Window.partitionBy("event_type"))
        )
        .where(F.col("seq") == F.col("__mx"))
        .select(F.col("event_type").alias("__et"), F.col("token"))
    )
    ev = _t(spark, sf_dir, "events")
    counted = (
        ev.join(
            F.broadcast(final),
            (ev["event_type"] == final["__et"])
            & (ev["user_id"].cast("string") == final["token"]),
        )
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_occurrences").desc(), F.col("user_id").asc()
    )
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .select("event_type", "user_id", "n_occurrences")
    )


def q_streaming_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deterministic bounded sample
    (streaming/sampling.stateful_priority_sample): the 8
    smallest-portable-hash users per event type, held as EXACTLY k
    (id, priority) pairs of stream state per key forever. Bottom-k by
    a pure hash of the id makes the sample a function of the ID SET —
    arrival order, batch boundaries, and duplicates cannot change it —
    so the drained result equals the batch twin exactly: DuckDB ranks
    DISTINCT (event_type, user_id) by the same hash integers and takes
    the same 8 (the max-seq emission per key is the whole-stream
    sample, the MG convention)."""
    from ml_hadoop_experiment_spark.streaming.sampling import (
        stateful_priority_sample,
    )

    stream = _stream_t(spark, sf_dir, "events").select("event_type", "user_id")
    out = stateful_priority_sample(
        stream, ["event_type"], "user_id", k=8, salt=7
    )
    sunk = drain(out)
    return (
        sunk.withColumn(
            "__mx", F.max("seq").over(Window.partitionBy("event_type"))
        )
        .where(F.col("seq") == F.col("__mx"))
        .select(
            "event_type",
            F.col("id").alias("user_id"),
            "priority",
        )
    )


def _sql_streaming_sample() -> str:
    from ml_hadoop_experiment_spark.functions.hashing import (
        portable_int_hash_sql,
    )

    pri = portable_int_hash_sql("user_id", salt=7)
    return f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
r AS (
  SELECT event_type, user_id, CAST({pri} AS BIGINT) AS priority,
         row_number() OVER (
           PARTITION BY event_type ORDER BY {pri} ASC, user_id ASC
         ) AS rn
  FROM d
)
SELECT event_type, user_id, priority FROM r WHERE rn <= 8
"""


SQL_STREAMING_SAMPLE = _sql_streaming_sample()


SQL_STREAMING_HEAVY_HITTERS = """
WITH c AS (
  SELECT event_type, user_id, count(*) AS n_occurrences
  FROM events GROUP BY event_type, user_id
),
r AS (
  SELECT event_type, user_id, n_occurrences,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY n_occurrences DESC, user_id ASC
         ) AS rn
  FROM c
)
SELECT event_type, user_id, n_occurrences FROM r WHERE rn <= 5
"""


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/joins.stream_static_enrich):
    the orders table streamed as micro-batches, each batch inner-joined
    to the STATIC customer dimension (broadcast — the stream never
    shuffles, no state store, no watermark). The canonical streaming
    feature-lookup; drained availableNow, the result set equals the
    batch join, making the streaming plan fully oracle-checkable."""
    from ml_hadoop_experiment_spark.streaming.enrich import stream_static_enrich

    stream = _stream_t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    out = stream_static_enrich(
        stream, customer, stream["o_custkey"] == customer["c_custkey"]
    ).select("o_orderkey", "c_mktsegment", "o_totalprice")
    return drain(out)


SQL_STREAMING_ENRICH = """
SELECT o_orderkey, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation (Structured Streaming) run
    to completion over the events stream: hourly count + value sum per
    event_type. Because the stream is drained with availableNow and the
    watermark admits all fixture rows, the result equals the batch hourly
    rollup — a real streaming window operator, fully oracle-checked.

    ``_stream_t`` takes the schema from a batch read and normalizes ``ts``
    exactly like the batch loader. Outputs report the window start as an
    epoch-seconds bigint (portable)."""
    from ml_hadoop_experiment_spark.streaming.inference import (
        windowed_event_aggregates,
    )

    stream = _stream_t(spark, sf_dir, "events")
    out = windowed_event_aggregates(
        stream, ts_col="ts", key_col="event_type", value_col="value",
        window="1 hour", watermark="1 hour",
    )
    return drain(out, "complete").select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n_events",
        F.round(F.col("sum_value"), 2).alias("sum_value"),
    )


SQL_STREAMING_ROLLUP = """
SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) * 3600 AS window_start_s,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (F.session_window) drained to completion
    over the events stream: per-user gap-merged sessions with event counts.
    Because the stream drains fully (availableNow) and the watermark admits
    every fixture row, the emitted sessions equal the batch gap
    sessionization — a real stateful streaming operator, fully
    oracle-checked against the lag+running-sum batch formulation (boundary
    semantics verified identical: gap == threshold merges, > splits).
    Outputs epoch-µs session starts (portable; no timestamps)."""
    from ml_hadoop_experiment_spark.streaming.inference import (
        session_window_aggregates,
    )

    stream = _stream_t(spark, sf_dir, "events")
    out = session_window_aggregates(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes", watermark="1 hour"
    )
    return drain(out, "complete").select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )


SQL_STREAMING_SESSIONIZE = """
WITH s AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts ASC)) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
  )
)
SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS n_events
FROM s GROUP BY user_id, session_id
"""


def q_streaming_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inference: the U1 vectorized-inference column applied to a
    STREAMING DataFrame (same operator, same pandas_udf — Structured
    Streaming runs it per micro-batch) and drained to completion. Result
    equals the batch ``udf_linear_score``, so a real streaming-inference
    path is fully oracle-checked."""
    from ml_hadoop_experiment_spark.streaming.inference import streaming_inference

    stream = _stream_t(spark, sf_dir, "lineitem")
    scored = streaming_inference(
        stream,
        _LinearScorer(),
        ["l_extendedprice", "l_discount"],
        lambda m, b: m.predict(b[0], b[1]),
        output_type="double",
        batch_size=4096,
        output_col="score",
    ).select("l_orderkey", "l_linenumber", "score")
    return drain(scored)


SQL_STREAMING_SCORE = SQL_UDF_LINEAR_SCORE


def q_streaming_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-stream running moments (streaming/moments.moment_sums):
    count/mean/std of event value per event type as a NATIVE streaming
    aggregation (three integers of state per key, no Python state),
    drained availableNow in complete mode. Fixed-point quantization
    (floor(v*100 + 0.5)) makes the sums exact integers, so the
    streamed result equals the batch replay bit-for-bit under any
    micro-batching — the DuckDB oracle replays the same quantization,
    integer sums, and fixed-order double finisher."""
    from ml_hadoop_experiment_spark.streaming.moments import (
        moment_sums,
        moments_from_sums,
    )

    stream = _stream_t(spark, sf_dir, "events").select("event_type", "value")
    sums = moment_sums(stream, ["event_type"], "value", scale=100)
    return moments_from_sums(drain(sums, "complete"), ["event_type"], scale=100)


def _sql_streaming_moments() -> str:
    from ml_hadoop_experiment_spark.streaming.moments import moments_sql

    return moments_sql("events", ["event_type"], "value", scale=100)


SQL_STREAMING_MOMENTS = _sql_streaming_moments()


def q_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the purchase-event value stream folds
    into the bounded histogram state (``histogram_counts`` on the
    stream, drained in update mode as in ``q_streaming_quantiles``;
    the same checkpoint break applies), and the drained sketch is
    scored against a STATIC reference slice (view events, batch-binned
    on the same grid) by the PSI finisher (operators/drift.
    psi_from_counts) — the composition an ingestion pipeline actually
    runs: sketch the live side, hold the reference, alert on
    sum(psi_term). Identical result contract to psi_drift, so the same
    DuckDB oracle gates it (the simhash_index precedent; the
    stream==batch sketch identity is pytest-pinned in
    test_streaming_quantiles)."""
    from ml_hadoop_experiment_spark.operators.drift import psi_from_counts
    from ml_hadoop_experiment_spark.operators.histogram import (
        histogram_counts,
    )

    stream = (
        _stream_t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_type", "value")
    )
    out = histogram_counts(
        stream, ["event_type"], "value", lo=0.0, hi=500.0, n_bins=20
    )
    live = (
        drain(out, "update")
        .groupBy("bin")
        .agg(F.max("cnt").alias("cnt"))
    )
    ref = histogram_counts(
        _t(spark, sf_dir, "events").where(
            F.col("event_type") == "view"
        ),
        [], "value", lo=0.0, hi=500.0, n_bins=20,
    )
    return psi_from_counts(live, ref, n_bins=20)


SQL_STREAMING_PSI = SQL_PSI_DRIFT


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join, drained availableNow: purchases
    within 30 minutes after a click by the same user. Both sides are
    state-store partitioned on user_id and watermarked so join state is
    bounded by the time window — the canonical streaming correlation
    shape the batch oracle mirrors with a plain interval join."""
    from ml_hadoop_experiment_spark.streaming.joins import interval_join

    stream = _stream_t(spark, sf_dir, "events")
    clicks = stream.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    joined = interval_join(
        clicks, purchases, "user_id", "ts", upper="30 minutes", watermark="1 hour"
    )
    out = joined.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        (
            F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("l_ts"))
        ).alias("gap_us"),
        F.col("r_value").alias("purchase_value"),
    )
    # state stores are per-partition PER JOIN SIDE here — 4 per
    # partition, so the join drain budgets STORES, not partitions
    # (r14: see ``drain``)
    return drain(out, max_state_partitions=4)


SQL_STREAMING_INTERVAL_JOIN = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_streaming_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming content near-dup (round 12 —
    streaming/content.stream_simhash_against_index): the crawl-batch
    steady state as an actual stream — new documents (doc_id % 10 == 0)
    arrive as micro-batches, are SimHash-fingerprinted in-flight (pure
    codegen expression on the streaming frame), and stream-static join
    the PINNED corpus index (build_simhash_index over the other 90%,
    bits=32, hamming <= 3 — exactly q_simhash_index's corpus side);
    stateful dropDuplicates emits each candidate pair once across all
    batches; drained availableNow. Recall is EXACT at the radius
    (pigeonhole is per-pair, batching-independent), so the drained
    result equals the batch operator's and the oracle IS
    SQL_SIMHASH_INCR — a real streaming content-dedup pipeline,
    hash-gated."""
    from ml_hadoop_experiment_spark.operators.simhash_index import (
        build_simhash_index,
    )
    from ml_hadoop_experiment_spark.streaming.content import (
        stream_simhash_against_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    index = build_simhash_index(
        corpus, "doc_id", "text", bits=32, max_hamming=3
    )
    stream = (
        _stream_t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    return drain(stream_simhash_against_index(stream, index, "doc_id", "text"))


SQL_STREAMING_SIMHASH = SQL_SIMHASH_INCR
