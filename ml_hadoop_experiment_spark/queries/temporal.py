"""Event-time, sessionization, and as-of/range join queries.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.queries._shared import _EVENT_TYPES, _t


# --------------------------------------------------------------------------
# Temporal extensions: hypertable rollup, as-of join, range join, JSON props.
# ``_t`` hands every query a TIMESTAMP ``ts`` (UTC); DuckDB reads the same
# parquet as TIMESTAMP — bucket/compare via integer epoch-micros on both
# sides for exactness (epoch_us is the parquet-native unit, no rounding).
# --------------------------------------------------------------------------

def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly hypertable rollup: count + value sum per (bucket, type)."""
    from ml_hadoop_experiment_spark.operators.temporal import time_bucket

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            time_bucket(
                F.col("ts"), 3600, dtype=ev.schema["ts"].dataType
            ).alias("hour_bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "sum_value"
            ),
        )
    )


SQL_EVENTS_ROLLUP = """
SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_bucket,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks the user's most recent prior (or
    simultaneous) view event's value. Engine: union+window single-shuffle
    as-of; oracle: DuckDB's native ASOF LEFT JOIN."""
    from ml_hadoop_experiment_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["view_value"], suffix="",
    )
    return out.select("event_id", "user_id", "view_value")


SQL_EVENTS_ASOF = """
SELECT l.event_id, l.user_id, r.value AS view_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click picks the user's NEXT view event's
    value at-or-after the click (the attribution-window / next-touch
    shape). Same single-shuffle union+window plan as backward, with a
    following frame. Oracle: DuckDB ASOF LEFT JOIN on ``l.ts <= r.ts``."""
    from ml_hadoop_experiment_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("next_view_value")
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["next_view_value"], suffix="", direction="forward",
    )
    return out.select("event_id", "user_id", "next_view_value")


SQL_EVENTS_ASOF_FWD = """
SELECT l.event_id, l.user_id, r.value AS next_view_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream per user (30-minute
    inactivity gap): lag + running-sum windows, one shuffle."""
    from ml_hadoop_experiment_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    return out.select("event_id", "user_id", "session_id")


SQL_SESSIONIZE = """
SELECT event_id, user_id,
       CAST(sum(new_session) OVER (
         PARTITION BY user_id ORDER BY ts ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) - 1 AS BIGINT) AS session_id
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts ASC)) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
"""


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize → aggregate: events-per-session and session duration
    (µs-exact integers) per (user, session). The windowed session
    numbering and the aggregation group on the same key prefix, so
    Catalyst reuses ONE hash exchange on user_id for both stages."""
    from ml_hadoop_experiment_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
            "duration_us"
        ),
    )


SQL_SESSION_STATS = """
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
SELECT user_id, session_id, count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM s GROUP BY 1, 2
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most common session journeys: sessionize, concatenate each
    session's event types in time order (event-id tiebreak), count
    identical paths — the product-analytics "common flows" table. The
    session window, the path reassembly, and the count all key on
    user-prefixed groups; the only global step is the bounded top-50
    (TakeOrderedAndProject, rank tie-broken on the path string)."""
    from ml_hadoop_experiment_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    paths = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.unix_micros("ts").alias("t"), "event_id",
                                 F.col("event_type").alias("et"))
                    )
                ),
                lambda x: x["et"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        counted.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(50)
    )


SQL_SESSION_PATHS = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts ASC)) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
  )
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path ASC
LIMIT 50
"""


def q_series_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (cf. the distributed series-search
    literature: REPOSE ICDE'21, Odyssey VLDB'23): the 10 users whose
    hourly activity series is L1-closest to user 7's. Sparse series rows,
    one broadcast join + one per-key agg + bounded top-k; decimal-exact
    distances make the k-th neighbor engine-identical."""
    from ml_hadoop_experiment_spark.operators.temporal import time_bucket
    from ml_hadoop_experiment_spark.operators.timeseries import series_l1_topk

    ev = _t(spark, sf_dir, "events")
    series = (
        ev.withColumn(
            "bucket", time_bucket(F.col("ts"), 3600, ev.schema["ts"].dataType)
        )
        .groupBy("user_id", "bucket")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    )
    query = series.where(F.col("user_id") == 7).select("bucket", "v")
    return series_l1_topk(series, ["user_id"], "bucket", "v", query, k=10)


def _sql_series_topk() -> str:
    from ml_hadoop_experiment_spark.operators.temporal import time_bucket_sql
    from ml_hadoop_experiment_spark.operators.timeseries import series_l1_topk_sql

    bucket = time_bucket_sql("ts", 3600)
    inner = series_l1_topk_sql("series", "user_id", "bucket", "v", "qseries", k=10)
    return f"""
WITH series AS (
  SELECT user_id, {bucket} AS bucket,
         sum(CAST(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY 1, 2
),
qseries AS (SELECT bucket, v FROM series WHERE user_id = 7)
SELECT k AS user_id, distance, n_common FROM ({inner})
"""


SQL_SERIES_TOPK = _sql_series_topk()


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: each event joined to its user's first-hour
    promo interval (interval = [first event, first event + 1h] per user,
    derived from the same table — a self-join lineage the operator must
    alias through). Engine: interval→bucket explode + equi-join on
    (user_id, bucket) with exact containment in the join condition — an
    ordinary shuffle join, never BroadcastNestedLoop. Oracle: the naive
    inequality join (fine at toy scale, the plan Spark must NOT use)."""
    from ml_hadoop_experiment_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    intervals = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("lo"))
        .withColumn("hi", F.col("lo") + F.expr("INTERVAL 1 HOUR"))
    )
    out = range_join(
        ev.select("event_id", "user_id", "ts"),
        intervals,
        event_time="ts",
        start_col="lo",
        end_col="hi",
        on=["user_id"],
        bucket_seconds=3600,
    )
    return out.select("event_id", "user_id")


SQL_RANGE_JOIN = """
SELECT e.event_id, e.user_id
FROM events e
JOIN (
  SELECT user_id, min(ts) AS lo, min(ts) + INTERVAL 1 HOUR AS hi
  FROM events GROUP BY user_id
) i
ON e.user_id = i.user_id AND e.ts >= i.lo AND e.ts <= i.hi
"""


# --------------------------------------------------------------------------
# Extension: KMV distinct-count sketch (operators/sketches.py) — an
# oracle-checkable cardinality estimator (portable hash ⇒ the *sketch
# estimate itself* hash-matches DuckDB), joined against the exact count so
# the result exposes estimate vs truth side by side.
# --------------------------------------------------------------------------


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ml_hadoop_experiment_spark.operators.sketches import kmv_distinct

    li = _t(spark, sf_dir, "lineitem")
    sk = kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=256)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("distinct_exact")
    )
    return sk.join(exact, "l_returnflag").select(
        "l_returnflag", "n_kept", "kth_hash", "distinct_est", "distinct_exact"
    )


def _sql_kmv_distinct() -> str:
    from ml_hadoop_experiment_spark.operators.sketches import kmv_distinct_sql

    kmv = kmv_distinct_sql("lineitem", ["l_returnflag"], "l_orderkey", k=256)
    return f"""
WITH sk AS ({kmv}),
exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS distinct_exact
  FROM lineitem GROUP BY l_returnflag
)
SELECT sk.l_returnflag, sk.n_kept, sk.kth_hash, sk.distinct_est,
       exact.distinct_exact
FROM sk JOIN exact USING (l_returnflag)
"""


SQL_KMV_DISTINCT = _sql_kmv_distinct()


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent document tokens WITHOUT shuffling the
    full distinct-token distribution: per-partition Misra-Gries summaries
    (bounded memory, map-only) generate a candidate set that provably
    contains every sufficiently-frequent token; only candidates are then
    counted exactly via a broadcast semi-join. The `guaranteed` flag
    certifies rows the N/capacity bound proves complete. See
    operators/heavy_hitters.py."""
    from ml_hadoop_experiment_spark.operators.heavy_hitters import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    return heavy_hitters(toks, "tok", k=20, capacity=1024)


def _sql_heavy_hitters() -> str:
    from ml_hadoop_experiment_spark.operators.heavy_hitters import (
        heavy_hitters_sql,
    )

    return heavy_hitters_sql(
        "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok"
        " FROM documents)",
        "tok",
        k=20,
        capacity=1024,
    )


SQL_HEAVY_HITTERS = _sql_heavy_hitters()


def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE window per user: event count and exact value
    sum over the last hour at every event — the rolling-feature /
    velocity primitive. Decimal accumulation makes the sums identical in
    both engines regardless of internal frame-add order."""
    from ml_hadoop_experiment_spark.operators.temporal import trailing_aggregates

    ev = _t(spark, sf_dir, "events")
    out = trailing_aggregates(
        ev, ["user_id"], "ts", "value", window_seconds=3600
    )
    return out.select("event_id", "user_id", "epoch_s", "trail_cnt", "trail_sum")


def _sql_trailing_window() -> str:
    from ml_hadoop_experiment_spark.operators.temporal import (
        trailing_aggregates_sql,
    )

    inner = trailing_aggregates_sql(
        "events", "user_id", "ts", "value", window_seconds=3600
    )
    return f"SELECT event_id, user_id, epoch_s, trail_cnt, trail_sum FROM ({inner})"


SQL_TRAILING_WINDOW = _sql_trailing_window()


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular hourly resample of each user's event-value series with
    forward fill — the feature-store "as-of every hour" primitive. The
    dense grid is generated map-side from a one-row-per-key span table
    (never shuffled whole); fill is a copy, not arithmetic, so values
    are engine-exact."""
    from ml_hadoop_experiment_spark.operators.temporal import gap_fill

    ev = _t(spark, sf_dir, "events")
    out = gap_fill(ev, ["user_id"], "ts", "value", step_seconds=3600)
    return out.select("user_id", "bucket", "value", "n_obs", "filled")


def _sql_gap_fill() -> str:
    from ml_hadoop_experiment_spark.operators.temporal import gap_fill_sql

    inner = gap_fill_sql("events", "user_id", "ts", "value", step_seconds=3600)
    return (
        "SELECT k AS user_id, bucket, value, CAST(n_obs AS BIGINT) AS n_obs, "
        f"filled FROM ({inner})"
    )


SQL_GAP_FILL = _sql_gap_fill()


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence feature engineering: per-user lag-1/lag-2 values and the
    inter-event time delta at every event — the standard autoregressive
    feature block. ONE window (ordered by time with event-id tiebreak)
    serves all three lags, so Catalyst plans a single shuffle + sort;
    lags are copies and the delta is integer µs arithmetic, engine-exact."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("value_lag1"),
        F.lag("value", 2).over(w).alias("value_lag2"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1).over(w)).alias(
            "dt_us"
        ),
    )


SQL_LAG_FEATURES = """
SELECT event_id, user_id, value,
       lag(value, 1) OVER w AS value_lag1,
       lag(value, 2) OVER w AS value_lag2,
       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS dt_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix: how often each event type
    is followed by each other type within a user's stream — the Markov
    bigram table behind next-action models and anomaly monitors. One
    window (lead over user/time, event_id tiebreak for engine-identical
    ordering under timestamp ties) + one map-combined count."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.withColumn("next_type", F.lead("event_type").over(w))
    return (
        pairs.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


SQL_EVENT_TRANSITIONS = """
SELECT event_type AS from_type, next_type,
       count(*) AS n_transitions
FROM (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value: each value is
    weighted by how long it stayed current — the correct mean for
    irregularly sampled state. Decimal × integer-seconds accumulation
    keeps the weighted sum order-free and engine-exact; one window
    shuffle + one map-combined agg."""
    from ml_hadoop_experiment_spark.operators.temporal import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    out = time_weighted_avg(ev, ["user_id"], "ts", "value")
    return out.select("user_id", "twap", "n_obs", "span_s")


def _sql_twap() -> str:
    from ml_hadoop_experiment_spark.operators.temporal import time_weighted_avg_sql

    inner = time_weighted_avg_sql("events", "user_id", "ts", "value")
    return (
        "SELECT k AS user_id, twap, CAST(n_obs AS BIGINT) AS n_obs, "
        f"CAST(span_s AS BIGINT) AS span_s FROM ({inner})"
    )


SQL_TWAP = _sql_twap()


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted distinct on each later activity-day offset — the standard
    product-analytics table. Two map-combined aggregations + one join on
    user_id (the per-user firsts table is small relative to events and
    co-partitions with the event scan's natural key). Day indexes are
    integers relative to 2024-01-01 so the output is timestamp-free
    (cross-engine date comparison semantics differ)."""
    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
    days = ev.select("user_id", day)
    firsts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_COHORT_RETENTION = """
WITH days AS (
  SELECT user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
  FROM events
),
firsts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
FROM days d JOIN firsts f ON d.user_id = f.user_id
GROUP BY 1, 2
"""


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click — min-timestamp chaining, the
    standard sequential-conversion query. One conditional aggregation per
    user (map-combined) then a 3-row rollup; the ordering constraints are
    plain column comparisons, no self-joins over the event log."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
    )
    clicks = ev.where(F.col("event_type") == "click").join(per_user, "user_id")
    first_click = clicks.where(F.col("ts") > F.col("t_view")).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view"))
    purch = ev.where(F.col("event_type") == "purchase").join(
        first_click, "user_id"
    )
    converted = purch.where(F.col("ts") > F.col("t_click")).select(
        "user_id"
    ).distinct()
    n1 = per_user.where(F.col("t_view").isNotNull()).count()
    n2 = first_click.count()
    n3 = converted.count()
    return spark.createDataFrame(
        [("1_view", n1), ("2_click_after_view", n2), ("3_purchase_after_click", n3)],
        "stage string, n_users long",
    )


SQL_FUNNEL_COUNTS = """
WITH v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY 1
),
p AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
)
SELECT '1_view' AS stage,
       CAST((SELECT count(*) FROM v WHERE t_view IS NOT NULL) AS BIGINT) AS n_users
UNION ALL
SELECT '2_click_after_view', CAST((SELECT count(*) FROM c) AS BIGINT)
UNION ALL
SELECT '3_purchase_after_click', CAST((SELECT count(*) FROM p) AS BIGINT)
"""


#: (pivot note: the explicit _EVENT_TYPES list keeps the pivot a one-pass
#: map-side CASE expansion — Spark's auto-discovery pivot runs an extra
#: distinct job AND makes the schema data-dependent)


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide activity matrix: events pivoted to one column per event type
    with per-user counts. The explicit value list keeps the plan a
    single map-combined aggregation (no distinct-discovery job, schema
    stable at any scale); absent combinations are zero-filled."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )
    return out.select(
        "user_id", *[F.col(c).cast("long").alias(c) for c in _EVENT_TYPES]
    )


SQL_EVENT_PIVOT = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
"""
