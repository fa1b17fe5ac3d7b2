"""Relational / reporting / data-quality queries.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.queries._shared import _EVENT_TYPES, _t


# --------------------------------------------------------------------------
# Pipeline exercises over the TPC-H-ish fixtures (SURVEY §2.3: joins come
# free from Spark; declared queries use them to exercise the engine).
# Decimal-cast per row before SUM for cross-engine exactness.
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("d_sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("d_sum_base"),
            F.sum(disc_price).alias("d_sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("d_sum_qty").cast("double").alias("sum_qty"),
        F.col("d_sum_base").cast("double").alias("sum_base_price"),
        F.col("d_sum_disc").cast("double").alias("sum_disc_price"),
        (F.col("d_sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join pipeline: customer ⋈ orders ⋈ lineitem.

    The customer side is small → broadcast hint; lineitem⋈orders is the big
    shuffle join Catalyst plans (sort-merge / AQE-skew-aware at scale).
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(revenue).alias("d_rev"), F.count(F.lit(1)).alias("n_lines"))
    )
    return joined.select(
        "o_orderkey", F.col("d_rev").cast("double").alias("revenue"), "n_lines"
    )


SQL_SEGMENT_REVENUE = """
SELECT o_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join across six tables: revenue per nation
    where the supplier and the customer share the nation, restricted to
    one region. The fact join (lineitem ⋈ orders) is the single big
    sort-merge exchange; every dimension (customer, supplier, nation,
    region) broadcasts — one shuffle total for a 6-table query, the
    canonical star-schema plan a 100 TB warehouse relies on."""
    nat = _t(spark, sf_dir, "nation").join(
        F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_REGION_REVENUE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order hunt: orders whose total line
    quantity exceeds 150, with customer context. The HAVING aggregate
    runs map-combined on the fact table FIRST (the selective step), and
    only the few survivors join to orders/customer — aggregate-then-join
    beats join-then-aggregate by the selectivity factor at 100 TB.
    Decimal quantity sums; qualifying-set membership is engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty")
    )
    big = qty.where(F.col("total_qty") > 150)
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "c_custkey",
            "c_name",
            F.col("total_qty").cast("double").alias("total_qty"),
            F.col("o_totalprice").alias("total_price"),
        )
    )


SQL_BIG_ORDERS = """
SELECT o_orderkey, c_custkey, c_name,
       CAST(total_qty AS DOUBLE) AS total_qty,
       o_totalprice AS total_price
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional aggregation: ECONOMY parts' share of
    total revenue, per month. One broadcast dim join + one map-combined
    agg; both revenue sums are decimal-exact, the percentage is ONE
    double division — engine-identical."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    # integer yyyymm, not a DATE column: cross-engine date dtype hashing
    # is the one output type the oracle gate cannot normalize (see
    # cohort_retention's integer day indexes)
    month = (
        F.year("l_shipdate") * F.lit(100) + F.month("l_shipdate")
    ).cast("int")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.groupBy(month.alias("ship_month")).agg(
        F.sum(F.when(F.col("p_type") == "ECONOMY", revenue)).alias("__promo"),
        F.sum(revenue).alias("__total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.select(
        "ship_month",
        (
            F.lit(100.0)
            * F.coalesce(F.col("__promo"), F.lit(0).cast("decimal(18,4)")).cast(
                "double"
            )
            / F.col("__total").cast("double")
        ).alias("promo_pct"),
        "n_lines",
    )


SQL_PROMO_SHARE = """
SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ship_month,
       100.0 * CAST(coalesce(
                 sum(CASE WHEN p_type = 'ECONOMY'
                     THEN CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4)) END),
                 CAST(0 AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped analysis: the 20 customers losing the most
    revenue to returned items (l_returnflag = 'R'), with their nation.
    One fact shuffle (lineitem ⋈ orders), broadcast customer/nation,
    bounded top-20 with a total-order tiebreak on the customer key."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).alias("d_rev"), F.count(F.lit(1)).alias("n_returns"))
    )
    return (
        joined.select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("d_rev").cast("double").alias("lost_revenue"),
            "n_returns",
        )
        .orderBy(F.col("d_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_RETURNED_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
       CAST(d_rev AS DOUBLE) AS lost_revenue, n_returns
FROM (
  SELECT c_custkey, c_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS d_rev,
         count(*) AS n_returns
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3
)
ORDER BY d_rev DESC, c_custkey ASC
LIMIT 20
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join (round 5): events (5-value event_type —
    a deliberately hot join key) joined to a per-type weight dim through
    ``operators/skew.salted_join`` (salt=8: the big side hashes into 8
    sub-keys, the dim replicates 8×), then aggregated per type. The
    oracle runs the PLAIN join — parity proves salting is result-
    invariant while spreading each hot key across 8 reducers. Weighted
    revenue accumulates as DECIMAL × int (order-free, engine-exact)."""
    from ml_hadoop_experiment_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(_EVENT_TYPES)],
        "event_type string, weight int",
    )
    joined = salted_join(ev, dim, on=["event_type"], salt=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)") * F.col("weight"))
            .cast("double")
            .alias("weighted_value"),
        )
    )


def _sql_salted_join() -> str:
    dim_rows = ", ".join(f"('{t}', {i + 1})" for i, t in enumerate(_EVENT_TYPES))
    return f"""
WITH dim(event_type, weight) AS (VALUES {dim_rows})
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2)) * d.weight) AS DOUBLE)
         AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1
"""


SQL_SALTED_JOIN = _sql_salted_join()


# --------------------------------------------------------------------------
# Relational breadth (free from Spark per SURVEY §2.4/§2.6 — declared so the
# engine's window/rollup/anti-join planning is exercised and oracle-gated).
# --------------------------------------------------------------------------

def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price (window rank; ties broken by
    partkey so results are total-ordered)."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


SQL_WINDOW_TOPK = """
SELECT p_brand, p_partkey, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (
           PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC
         ) AS rk
  FROM part
) WHERE rk <= 3
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping-sets family): order counts by
    (orderstatus, orderpriority) with subtotals and grand total."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )


SQL_ROLLUP_COUNTS = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent orders (left-anti join over a filtered
    right side — non-empty on the fixtures, so the hash check is
    non-trivial; oracle NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (codegen'd
    get_json_object; DuckDB twin json_extract_string)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
    )


SQL_JSON_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
FROM events
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — top-15 heaviest `user_id` keys of the
    events table with share, skew factor, and the recommended
    `salted_join` salt count per hot key (operators/diagnostics.py).
    The grand totals reduce the SAME exchange as the per-key counts
    (ReusedExchange: the table is scanned once), and the top-N is
    TakeOrderedAndProject with a key-ascending tiebreak."""
    from ml_hadoop_experiment_spark.operators.diagnostics import skew_report

    return skew_report(_t(spark, sf_dir, "events"), ["user_id"], top_n=15)


def _sql_skew_report() -> str:
    from ml_hadoop_experiment_spark.operators.diagnostics import (
        skew_report_sql,
    )

    return skew_report_sql("events", ["user_id"], top_n=15)


SQL_SKEW_REPORT = _sql_skew_report()


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot delta — two overlapping crawls of `documents`
    (old: doc_id < 400; new: doc_id >= 100, with every 7th doc's text
    revised) diffed into added/removed/changed rows
    (operators/diagnostics.py). Unchanged keys vanish before the one
    (key, digest) exchange; payloads never shuffle. The revision is a
    pure string concat so both engines derive the identical changed
    set (upper() was rejected: Unicode case mapping is
    engine-dependent)."""
    from ml_hadoop_experiment_spark.operators.diagnostics import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    revised = F.when(
        (F.col("doc_id") % 7 == 0) & F.col("text").isNotNull(),
        F.concat(F.col("text"), F.lit(" [rev2]")),
    ).otherwise(F.col("text"))
    old = docs.where(F.col("doc_id") < 400)
    new = docs.where(F.col("doc_id") >= 100).withColumn("text", revised)
    return snapshot_diff(old, new, ["doc_id"], ["text", "lang", "source"])


def _sql_snapshot_diff() -> str:
    from ml_hadoop_experiment_spark.operators.diagnostics import (
        snapshot_diff_sql,
    )

    new_side = (
        "(SELECT doc_id, CASE WHEN doc_id % 7 = 0 AND text IS NOT NULL "
        "THEN text || ' [rev2]' ELSE text END AS text, lang, source "
        "FROM documents WHERE doc_id >= 100)"
    )
    return snapshot_diff_sql(
        "(SELECT * FROM documents WHERE doc_id < 400)",
        new_side,
        ["doc_id"],
        ["text", "lang", "source"],
    )


SQL_SNAPSHOT_DIFF = _sql_snapshot_diff()


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate — six predicate rules over lineitem evaluated
    in ONE scan (operators/diagnostics.py): every rule is a
    sum(CASE...) column of a single aggregate, so rule evaluation is
    map-side codegen and the only exchange is the one-row combine."""
    from ml_hadoop_experiment_spark.operators.diagnostics import dq_audit

    li = _t(spark, sf_dir, "lineitem")
    return dq_audit(
        li,
        [
            (
                "quantity_out_of_range",
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            ),
            ("discount_above_cap", F.col("l_discount") > 0.08),
            ("negative_tax", F.col("l_tax") < 0),
            ("price_not_positive", F.col("l_extendedprice") <= 0),
            (
                "returnflag_bad_domain",
                ~F.col("l_returnflag").isin("A", "N", "R"),
            ),
            ("null_shipdate", F.col("l_shipdate").isNull()),
        ],
    )


def _sql_dq_audit() -> str:
    from ml_hadoop_experiment_spark.operators.diagnostics import dq_audit_sql

    return dq_audit_sql(
        "lineitem",
        [
            ("quantity_out_of_range", "l_quantity < 1 OR l_quantity > 50"),
            ("discount_above_cap", "l_discount > 0.08"),
            ("negative_tax", "l_tax < 0"),
            ("price_not_positive", "l_extendedprice <= 0"),
            ("returnflag_bad_domain", "l_returnflag NOT IN ('A','N','R')"),
            ("null_shipdate", "l_shipdate IS NULL"),
        ],
    )


SQL_DQ_AUDIT = _sql_dq_audit()


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order ranking of every order by (price, key) through the
    two-phase distributed prefix sum — the scalable replacement for the
    single-partition row_number() window. Returns the 100 lowest ranks
    for a bounded result; the RANKING itself is computed over the full
    table at cluster parallelism."""
    from ml_hadoop_experiment_spark.plans.prefix import with_global_rank

    orders = _t(spark, sf_dir, "orders")
    ranked = with_global_rank(
        orders.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
    )
    return ranked.where(F.col("rank") <= 100).select(
        "rank", "o_orderkey", "o_totalprice"
    )


SQL_GLOBAL_RANK = """
SELECT rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 100
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile of lineitem (counts, nulls, exact
    distincts, min/max, decimal-exact mean) unpivoted to one row per
    column via stack — the pre-training data-quality snapshot. Exact
    count(DISTINCT) is the oracle yardstick; approx_count_distinct is
    the documented 100 TB path.

    r13: the operator's single-aggregation form plans the three exact
    count(DISTINCT)s through ONE Expand — every row triplicated into a
    single 1.8M-row hash-aggregate stage, measured 1.6-1.7 s of the
    query's 2.4-2.8 s (event-log receipt in OPTIMIZATION_r13.md). This
    declared form splits each distinct into its own
    dedup-then-count subtree crossJoined onto the non-distinct
    aggregate: AQE materializes the four independent stages
    CONCURRENTLY (guide §2.6 — the idle-capacity overlap), no row is
    ever replicated, and the biggest subtree (583k-value dedup) bounds
    the wall clock: 2.11 -> 0.78 s warm, rows identical (A/B receipt in
    OPTIMIZATION_r13.md; the `profile_numeric` operator keeps the
    one-scan form for callers that want a single pass at the cost of
    the Expand).

    The trade this form makes (r14 note, per the r13 verdict): the
    table is SCANNED FOUR TIMES (once per subtree) instead of once —
    cheap here where the scan is a 25 MB cached parquet and the Expand
    was the bottleneck, but at 100 TB scan cost dominates and 4 passes
    lose to 1. The declared exact profile is the oracle yardstick
    form; `profile_approx` (one pass, HLL distincts, no Expand, no
    re-scan) remains the documented 100 TB path and is benched
    separately."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_extendedprice", "l_quantity", "l_discount"]
    decimals = "decimal(25,6)"
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("double").alias(f"{c}__min"),
            F.max(F.col(c)).cast("double").alias(f"{c}__max"),
            (
                F.sum(F.col(c).cast(decimals)).cast("double")
                / F.count(F.col(c))
            ).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    for c in cols:
        # count(DISTINCT c) ignores NULLs — match it exactly
        wide = wide.crossJoin(
            li.where(F.col(c).isNotNull())
            .select(c)
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"{c}__dist"))
        )
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__dist, {c}__min, {c}__max, {c}__mean"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_rows, n_nulls, n_distinct, min, max, mean)"
        )
    )


def _sql_profile_table() -> str:
    from ml_hadoop_experiment_spark.operators.stats import profile_numeric_sql

    return profile_numeric_sql(
        "lineitem", ["l_extendedprice", "l_quantity", "l_discount"]
    )


SQL_PROFILE_TABLE = _sql_profile_table()
