"""plans/optimize utilities: salted join equivalence, fan_out guard,
partition diagnostics."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.plans.optimize import (
    executed_plan_str,
    fan_out,
    partition_sizes,
    salted_join,
    wholestage_codegen_spans,
)


def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result: same rows as a plain
    equi-join, even with a heavily skewed key."""
    left = spark.createDataFrame(
        [(1, f"l{i}") for i in range(500)] + [(2, "rare")], "k int, lv string"
    )
    right = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k int, rv string")

    plain = left.join(right, "k").select("k", "lv", "rv")
    salted = salted_join(left, right, "k", salt=4).select("k", "lv", "rv")

    assert salted.count() == plain.count() == 501
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, "a"), (9, "no-match")], "k int, lv string")
    right = spark.createDataFrame([(1, "one")], "k int, rv string")
    out = salted_join(left, right, "k", salt=3, how="left").collect()
    by_key = {r["k"]: r["rv"] for r in out}
    assert by_key == {1: "one", 9: None}


def test_fan_out_guard(spark):
    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    wide = fan_out(df)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert fan_out(wide) is wide  # already wide -> no-op, same object
    assert fan_out(df, min_partitions=1) is df
    assert wide.count() == 1000


def test_fan_out_scan_only_placement_contract():
    """fan_out's ``df.rdd.getNumPartitions()`` probe materializes query
    stages when AQE has already planned a shuffle upstream — the same
    eager-under-AQE hazard plans/prefix.py removed in round 8 (see
    prefix.py:270-295). The engine's placement CONTRACT is therefore:
    fan_out is called ONLY immediately after a parquet scan (before any
    shuffle), where the probe reads leaf-scan partitioning and triggers
    nothing. The contract is pinned HERE, mechanically: every call site
    of fan_out inside the engine package must be _t's scan-adjacent one,
    which takes the scan and its partition count from ``_scan`` (the
    memoized probe of the same leaf scan). A new call site fails this
    test until its placement is audited and listed below."""
    import re
    from pathlib import Path

    import ml_hadoop_experiment_spark as pkg

    root = Path(pkg.__file__).parent
    call_sites = []
    for py in root.rglob("*.py"):
        text = py.read_text()
        for m in re.finditer(r"fan_out\s*\(", text):
            line = text[: m.start()].count("\n") + 1
            # skip the definition itself and import statements
            pre = text[max(0, m.start() - 60): m.start()]
            if "def " in pre.split("\n")[-1] or "import" in pre.split("\n")[-1]:
                continue
            call_sites.append((py.relative_to(root).as_posix(), line))
    assert call_sites == [
        ("queries/_shared.py", _t_fan_out_line())
    ], call_sites
    # and that one site sits in _t, directly after the parquet scan, and
    # _scan's own partition probe runs on the bare scan
    from ml_hadoop_experiment_spark.queries import _shared as q
    import inspect

    src = inspect.getsource(q._t)
    scan_pos = src.index("_scan(spark")
    call_pos = src.index("fan_out(df")
    between = src[scan_pos:call_pos]
    assert "groupBy" not in between and "join" not in between and (
        "repartition" not in between
    ), "_t must not shuffle between the scan and the fan_out probe"
    scan_src = inspect.getsource(q._scan)
    assert ".parquet(path)" in scan_src
    assert "df.rdd.getNumPartitions()" in scan_src
    for op in ("groupBy", "join", "repartition"):
        assert op not in scan_src, f"_scan must count the bare scan, not a {op}"


def _t_fan_out_line() -> int:
    import inspect

    from ml_hadoop_experiment_spark.queries import _shared as q

    src, start = inspect.getsourcelines(q._t)
    for i, line in enumerate(src):
        if "fan_out(df" in line:
            return start + i
    raise AssertionError("fan_out call not found in queries._t")


def test_materialize_ctes_rewrites_cte_heads_only():
    """Only ``WITH``-list heads get the hint: not a named window, not text
    in a string literal, not a head with a column list."""
    import duckdb

    from ml_hadoop_experiment_spark.queries._shared import _materialize_ctes

    cases = {
        "WITH a AS (SELECT 1 AS x), b(y) AS (SELECT 2) "
        "SELECT sum(x) OVER w AS s FROM a WINDOW w AS (ORDER BY x)": (
            "WITH a AS MATERIALIZED (SELECT 1 AS x), b(y) AS (SELECT 2) "
            "SELECT sum(x) OVER w AS s FROM a WINDOW w AS (ORDER BY x)"
        ),
        "WITH a AS (SELECT 'k AS (' AS t) SELECT t FROM a": (
            "WITH a AS MATERIALIZED (SELECT 'k AS (' AS t) SELECT t FROM a"
        ),
    }
    for sql, want in cases.items():
        assert _materialize_ctes(sql) == want
        duckdb.sql(want).fetchall()  # still valid SQL


def test_partition_sizes(spark):
    df = spark.range(100).repartition(4)
    sizes = partition_sizes(df)
    assert sum(n for _, n in sizes) == 100
    assert len(sizes) <= 4


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-bucketed tables must join with ZERO shuffles — the write-time
    bucketing replaces the per-query exchange."""
    from ml_hadoop_experiment_spark.plans.optimize import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                   "b_orders", "o_orderkey", buckets=8)
    write_bucketed(lineitem.select("l_orderkey", "l_quantity"),
                   "b_lineitem", "l_orderkey", buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at 100 TB neither side broadcasts — force the non-broadcast plan
        # the bucketing is designed for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = executed_plan_str(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and it still returns the right rows
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_codegen_span_counter(spark):
    df = spark.range(100).select((F.col("id") * 2).alias("x")).filter("x > 10")
    assert wholestage_codegen_spans(df) >= 1
