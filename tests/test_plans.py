"""Physical-plan regression tests: the plans we shipped are the plans we
want at 100 TB — filters pushed to parquet, columns pruned at the scan,
small dims broadcast, per-row pipelines codegen'd with no Python crossing,
no redundant shuffles. If a refactor silently breaks one of these, the
operator still returns correct rows but stops scaling; these tests make
that a test failure instead of a production incident."""

from __future__ import annotations

import os

import pytest

from ml_hadoop_experiment_spark.plans.optimize import (
    executed_plan_str,
    wholestage_codegen_spans,
)
from ml_hadoop_experiment_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.001")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _read_schema_columns(plan: str, table: str) -> list[str]:
    """Column names in the ReadSchema of the scan over ``table``."""
    for block in plan.split("(")[1:]:
        if table not in block:
            continue
        for line in block.splitlines():
            if line.startswith("ReadSchema"):
                struct = line.split("struct<", 1)[-1].rstrip(">")
                return [f.split(":")[0] for f in struct.split(",") if f]
    return []


def test_udf_scan_prunes_columns(spark):
    """The 16-column lineitem scan must read only the 4 columns the UDF
    query touches — column pruning through the ArrowEvalPython node."""
    df = QUERIES["udf_linear_score"](spark, SF_DIR)
    cols = _read_schema_columns(_formatted(df), "lineitem")
    assert set(cols) == {
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    }, cols


def test_pricing_summary_pushes_filter_and_prunes(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    plan = _formatted(df)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), pushed
    # only the 6 touched columns are read
    cols = _read_schema_columns(plan, "lineitem")
    assert len(cols) <= 6, cols


def test_segment_revenue_broadcasts_dim(spark):
    """customer (filtered dim) must come in via BroadcastHashJoin — never a
    shuffle of the fact table against a tiny dim."""
    df = QUERIES["segment_revenue"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert "BroadcastHashJoin" in plan
    # the mktsegment filter is pushed into the customer scan
    fplan = _formatted(df)
    pushed = [ln for ln in fplan.splitlines() if "PushedFilters" in ln]
    assert any("c_mktsegment" in ln for ln in pushed), pushed


def test_sampling_is_pure_codegen(spark):
    """Stratified sampling is filter+project only: no shuffle (Exchange),
    no Python evaluation node."""
    df = QUERIES["sample_stratified"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert wholestage_codegen_spans(df) >= 1


def test_text_stats_is_pure_codegen(spark):
    """Language-id / quality / token counts never cross into Python."""
    df = QUERIES["text_stats"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert "EvalPython" not in plan, plan


def test_simhash_is_one_arrow_projection(spark):
    """r14: the fingerprint is ONE vectorized ArrowEvalPython projection
    (tokenization stays JVM-side) — not 32 HOF filter scans (the pre-r14
    codegen tree, whose per-plan analysis/Janino cost dominated the
    simhash query band), and never row-at-a-time BatchEvalPython."""
    df = QUERIES["simhash"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_exact_single_shuffle(spark):
    """Digest-keyed dedup needs exactly one exchange (the window's hash
    partitioning); a second one means the digest column broke partial
    aggregation."""
    df = QUERIES["dedup_exact"](spark, SF_DIR)
    plan = executed_plan_str(df)
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges == 1, f"{exchanges} shuffles:\n{plan}"


def test_vocab_build_partial_aggregation(spark):
    """groupBy(key, value).count() must plan partial (map-side) + final
    hash aggregation around a single exchange."""
    df = QUERIES["vocab_build"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_plan_report_counts_a_cached_plan_once(spark):
    """A probe of the pinned SimHash index reads a cached relation whose
    AQE plan prints its final and its initial plan; the plan-shape table
    counts the final one only: the index's one hash repartition and the
    two fingerprint projections (probe side and index side)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_report import describe

    plan = executed_plan_str(QUERIES["simhash_index"](spark, SF_DIR))
    assert "== Initial Plan ==" in plan
    d = describe(plan)
    assert (d["shuffles"], d["python"]) == (1, 2), plan


def test_inference_udf_is_arrow(spark):
    """The inference column must evaluate as ArrowEvalPython (vectorized),
    not row-at-a-time BatchEvalPython."""
    df = QUERIES["udf_linear_score"](spark, SF_DIR)
    plan = executed_plan_str(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


# every declared query whose executed plan contains a
# BroadcastNestedLoopJoin (SCALE.md's adjudicated table; regenerate with
# tools/plan_report.py if a new one appears)
_BNLJ_QUERIES = [
    "ann_topk_batch",
    "bigram_xent",
    "bm25_topk",
    "chi_square",
    "dsir_select",
    "heavy_hitters",
    "hll_audit",
    "kmv_source_overlap",
    "ks_drift",
    "mixture_plan",
    "mixture_sample",
    "pmi_bigrams",
    "profile_table",
    "psi_drift",
    "quantized_topk",
    "series_topk",
    "skew_report",
    "tfidf_topk",
    "unigram_encode",
    "unigram_xent",
    "user_similarity",
    "wordpiece_encode",
]

# a BNLJ's cost is streamed-side rows x build-side rows: fine for a
# 1-row totals frame or a k-row sketch, quadratic blow-up for a
# data-sized side. 4096 is far above every legitimate build side in
# the engine (totals=1, sketches<=256, dims<=40) and far below any
# data-sized frame even at sf0.001.
_BNLJ_BOUND = 4096


@pytest.mark.parametrize("name", _BNLJ_QUERIES)
def test_bnlj_build_sides_are_bounded(spark, name):
    """No BroadcastNestedLoopJoin in any declared query may have a
    data-sized build side — measured from the BroadcastExchange's
    numOutputRows metric, not inferred (the r10 verdict's ask)."""
    from ml_hadoop_experiment_spark.plans.inspect import bnlj_build_bounds

    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    bounds = bnlj_build_bounds(df)
    assert bounds, f"{name} no longer has a BNLJ — drop it from the list"
    assert all(b <= _BNLJ_BOUND for b in bounds), (name, bounds)
