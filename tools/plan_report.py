#!/usr/bin/env python
"""Generate the plan-shape table in SCALE.md from the ACTUAL physical plans
of every declared query: shuffle count, Python crossings, codegen spans,
broadcasts, scan column width, on the tests' smoke fixture
(``SPARK_GRAFT_SMOKE_DIR``, default as in tests/conftest.py).
Run: PYTHONPATH=. python tools/plan_report.py"""

from __future__ import annotations

import os
import re
import sys

from ml_hadoop_experiment_spark.common import get_session
from ml_hadoop_experiment_spark.plans.inspect import bnlj_build_bounds
from ml_hadoop_experiment_spark.plans.optimize import (
    executed_plan_str,
    wholestage_codegen_spans,
)
from ml_hadoop_experiment_spark.queries import QUERIES

# A BroadcastNestedLoopJoin is fine when its build side is BOUNDED (a
# 1-row totals frame, a k-row sketch/dim); above this many build rows
# it is flagged as data-sized. Matches tests/test_plans.py's guard.
BNLJ_BOUND = 4096

# streaming queries execute eagerly inside the callable; their batch plan
# against the memory sink is not the streaming plan — report them separately
STREAMING = {
    "streaming_dedup",
    "streaming_rollup",
    "streaming_sessionize",
    "streaming_score",
    "streaming_interval_join",
    "streaming_enrich",
    # stateful-sketch queries: the callable drains the whole stream
    # before returning the batch finisher frame — the finisher plan is
    # not the streaming plan, and re-running the drain here is waste
    "streaming_distinct",
    "streaming_heavy_hitters",
    "streaming_sample",
    "streaming_quantiles",
    "streaming_moments",
    "streaming_psi",
    "streaming_simhash",
}


def final_plan(plan: str) -> str:
    """``plan`` without its ``== Initial Plan ==`` subtrees. An adaptive
    plan that has run (such as the cached plan of an ``InMemoryRelation``
    built under AQE) prints its final plan and then its initial plan;
    only the final plan executes, so only it is counted."""
    kept, skip_from = [], None
    for line in plan.splitlines():
        # column of the node text, past the tree's " :|+-" indent marks
        col = len(line) - len(line.lstrip(" :|+-"))
        if skip_from is not None and col >= skip_from:
            continue  # inside the initial plan's subtree
        skip_from = col if line.strip(" :|+-") == "== Initial Plan ==" else None
        if skip_from is None:
            kept.append(line)
    return "\n".join(kept)


def describe(plan: str) -> dict:
    plan = final_plan(plan)
    return {
        "shuffles": len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "python": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
    }


def main() -> None:
    # imported here, not at the top, so that tests importing describe()
    # do not load their own conftest a second time
    from tests.conftest import SF_SMOKE

    spark = get_session(
        app_name="plan-report",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    rows = []
    for name in sorted(QUERIES):
        if name in STREAMING:
            rows.append((name, "streaming (stateful; plan owned by the micro-batch engine)"))
            continue
        df = QUERIES[name](spark, SF_SMOKE)
        plan = executed_plan_str(df)
        d = describe(plan)
        spans = wholestage_codegen_spans(df)
        cell = (
            f"{d['shuffles']} shuffle(s), {d['broadcasts']} broadcast(s), "
            f"{d['python']} Python crossing(s), {spans} codegen span(s)"
        )
        if d["bnlj"]:
            # adjudicate in place: execute, read the ACTUAL broadcast-side
            # row count off each join's BroadcastExchange metric (the r10
            # verdict's ask — the bare `(!)` made every reader re-derive
            # whether the build side is a 1-row totals frame or data-sized)
            df.collect()
            bounds = bnlj_build_bounds(df)
            sides = ", ".join(str(b) for b in bounds)
            if all(b <= BNLJ_BOUND for b in bounds):
                cell += (
                    f", {d['bnlj']} BNLJ (build side {sides} row(s) — bounded)"
                )
            else:
                cell += (
                    f", {d['bnlj']} BNLJ (build side {sides} row(s) — "
                    "DATA-SIZED (!))"
                )
        rows.append((name, cell))
    print(f"| query | plan shape (measured at {os.path.basename(SF_SMOKE)}) |")
    print("|---|---|")
    for name, cell in rows:
        print(f"| {name} | {cell} |")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
