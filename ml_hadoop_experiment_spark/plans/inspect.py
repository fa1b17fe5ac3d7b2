"""Executed-plan inspection: measured receipts for plan audits.

These helpers are consumed by tests and tools/plan_report.py, never by
a query plan.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame


def bnlj_build_bounds(df: DataFrame) -> List[int]:
    """ACTUAL broadcast-side row count of every BroadcastNestedLoopJoin
    in the executed plan, in plan order (empty list = no BNLJ).

    A BNLJ is the right plan exactly when its build side is BOUNDED —
    a 1-row totals frame, a k-row sketch/type dim — and a scale bug
    when it is data-sized (the cross product re-evaluates the streamed
    side per build row). This reads the ``numOutputRows`` metric off
    the ``BroadcastExchange`` feeding each BNLJ's build side, so the
    adjudication is measured, not inferred from operator names.

    The DataFrame must have been EXECUTED (``collect``/``count`` on the
    same instance) so AQE has finalized the plan and populated metrics;
    raises if a BNLJ's exchange metric can't be found (an unadjudicated
    BNLJ must fail loudly, not pass silently).
    """

    def _resolve(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return _resolve(node.executedPlan())
        if "QueryStageExec" in cls:
            return _resolve(node.plan())
        return node

    def _walk(node, out):
        node = _resolve(node)
        if node.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            out.append(node)
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), out)

    def _broadcast_rows(node):
        node = _resolve(node)
        cls = node.getClass().getSimpleName()
        if cls == "BroadcastExchangeExec":
            return int(node.metrics().apply("numOutputRows").value())
        if cls == "ReusedExchangeExec":
            # a leaf that points AT the original exchange (same rows,
            # same metric) — follow it instead of giving up
            return _broadcast_rows(node.child())
        ch = node.children()
        for i in range(ch.size()):
            r = _broadcast_rows(ch.apply(i))
            if r is not None:
                return r
        return None

    joins: list = []
    _walk(df._jdf.queryExecution().executedPlan(), joins)
    bounds: List[int] = []
    for j in joins:
        build = str(j.buildSide().toString())
        ch = j.children()
        side = ch.apply(1 if build == "BuildRight" else 0)
        rows = _broadcast_rows(side)
        if rows is None:
            raise RuntimeError(
                "bnlj_build_bounds: BroadcastExchange metric not found "
                "under the build side — execute the DataFrame first"
            )
        bounds.append(rows)
    return bounds


def files_read(df: DataFrame) -> int:
    """Total files actually read by the executed plan's file scans —
    the partition-pruning receipt (a pruned scan reads fewer files
    than the table holds). Reads the ``numFiles`` metric off every
    ``FileSourceScanExec``; execute the DataFrame first."""

    def _resolve(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return _resolve(node.executedPlan())
        if "QueryStageExec" in cls:
            return _resolve(node.plan())
        return node

    def _walk(node, acc):
        node = _resolve(node)
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            acc.append(int(node.metrics().apply("numFiles").value()))
        if cls == "ReusedExchangeExec":
            return  # points at an already-counted subtree
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), acc)

    acc: list = []
    _walk(df._jdf.queryExecution().executedPlan(), acc)
    return sum(acc)
