"""Spans, the streaming listener and the per-layer metrics of a traced run.

Spans are recorded around the benchmark's calls into each module
(pass -> call -> build/sink, plus release, set-up and source/index
steps) and kept in memory. In a traced run the Spark event log and a
``StreamingQueryListener`` add what happens inside the engine; jobs
and micro-batches are attributed to the call whose time window holds
their start, because job groups do not reach jobs started on stream
threads.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
# PythonSQLMetrics names (Spark 4.1) carried as task accumulables
PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
PY_ROWS = "number of output rows"
PY_NODE_HINTS = ("Python", "Pandas", "Arrow")
SUM_TOLERANCE = 0.05


class Spans:
    """In-memory span recorder; a child inherits its parent's call id."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: int | None = None  # stamped on every span opened

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.records),
            "parent": parent["id"] if parent else None,
            "call": attrs.pop("call", parent["call"] if parent else None),
            "name": name,
            "pass": self.pass_id,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()

    def named(self, name: str, **match) -> list[dict]:
        return [
            r
            for r in self.records
            if r["name"] == name and all(r.get(k) == v for k, v in match.items())
        ]

    def children(self, rec: dict, name: str) -> list[dict]:
        return [r for r in self.records if r["parent"] == rec["id"] and r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report as a plain dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _window_of(windows: list[tuple[float, float, int]], t: float, slack: float = 0.0):
    for lo, hi, idx in windows:
        if lo - slack <= t <= hi + slack:
            return idx
    return None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _python_row_accums(plan: dict, out: set) -> None:
    if any(h in plan.get("nodeName", "") for h in PY_NODE_HINTS):
        for m in plan.get("metrics", []):
            if m.get("name") == PY_ROWS:
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_accums(child, out)


class EventLog:
    """The parts of one uncompressed Spark event log the metrics need."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        self.py_row_accums: set[int] = set()
        with open(files[0]) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[jid] = {
                "start": ev["Submission Time"] / 1000,
                "end": None,
                "exec": int(exec_id) if exec_id is not None else None,
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = {"start": ev["time"] / 1000}
            _python_row_accums(ev.get("sparkPlanInfo", {}), self.py_row_accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_row_accums(ev.get("sparkPlanInfo", {}), self.py_row_accums)


def _accum(task: dict, names) -> float:
    names = (names,) if isinstance(names, str) else names
    return sum(
        float(a.get("Update", 0) or 0)
        for a in task["Task Info"].get("Accumulables", [])
        if a.get("Name") in names
    )


def layer_metrics(
    spans: Spans,
    log: EventLog,
    progress: list[dict],
    traced_passes: list[dict],
    cores: int,
    after_pass: dict,
) -> tuple[dict[str, float], list[str]]:
    """Per-pass layer metrics over ``traced_passes``, plus the calls whose
    layer components do not add up to their wall time."""
    n = max(1, len(traced_passes))
    pass_ids = {p["pass"] for p in traced_passes}
    calls = [c for c in spans.named("call") if c["pass"] in pass_ids]
    m: dict[str, float] = {}

    def per_pass(v: float) -> float:
        return v / n

    def dur(name: str, layer: str) -> float:
        return sum(dur_of(spans, c, name) for c in calls if c["layer"] == layer)

    # common
    m["common.session_s"] = sum(r["dur"] for r in spans.named("session"))
    m["common.release_s"] = per_pass(
        sum(r["dur"] for r in spans.named("release") if r["pass"] in pass_ids)
    )
    m["common.cached_after_pass"] = after_pass["cached"]
    m["common.sinks_after_pass"] = after_pass["sinks"]
    m["common.streams_after_pass"] = after_pass["streams"]

    # queries / sources / operators, from spans
    m["queries.build_s"] = per_pass(dur("build", "queries"))
    m["queries.sink_s"] = per_pass(dur("sink", "queries"))
    # tfrecord_roundtrip writes eagerly while it builds its frame, and the
    # read-back runs when the sink consumes that frame
    m["sources.write_s"] = per_pass(dur("build", "sources"))
    m["sources.read_s"] = per_pass(dur("sink", "sources"))
    files = [r for r in spans.named("tfrecord_files") if r["pass"] in pass_ids]
    m["sources.write_mb"] = per_pass(sum(r["bytes"] for r in files) / MB)
    m["sources.rows"] = per_pass(sum(r["rows"] for r in files))
    m["operators.index_build_s"] = sum(r["dur"] for r in spans.named("index_build"))
    m["operators.index_probe_s"] = per_pass(dur("build", "operators") + dur("sink", "operators"))

    # attribute jobs to calls, and to build/sink within a call
    windows = [(c["start"], c["end"], i) for i, c in enumerate(calls)]
    phase_windows = []
    for c in calls:
        for ph in ("build", "sink"):
            for r in spans.children(c, ph):
                phase_windows.append((r["start"], r["end"], (c["layer"], ph)))
    call_jobs: dict[int, list[int]] = {}
    jobs_by_phase = {"build": 0, "sink": 0}
    for jid, j in log.jobs.items():
        idx = _window_of(windows, j["start"], slack=0.002)
        if idx is None:
            continue
        call_jobs.setdefault(idx, []).append(jid)
        ph = _window_of(phase_windows, j["start"], slack=0.002)
        if ph is not None and ph[0] == "queries":
            jobs_by_phase[ph[1]] += 1
    m["queries.build_jobs"] = per_pass(jobs_by_phase["build"])
    m["queries.sink_jobs"] = per_pass(jobs_by_phase["sink"])

    job_ids = {jid for js in call_jobs.values() for jid in js}
    stage_ids = {s for s, j in log.stage_job.items() if j in job_ids}
    tasks = [t for t in log.tasks if t["Stage ID"] in stage_ids]
    m["spark.jobs"] = per_pass(len(job_ids))
    m["spark.stages"] = per_pass(len(stage_ids & set(log.stages)))
    m["spark.tasks"] = per_pass(len(tasks))

    span_total, gap_total, unbalanced = 0.0, 0.0, []
    for i, c in enumerate(calls):
        wall = c["dur"]
        ivs = []
        for jid in call_jobs.get(i, []):
            j = log.jobs[jid]
            end = j["end"] if j["end"] is not None else c["end"]
            ivs.append((max(j["start"], c["start"]), min(end, c["end"])))
        job_span = _union(ivs)
        span_total += job_span
        gap_total += wall - job_span
        parts = dur_of(spans, c, "build") + dur_of(spans, c, "sink")
        late = [jid for jid in call_jobs.get(i, []) if (log.jobs[jid]["end"] or 0) > c["end"] + 0.002]
        if abs(parts - wall) > SUM_TOLERANCE * wall or late:
            unbalanced.append(
                f"{c['label']}@pass{c['pass']}: build+sink {parts:.3f} s vs wall "
                f"{wall:.3f} s, {len(late)} job(s) ending after the call"
            )
    m["spark.job_span_s"] = per_pass(span_total)
    m["spark.driver_gap_s"] = per_pass(gap_total)

    first_job: dict[int, float] = {}
    for jid in job_ids:
        j = log.jobs[jid]
        if j["exec"] is not None:
            first_job[j["exec"]] = min(first_job.get(j["exec"], j["start"]), j["start"])
    plan = sum(
        max(0.0, t - log.executions[ex]["start"])
        for ex, t in first_job.items()
        if ex in log.executions
    )
    m["spark.plan_s"] = per_pass(plan)

    def tm(t: dict, key: str) -> float:
        return float((t.get("Task Metrics") or {}).get(key, 0) or 0)

    def sub(t: dict, group: str, key: str) -> float:
        return float(((t.get("Task Metrics") or {}).get(group) or {}).get(key, 0) or 0)

    task_wall = sum(
        (t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000 for t in tasks
    )
    m["spark.task_s"] = per_pass(sum(tm(t, "Executor Run Time") for t in tasks) / 1000)
    m["spark.cpu_s"] = per_pass(sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9)
    m["spark.gc_s"] = per_pass(sum(tm(t, "JVM GC Time") for t in tasks) / 1000)
    m["spark.slot_util"] = task_wall / (span_total * cores) if span_total > 0 else 0.0
    m["spark.input_mb"] = per_pass(sum(sub(t, "Input Metrics", "Bytes Read") for t in tasks) / MB)
    m["spark.shuffle_write_mb"] = per_pass(
        sum(sub(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks) / MB
    )
    m["spark.shuffle_read_mb"] = per_pass(
        sum(
            sub(t, "Shuffle Read Metrics", "Remote Bytes Read")
            + sub(t, "Shuffle Read Metrics", "Local Bytes Read")
            for t in tasks
        )
        / MB
    )
    m["spark.spill_mb"] = per_pass(
        sum(tm(t, "Memory Bytes Spilled") + tm(t, "Disk Bytes Spilled") for t in tasks) / MB
    )
    m["spark.result_mb"] = per_pass(sum(tm(t, "Result Size") for t in tasks) / MB)
    m["spark.failed_tasks"] = per_pass(sum(1 for t in tasks if t["Task Info"].get("Failed")))

    # functions: Python-worker SQL metrics (timings are milliseconds)
    m["functions.udf_s"] = per_pass(sum(_accum(t, PY_RUN) for t in tasks) / 1000)
    m["functions.udf_start_s"] = sum(_accum(t, PY_START) for t in log.tasks) / 1000
    m["functions.udf_mb"] = per_pass(sum(_accum(t, PY_BYTES) for t in tasks) / MB)
    rows = sum(
        float(a.get("Update", 0) or 0)
        for t in tasks
        for a in t["Task Info"].get("Accumulables", [])
        if a.get("ID") in log.py_row_accums
    )
    m["functions.udf_rows"] = per_pass(rows)

    # streaming: micro-batches attributed to calls by their start time
    batches = [
        p for p in progress if _window_of(windows, _epoch(p["timestamp"]), slack=0.002) is not None
    ]
    d = [p.get("durationMs", {}) for p in batches]
    m["streaming.batches"] = per_pass(len(batches))
    m["streaming.input_rows"] = per_pass(sum(p.get("numInputRows", 0) for p in batches))
    m["streaming.trigger_s"] = per_pass(sum(x.get("triggerExecution", 0) for x in d) / 1000)
    m["streaming.plan_s"] = per_pass(sum(x.get("queryPlanning", 0) for x in d) / 1000)
    m["streaming.add_batch_s"] = per_pass(sum(x.get("addBatch", 0) for x in d) / 1000)
    m["streaming.commit_s"] = per_pass(
        sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1000
    )
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    m["streaming.state_commit_s"] = per_pass(sum(op.get("commitTimeMs", 0) for op in ops) / 1000)
    last: dict[str, dict] = {}
    for p in batches:
        last[p["runId"]] = p
    final_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    m["streaming.state_rows"] = per_pass(sum(op.get("numRowsTotal", 0) for op in final_ops))
    m["streaming.state_mb"] = per_pass(sum(op.get("memoryUsedBytes", 0) for op in final_ops) / MB)

    m["trace.calls"] = float(len(calls))
    m["trace.calls_unbalanced"] = float(len(unbalanced))
    return m, unbalanced


def dur_of(spans: Spans, call: dict, name: str) -> float:
    return sum(r["dur"] for r in spans.children(call, name))
