"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One driver process on ``local[nproc]`` runs the workload's calls in a
closed loop: each call starts when the previous one has returned, and
every result is materialized through the ``noop`` sink. Set-up (session,
Python workers, once-per-process index builds, one cold pass and
``WARM_PASSES`` warm ones) is timed; then timed passes run back to back
until ``--seconds`` have passed, with the host-load canary timed before
the first and after each one. A pass is reported in canaries: its wall
time over the mean canary time on either side of it, which cancels most
of a shared host's load. Each call's output is checked against its DuckDB
twin outside every timed window.

With ``--trace 0`` the last line reports the end-to-end metrics; with
``--trace 1`` the event log, a job group per call and a streaming
listener are on, and the last line reports the per-layer metrics.
"""

from __future__ import annotations

import os
import time

_PERF0 = time.perf_counter()
with open("/proc/self/stat") as _f, open("/proc/uptime") as _u:
    _START_TICKS = int(_f.read().rsplit(")", 1)[1].split()[19])
    # process age at _PERF0, so set-up can be timed from process start
    _AGE0 = float(_u.read().split()[0]) - _START_TICKS / os.sysconf("SC_CLK_TCK")

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 170
MIN_PASSES = 3
WARM_PASSES = 1
CANARY_WARM = 20
E2E = {"setup_s": "s", "pass_over_canary": "ratio", "peak_rss_mb": "MB"}


def since_process_start() -> float:
    return time.perf_counter() - _PERF0 + _AGE0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="base scale factor override")
    return p.parse_args(argv)


class Runner:
    def __init__(self, args, workload, work: Path):
        import host
        from tracing import Spans

        self.args, self.wl, self.work = args, workload, work
        self.spans = Spans()
        self.cores = host.nproc()
        self.attempted = 0
        self.failed: list[str] = []
        self.excluded = 0.0  # fixture generation, checks and canaries
        self.passes: list[dict] = []
        self.after_pass: dict = {}
        self.listener = None

    # -- set-up ------------------------------------------------------------

    def session(self):
        import host
        from ml_hadoop_experiment_spark.common import get_session

        w = self.work
        for d in ("tmp", "local", "checkpoints", "warehouse", "eventlog"):
            (w / d).mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{host.driver_heap_mb()}m",
            "spark.local.dir": str(w / "local"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.sql.streaming.checkpointLocation": str(w / "checkpoints"),
            "spark.driver.extraJavaOptions": (
                # no hsperfdata file under /tmp: the run writes only in the checkout
                f"-Xms{host.driver_heap_mb()}m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={w / 'tmp'} -Dderby.system.home={w / 'tmp'}"
            ),
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(w / "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.spans.span("session"):
            spark = get_session(
                app_name=f"perfbench-{self.wl.name}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
        spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from tracing import ProgressListener

            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)
        return spark

    # -- one call ----------------------------------------------------------

    def call(self, ctx, call, check_with=None) -> None:
        from ml_hadoop_experiment_spark.common.cache_registry import release_pinned
        from ml_hadoop_experiment_spark.plans.prefix import release_prefix_caches

        spark = ctx.spark
        self.attempted += 1
        df, error = None, None
        with self.spans.span("call", call=call.label, label=call.label, layer=call.layer) as rec:
            if self.args.trace:
                spark.sparkContext.setJobGroup(f"{rec['id']}:{call.label}", call.label)
            try:
                with self.spans.span("build"):
                    df = call.build(ctx)
                with self.spans.span("sink"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed call is counted, the run goes on
                error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                traceback.print_exc(file=sys.stderr)
        if error is None and spark.streams.active:
            error = "drain returned while its stream was still running (partial result)"
        if error is None and check_with is not None:
            error = self.check(df, call, check_with)
        with self.spans.span("release"):
            release_prefix_caches()
            release_pinned()
        if call.cleanup:
            call.cleanup(ctx)
        if error:
            self.failed.append(f"{call.label}@pass{self.spans.pass_id}: {error}")

    def check(self, df, call, oracle) -> str | None:
        from check import fingerprint, mismatch

        with self.spans.span("check", label=call.label) as rec:
            try:
                error = mismatch(fingerprint(df.toPandas()), oracle.expected(call.label, call.oracle))
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                error = f"check raised {type(e).__name__}"
        self.excluded += rec["dur"]
        return error

    def one_pass(self, ctx, pid: int, order: list, oracle=None) -> dict:
        import host

        self.spans.pass_id = pid
        ticks = host.cpu_ticks()
        for call in order:
            self.call(ctx, call, oracle)
        recs = [r for r in self.spans.records if r["pass"] == pid and r["name"] in ("call", "release")]
        p = {
            "pass": pid,
            "pass_s": sum(r["dur"] for r in recs),
            "steal": host.steal_share(ticks, host.cpu_ticks()),
        }
        spark = ctx.spark
        self.after_pass = {
            "cached": len(spark.sparkContext._jsc.getPersistentRDDs()),
            "sinks": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
            "streams": len(spark.streams.active),
        }
        for q in spark.streams.active:  # a leaked stream must not bleed into the next pass
            q.stop()
        self.spans.pass_id = None
        return p

    def canary(self, spark, data_dir: str, warm: int = 0) -> list[float]:
        import host

        with self.spans.span("canary") as rec:
            times = host.canary(spark, data_dir, warm)
        self.excluded += rec["dur"]
        return times

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        import host
        from check import Oracle
        from workloads import Ctx

        args, wl = self.args, self.wl
        with self.spans.span("fixtures") as rec:
            data_dir = wl.make_inputs(str(self.work / "data"), args.seed, args.sf or wl.sf)
        self.excluded += rec["dur"]

        spark = self.session()
        ctx = Ctx(spark, data_dir, str(self.work), self.spans)
        with self.spans.span("fixtures") as rec:
            oracle = Oracle(data_dir, str(self.work / "oracle"))
        self.excluded += rec["dur"]
        rng = random.Random(args.seed)
        try:
            if wl.setup:
                wl.setup(ctx)
            # one cold pass (Python workers, once-per-process builds), checked,
            # then warm passes: the first pass after the cold one still runs a
            # quarter slower than later ones, which then shorten slowly for a
            # minute or more as the JIT warms, the canary's runs alike
            setup_passes = [self.one_pass(ctx, 0, rng.sample(wl.calls, len(wl.calls)), oracle)]
            for pid in range(-1, -WARM_PASSES - 1, -1):
                setup_passes.append(self.one_pass(ctx, pid, rng.sample(wl.calls, len(wl.calls))))
            setup_s = since_process_start() - self.excluded
            # the canary before the first timed pass and after every one; its
            # own JIT warm-up takes some twenty runs
            canaries = [self.canary(spark, data_dir, warm=CANARY_WARM)]

            ticks = host.cpu_ticks()
            with host.RssSampler() as rss:
                t_end = time.perf_counter() + args.seconds
                pid = 1
                while pid <= MIN_PASSES or time.perf_counter() < t_end:
                    rss.arm()
                    self.passes.append(self.one_pass(ctx, pid, rng.sample(wl.calls, len(wl.calls))))
                    rss.disarm()
                    canaries.append(self.canary(spark, data_dir))
                    pid += 1
            steal = host.steal_share(ticks, host.cpu_ticks())
        finally:
            oracle.close()
            if ctx.index is not None:
                ctx.index.unpersist()
            with self.spans.span("teardown"):
                stop_spark(spark)

        times = [p["pass_s"] for p in self.passes]
        canary_s = [statistics.median(c) for c in canaries]
        # each pass in canaries: its wall time over the mean canary on either side
        ratios = [t / ((a + b) / 2) for t, a, b in zip(times, canary_s, canary_s[1:])]
        record = {
            "provenance": host.provenance(ROOT, args.seed, wl.name),
            "calls": [c.label for c in wl.calls],
            "passes": len(times),
            "pass_s": times,
            "pass_s_median": statistics.median(times),
            "pass_s_max": max(times),
            "pass_over_canary": ratios,
            "setup_pass_s": [p["pass_s"] for p in setup_passes],
            "pass_steal": [p["steal"] for p in self.passes],
            "canary_s": canaries,
            "steal_share": steal,
            "after_pass": self.after_pass,
            "phases_s": {
                name: sum(r["dur"] for r in self.spans.named(name))
                for name in ("fixtures", "session", "canary", "index_build", "check", "teardown")
            },
            "wall_s": since_process_start(),
            "failed": self.failed,
            "failed_calls": len(self.failed) / self.attempted,
            "call_median_s": {
                c.label: statistics.median(
                    r["dur"] for r in self.spans.named("call", label=c.label) if r["pass"] > 0
                )
                for c in wl.calls
            },
        }
        metrics = {
            "setup_s": setup_s,
            "pass_over_canary": statistics.median(ratios),
            "peak_rss_mb": max(rss.peaks) / (1024 * 1024),
        }
        return {"record": record, "metrics": metrics}


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    host.kill_tree(os.getpid())


def reference_path(runner: Runner, provenance: dict) -> Path:
    """Where an untraced run leaves its pass_s for a traced run's
    trace_overhead: one file per workload, scale and version of the code."""
    sf = runner.args.sf or runner.wl.sf
    code = f"{provenance['git_commit'][:12]}-{provenance['source_sha256']}"
    return ROOT / ".perfbench" / f"pass_s-{runner.wl.name}-sf{sf:g}-{code}.json"


def layer_report(runner: Runner, result: dict) -> tuple[dict, list[str], float | None]:
    """The per-layer metrics, the unbalanced calls, and traced pass_s over
    the pass_s of an untraced run of the same code (None if there is none)."""
    from tracing import EventLog, layer_metrics

    log = EventLog(str(runner.work / "eventlog"))
    metrics, unbalanced = layer_metrics(
        runner.spans,
        log,
        runner.listener.progress if runner.listener else [],
        runner.passes,
        runner.cores,
        runner.after_pass,
    )
    ref = reference_path(runner, result["record"]["provenance"])
    overhead = (
        result["record"]["pass_s_median"] / json.loads(ref.read_text())["pass_s"]
        if ref.exists()
        else None
    )
    return metrics, unbalanced, overhead


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import host

    # fails where the package is absent: there is nothing to measure
    import ml_hadoop_experiment_spark  # noqa: F401
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host.start_watchdog(RUN_LIMIT_S)
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    runner = Runner(args, WORKLOADS[args.workload], work)
    try:
        result = runner.run()
        if args.trace:
            metrics, unbalanced, overhead = layer_report(runner, result)
            result["record"]["unbalanced_calls"] = unbalanced
            result["record"]["trace_overhead"] = overhead
            units = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
            out = {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}
            runner.spans.write(str(ROOT / ".perfbench" / f"spans-{args.workload}-{args.seed}.json"))
        else:
            out = {k: {"value": v, "unit": E2E[k]} for k, v in result["metrics"].items()}
            reference_path(runner, result["record"]["provenance"]).write_text(
                json.dumps({"pass_s": result["record"]["pass_s_median"], "seed": args.seed})
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("record: " + json.dumps(result["record"]))
    print(
        json.dumps(
            {
                "correct": not runner.failed,
                "attempted": runner.attempted,
                "failed": len(runner.failed),
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
