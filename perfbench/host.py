"""Host sizing, provenance, process-tree memory and the load canary."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap_mb() -> int:
    """An eighth of the machine's RAM, between 1 and 8 GiB."""
    return max(1024, min(8192, meminfo_kb("MemTotal") // 8 // 1024))


def provenance(root: Path, seed: int, workload: str) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"  # the checkout need not be a git repository
    digest = hashlib.sha256()
    for p in sorted((root / "ml_hadoop_experiment_spark").rglob("*.py")):
        digest.update(p.relative_to(root).as_posix().encode())
        digest.update(p.read_bytes())
    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "driver_heap_mb": driver_heap_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants, each page shared
    between them counted once (the sum of their proportional set sizes).
    Summed RSS would count a JVM's whole heap twice while it forks a
    Python worker."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


class RssSampler:
    """Peak resident memory of this process's tree (driver, JVM, Python
    workers; see ``tree_pss_bytes``), sampled every ``interval`` seconds
    while armed. ``arm`` starts a new window; ``peaks`` holds one peak per
    window."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peaks: list[int] = []
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self._armed.is_set():
                rss = tree_pss_bytes(pid)
                self.peaks[-1] = max(self.peaks[-1], rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def arm(self) -> None:
        self.peaks.append(tree_pss_bytes(os.getpid()))
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()


def canary(spark, data_dir: str, warm: int = 0, timed: int = 3) -> list[float]:
    """bench.py's fixed host-load probe: lineitem groupBy(l_returnflag)
    count through the noop sink, timed ``timed`` times after ``warm``
    untimed runs."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{data_dir}/lineitem.parquet")
    times = []
    for i in range(warm + timed):
        t0 = time.perf_counter()
        li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        if i >= warm:
            times.append(time.perf_counter() - t0)
    return times


def kill_tree(pid: int) -> None:
    """SIGKILL every descendant of ``pid`` (not ``pid`` itself) and reap."""
    for p in reversed(descendants(pid)[1:]):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(descendants(pid)) > 1:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def start_watchdog(limit_s: float) -> threading.Timer:
    """Stop a run that outlives ``limit_s``: kill its process tree and exit
    non-zero, printing no result."""

    def fire() -> None:
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        sys.stderr.flush()
        kill_tree(os.getpid())
        os._exit(3)

    timer = threading.Timer(limit_s, fire)
    timer.daemon = True
    timer.start()
    return timer
