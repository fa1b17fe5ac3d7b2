"""SparkSession construction with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; tests run on
``local[N]``. All knobs here are plain Spark SQL configs so the same code
works in both modes.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from typing import Optional

from pyspark import SparkContext
from pyspark.sql import SparkSession

_UDS = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"


def session_defaults() -> dict[str, str]:
    """Config defaults applied to every engine session.

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting
      (replaces the reference's hand-rolled ``ceil(n/4)`` shuffle-partition
      reduction, vocabulary.py:40-41 of the reference).
    - Arrow on: every Python crossing is a columnar Arrow batch
      (the reference relies on the same mechanism via ``pandas_udf``).
    - maxRecordsPerBatch bounds UDF peak memory (reference exposes the same
      control as ``batch_size``, common/spark_inference.py:130-143).
    - Python workers fork from :mod:`.pydaemon`, pyspark's daemon with
      ``zipimporter.invalidate_caches`` guarded by the archive's stat. On
      CPython < 3.12 every task otherwise re-reads ``pyspark.zip``'s
      directory about 16 times: 0.27-0.35 s of CPU per task before it
      touches a row, on a reused worker too (a 1-row ``mapInPandas`` took
      0.62 s on ``local[4]``, 4-vCPU Xeon). Executors' Python must import
      this package when the daemon starts, so it has to be installed in
      their environment (or on their ``PYTHONPATH``); shipping it only
      with ``--py-files`` is not enough, since those reach a worker after
      the daemon has started.
    - DataFrame call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
      every ``F.col`` and every ``Column`` method walks the Python stack
      and makes about eight extra py4j round trips to record where it was
      called from; building a SimHash index probe made 783 round trips
      with it and 279 without. The cost: an analysis error no longer
      names the DataFrame call site (the first frame outside pyspark,
      usually a line of this package); the JVM stack trace is unchanged.
      PySpark reads the conf once per process, on the first ``Column``
      call made while a session is active.
    - Unix domain sockets between the driver, the JVM and the Python
      workers (``spark.python.unix.domain.socket.enabled``, Spark 4.1+;
      verified on 4.1.2, older versions ignore it): Python UDF and
      ``mapInPandas`` tasks, the accumulator server, ``toPandas`` and
      ``createDataFrame`` from local data. On loopback TCP a task that
      exchanges little data waits about 40 ms on the socket (Nagle and
      delayed ACK). Warm, per job: a 1-partition ``mapInPandas`` 98 ms
      over TCP, 59 ms over UDS; a 1k-row ``pandas_udf`` 92 and 53 ms; an
      RDD map over 4 partitions 89 and 43 ms. perfbench ``batch_scale10``
      ``pass_over_canary`` fell 7% (its TFRecord sink and source tasks);
      Arrow UDFs over large batches do not move (``local[4]``, 4-vCPU
      Xeon). Only for a ``local[...]`` master: ``get_session`` then puts
      the sockets in one directory per driver process,
      ``/tmp/spark-uds-*``, made by ``tempfile.mkdtemp`` (mode 0700 under
      any umask) and removed at interpreter exit; Spark removes the socket
      files on ``stop()``. The short fixed parent keeps each socket path
      (directory + 43 bytes) under the 107-byte ``sun_path`` limit
      whatever ``TMPDIR`` or ``java.io.tmpdir`` is. The 0700 mode is the
      only guard: in UDS mode PySpark drops the socket auth secret, so no
      other user may reach the files. Any other master keeps TCP with its
      secret, since executors on other hosts have no such directory.
      Pass ``{"spark.python.unix.domain.socket.enabled": "false"}`` in
      ``extra_conf`` to keep TCP locally too.
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # parquet TIMESTAMP(NANOS) files read as epoch-nanos bigint rather
        # than being rejected (temporal operators accept both; the current
        # fixtures are timestamp[us] and unaffected by this conf)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # generated-class cache sized for a query-DIVERSE workload: the
        # default 100 entries evicts compiled plans as soon as a session
        # runs more than ~30 distinct queries, re-paying Janino compile +
        # C2 JIT (measured 5 s on a 32-bit simhash expression tree —
        # BASELINE.md "Round-12 re-adjudication"). 8192 Janino classes are
        # a few hundred MB of driver metaspace at worst; a long-lived
        # production driver serving many pipelines wants them resident.
        # STATIC conf: only takes effect for the FIRST SparkSession in
        # the JVM — getOrCreate against an already-running session
        # silently ignores it. get_session verifies the live value after
        # getOrCreate and warns when the 100-entry default survived.
        "spark.sql.codegen.cache.maxEntries": "8192",
        # static too: the daemon starts with the SparkContext
        "spark.python.daemon.module": "ml_hadoop_experiment_spark.common.pydaemon",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # static: read when the SparkContext starts its accumulator server
        # and its Python worker factory; get_session turns it off for a
        # non-local master and gives a local one its socket directory
        _UDS: "true",
    }


#: confs that bind only when the SparkContext is created
_STATIC_KEYS = (
    "spark.sql.codegen.cache.maxEntries",
    "spark.python.daemon.module",
    _UDS,
    _UDS_DIR,
)


def _is_local(master: Optional[str]) -> bool:
    """Whether ``master`` (or, when None, the running context's master)
    runs every executor inside this driver's JVM."""
    if master is None:
        sc = SparkContext._active_spark_context
        master = sc.master if sc is not None else ""
    return master == "local" or master.startswith("local[")


@functools.cache
def _socket_dir() -> str:
    """This process's private socket directory, removed at its exit."""
    path = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    atexit.register(_remove_socket_dir, path, os.getpid())
    return path


def _remove_socket_dir(path: str, owner: int) -> None:
    if os.getpid() == owner:  # not from a forked child that exits normally
        shutil.rmtree(path, ignore_errors=True)


def get_session(
    app_name: str = "mlhe-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` keeps whatever the deploy environment provides
    (spark-submit / cluster manager); tests pass ``local[N]``. Python
    workers talk over Unix domain sockets only when the master is
    ``local[...]`` (``master=None`` counts as local when it attaches to a
    running local context); see :func:`session_defaults`.
    """
    local = _is_local(master)
    wanted = session_defaults()
    if not local:
        wanted[_UDS] = "false"
    if shuffle_partitions is not None:
        wanted["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    wanted.update(extra_conf or {})
    if local and wanted[_UDS].lower() == "true" and _UDS_DIR not in wanted:
        wanted[_UDS_DIR] = _socket_dir()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in wanted.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Static confs bind only when THIS call created the SparkContext, and
    # its conf holds what bound (the session conf echoes the value asked
    # for). If we attached to a pre-existing context that runs another
    # value, say so: a 100-entry codegen cache thrashes on query-diverse
    # sweeps (BASELINE.md "Round-12 re-adjudication"); pyspark's own
    # daemon re-reads pyspark.zip on every Python task.
    try:
        conf = spark.sparkContext.getConf()
    except AttributeError:  # Spark Connect: no context to read
        return spark
    for key in _STATIC_KEYS:
        want, live = wanted.get(key), conf.get(key, "unset")
        if want is not None and live != want:
            import warnings

            warnings.warn(
                f"{key} is {live} (wanted {want}): static conf ignored by "
                "getOrCreate on a pre-existing session",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
