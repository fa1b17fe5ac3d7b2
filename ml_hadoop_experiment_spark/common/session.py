"""SparkSession construction with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; tests run on
``local[N]``. All knobs here are plain Spark SQL configs so the same code
works in both modes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession


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
    }


#: confs that bind only when the SparkContext is created
_STATIC_KEYS = ("spark.sql.codegen.cache.maxEntries", "spark.python.daemon.module")


def get_session(
    app_name: str = "mlhe-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` keeps whatever the deploy environment provides
    (spark-submit / cluster manager); tests pass ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in session_defaults().items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
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
    wanted = {**session_defaults(), **(extra_conf or {})}
    for key in _STATIC_KEYS:
        want, live = wanted[key], conf.get(key, "unset")
        if live != want:
            import warnings

            warnings.warn(
                f"{key} is {live} (wanted {want}): static conf ignored by "
                "getOrCreate on a pre-existing session",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
