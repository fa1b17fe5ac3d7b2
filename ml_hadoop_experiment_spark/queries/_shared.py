"""Shared fixtures and session plumbing for every declared query."""

from __future__ import annotations

import os
import re
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Tables whose declared queries run expensive per-row expressions (md5 per
# token, vector math): worth a small repartition shuffle to escape the
# single-row-group scan bottleneck. The TPC-H-ish tables run light
# expressions/aggregations where the extra shuffle costs more than it saves.
_FAN_OUT_TABLES = {"documents", "embeddings"}


# Runtime-settable engine defaults a driver-provided session may lack.
# UTC pins TIMESTAMP_NTZ↔TIMESTAMP casts to the identity mapping (the
# events fixture is parquet timestamp[us], read as TIMESTAMP_NTZ); Arrow
# keeps results/latency identical to get_session().
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# string literals and comments: blanked out before the CTE scan
_SQL_OPAQUE = re.compile(r"'(?:[^']|'')*'|--[^\n]*|/\*.*?\*/", re.S)
_WITH = re.compile(r"\bWITH\s+(?:RECURSIVE\s+)?", re.I)
# name [(cols)] AS [[NOT] MATERIALIZED] (
_CTE_HEAD = re.compile(
    r"(?P<head>[A-Za-z_]\w*(?P<cols>\s*\([^()]*\))?\s+AS)\s*"
    r"(?P<hint>(?:NOT\s+)?MATERIALIZED\s*)?\(",
    re.I,
)
_CTE_COMMA = re.compile(r"\s*,\s*")


def _close_paren(sql: str, i: int) -> int:
    depth = 0
    for j in range(i, len(sql)):
        depth += {"(": 1, ")": -1}.get(sql[j], 0)
        if depth == 0:
            return j
    raise ValueError(f"unbalanced parenthesis at offset {i}")


def _materialize_ctes(sql: str) -> str:
    """Rewrite every CTE head ``name AS (`` to
    ``name AS MATERIALIZED (`` — DuckDB inlines plain CTEs PER
    REFERENCE, so an oracle whose fingerprint/codebook CTE is read by
    several union arms or join sides re-evaluates it each time
    (measured r14: dup_clusters' closure 36.6 -> 1.1 s,
    pq_residual_index 28.6 -> 0.3 s at sf0.001, values identical —
    checked row-for-row for every converted oracle). Results are
    unchanged by construction — this is an evaluation hint, part of the
    oracle TEXT only.

    Only CTE heads are touched: the scan walks each ``WITH`` list head
    by head, skipping every body by its parentheses, so a named window
    (``WINDOW w AS (``) and text inside string literals or comments are
    left alone. Heads with a column list (``name(cols) AS (``, the
    recursive form) and heads that already carry a hint stay as they
    are."""
    masked = _SQL_OPAQUE.sub(lambda m: " " * len(m.group()), sql)
    heads = []
    for w in _WITH.finditer(masked):
        pos = w.end()
        while h := _CTE_HEAD.match(masked, pos):
            if not (h["cols"] or h["hint"]):
                heads.append((h.end("head"), h.end()))
            pos = _close_paren(masked, h.end() - 1) + 1
            if not (c := _CTE_COMMA.match(masked, pos)):
                break
            pos = c.end()
    for start, end in reversed(heads):
        sql = sql[:start] + " MATERIALIZED (" + sql[end:]
    return sql


def _ensure_confs(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)  # loud on static confs: a silent skip here
            # cost round 2 its bench (stale nanosAsLong masked a fixture
            # schema change) — if the session can't take these, fail now


#: fixture event-type domain (used by pivot/similarity/salted-join
#: queries and their VALUES-based oracle dims)
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """One schema adaptation point for the events table's time column.

    The driver has shipped this fixture as TIMESTAMP(NANOS)-read-as-bigint
    (round 1) and as parquet timestamp[us]/TIMESTAMP_NTZ (round 2+); every
    downstream query assumes one canonical type instead of sniffing the
    wire format itself. Output: TIMESTAMP (UTC session tz, so NTZ wall
    clocks map to the same instant). Integer division for the nanos path —
    a double-routed divide loses precision above 2^53 ns (~1970+104 days).
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, TimestampType):
        return df
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    # integral epoch-nanos (legacy fixture convention)
    return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))


#: Confs that the inferred parquet schema (the first four) and the scan's
#: partition count (the rest) depend on: part of each memo key in ``_scan``.
_SCAN_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    # minPartitionNum's default
    "spark.sql.leafNodeDefaultParallelism",
)

#: path -> (key, schema, scan partition count or None); see ``_scan``.
#: No lock: an entry is used only while its key matches, so threads that
#: race on one path cost each other at most a repeated probe.
_SCANS: dict = {}


def _scan_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of a local parquet file: its stat identity, the
    session's default parallelism and ``_SCAN_CONFS``. None for anything
    ``os.stat`` cannot vouch for (a remote URI, a dataset directory whose
    part files change under an unchanged directory stat)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    conf = spark.conf
    return (
        st.st_mtime_ns,
        st.st_size,
        st.st_ino,
        spark.sparkContext.defaultParallelism,
        *(conf.get(k, None) for k in _SCAN_CONFS),
    )


def _scan(
    spark: SparkSession, path: str, count: bool = False
) -> tuple[DataFrame, int | None]:
    """A fresh parquet scan of ``path`` and, with ``count``, its partition
    count. A first load infers the schema (a one-task footer job) and
    probes the count from the physical plan; both are kept under
    ``_scan_key``, and a later load with the same key reads with the
    known schema, which starts no job, and reuses the count."""
    key = _scan_key(spark, path)
    memo = _SCANS.get(path)
    if key is not None and memo is not None and memo[0] == key:
        _, schema, parts = memo
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema, parts = df.schema, None
    if count and parts is None:
        parts = df.rdd.getNumPartitions()
    if key is not None:
        _SCANS[path] = (key, schema, parts)
    return df, parts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table; fan compute-heavy tables out to parallelism.

    The local fixtures are single-file/single-row-group parquet, which scans
    as ONE task and would serialize every per-row pipeline below (a parquet
    split can't be finer than a row group). ``fan_out`` repartitions only
    when the scan yields fewer partitions than the cluster's parallelism —
    on production multi-row-group data it's a no-op, so no extra shuffle at
    scale. All declared queries are row-value deterministic (portable hash /
    digests / pure expressions), so repartitioning never changes results.

    The table's schema and scan partition count are memoized per process
    (``_scan``), keyed by the file's ``(path, st_mtime_ns, st_size,
    st_ino)``, the session's ``defaultParallelism`` and the confs in
    ``_SCAN_CONFS``. A warm load starts no Spark job and builds no plan;
    it misses, and probes the file as a first load does, when the file is
    rewritten, one of those confs or the parallelism changes, or the path
    is not a local file. Every load returns a fresh DataFrame, so two loads
    of one table self-join with distinct attribute ids.

    The events table's ``ts`` is normalized to TIMESTAMP here (see
    ``_normalize_event_time``) — queries never see the wire type.
    """
    from ml_hadoop_experiment_spark.plans.optimize import fan_out

    _ensure_confs(spark)
    fan = name in _FAN_OUT_TABLES
    df, parts = _scan(spark, f"{sf_dir}/{name}.parquet", count=fan)
    if fan:
        df = fan_out(df, partitions=parts)
    if name == "events":
        df = _normalize_event_time(df)
    return df


def _stream_t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream a fixture table as micro-batches: ``_t`` for
    ``readStream``. The schema comes from the batch scan, memoized as in
    ``_t`` (same key, same misses) — never hard-coded (round 2's frozen
    ``ts bigint`` schema silently coerced the fixture's µs timestamps and
    collapsed every event into two windows); the file source needs a
    directory, so a glob filter keeps it to the one table. ``events.ts``
    is normalized as in ``_t``. Streams are not fanned out: a streaming
    frame cannot report its scan's partition count."""
    _ensure_confs(spark)
    wire_schema = _scan(spark, f"{sf_dir}/{name}.parquet")[0].schema
    df = (
        spark.readStream.schema(wire_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        df = _normalize_event_time(df)
    return df
