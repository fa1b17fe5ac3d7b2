"""Exact global prefix sums without a single-partition window.

``Window.orderBy(...)`` with no partition key moves EVERY row through one
task — the canonical scalability cliff for running totals, cumulative
token counts, and rank assignment. This module implements the standard
two-phase alternative:

1. range-partition + sort by the order key (one shuffle — the same
   exchange a global sort pays, split across the cluster);
2. per-partition totals (tiny: one row per partition) are collected and
   turned into partition prefix OFFSETS on the driver — KB-sized
   metadata, not data;
3. a map-only pass adds ``offset + within-partition cumsum`` via Arrow
   batches.

The result equals the single-partition window bit-for-bit for integer
values (exact addition), at cluster parallelism. Used by
``operators/packing.py`` for sequence packing; the DuckDB oracle is the
plain ``SUM() OVER (ORDER BY ...)`` window.

The same range-exchange machinery also serves
``exact_group_percentiles``: exact interpolated percentiles,
bit-identical to Spark's ``percentile`` aggregate, without that
aggregate's single-reducer value buffer.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: persisted range-partitioned frames awaiting release. Each
#: ``with_global_running_sum`` call pins ONE materialization of its input
#: (the offsets pass and the cumsum pass must observe identical range
#: boundaries — see the persist comment below), and the cache must stay
#: alive until the caller's action has consumed the result. Callers that
#: sweep many queries in one session (bench.py, the oracle-parity suite)
#: call :func:`release_prefix_caches` BETWEEN queries — after the previous
#: result is fully materialized — so cached copies don't accumulate across
#: the sweep. Releasing while a dependent frame is still unmaterialized is
#: unsafe only for re-COMPUTATION (a fresh range exchange re-samples
#: boundaries); the default MEMORY_AND_DISK level spills rather than
#: evicts, so in-flight plans keep the pinned copy.
_CACHED: list = []


def release_prefix_caches() -> int:
    """Unpersist every range-partitioned frame pinned by prior
    ``with_global_running_sum`` calls; returns how many were released.
    Call between queries, after the consuming action has run."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def with_global_running_sum(
    df: DataFrame,
    order_cols: List[str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive prefix sum of ``value_col`` in the
    total order of ``order_cols`` (which must be a total order — add a
    unique id as the last key).

    Values are summed as int64 (exact, associative); floats would make
    the two-phase result differ from a sequential sum in the last ulp.

    Concurrency caveat: the internal offsets job briefly disables AQE
    session-wide (see ``_no_aqe``) — in a session running concurrent
    queries on OTHER threads, those queries may plan with AQE off while
    this call's internal jobs run. Serial drivers (bench, the driver
    gate, spark-submit batch jobs) are unaffected.
    """
    spark = df.sparkSession
    default = spark.sparkContext.defaultParallelism
    parts = num_partitions or _auto_partitions(df)
    # persist (inside _range_exchange) BEFORE the totals job: the offsets
    # pass and the cumsum pass must observe the SAME range boundaries.
    # Lifetime is caller-owned; sweeping callers reclaim storage between
    # queries via release_prefix_caches().
    with_pid = _range_exchange(df, order_cols, parts)

    def _totals(frame):
        # one row per partition; collect is bounded by partition count
        with _no_aqe(spark):
            return (
                frame.groupBy("__pid")
                .agg(
                    F.sum(F.col(value_col).cast("long")).alias("t"),
                    F.count(F.lit(1)).alias("rows"),
                )
                .collect()
            )

    totals = _totals(with_pid)
    if (
        num_partitions is None
        and parts < default
        and any(int(r["rows"]) > _MAX_SHRUNK_PARTITION_ROWS for r in totals)
    ):
        # the Catalyst estimate was stale-small: redo the exchange at full
        # parallelism FROM the persisted frame (no upstream recompute) so
        # the cumsum pass never buffers an oversized partition.
        with_pid = _range_exchange(with_pid.drop("__pid"), order_cols, default)
        totals = _totals(with_pid)
    sums = {int(r["__pid"]): int(r["t"]) for r in totals}
    offsets = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]

    schema = with_pid.drop("__pid").schema.add(out_col, "long")
    cols = [f.name for f in schema.fields]

    def add_cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = None
        for pdf in batches:
            if run is None:
                run = offsets.get(int(pdf["__pid"].iloc[0]), 0) if len(pdf) else 0
            out = pdf.drop(columns=["__pid"])
            out[out_col] = pdf[value_col].astype("int64").cumsum() + run
            run = int(out[out_col].iloc[-1]) if len(out) else run
            yield out[cols]

    return with_pid.mapInPandas(add_cumsum, schema)


def with_global_rank(
    df: DataFrame,
    order_cols: List[str],
    out_col: str = "rank",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Dense 1-based ``row_number`` in the total order of ``order_cols``
    WITHOUT a single-partition window: the prefix sum of ones.

    ``order_cols`` must be a total order (append a unique id); equal-key
    ties would otherwise get arbitrary-but-stable ranks from the range
    partitioner's internal order.
    """
    tagged = df.withColumn("__one", F.lit(1))
    out = with_global_running_sum(
        tagged, order_cols, "__one", out_col=out_col, num_partitions=num_partitions
    )
    return out.drop("__one")


class _no_aqe:
    """Temporarily disable AQE for the prefix plans' INTERNAL jobs (the
    range-exchange sampling pass and the boundary/offsets collect).
    Their exchanges are fixed REPARTITION_BY_NUM — AQE cannot coalesce,
    re-balance, or re-plan them, so its per-job stage materialization
    and re-optimization only add driver latency (measured ~0.25 s over
    the 3 internal jobs of cdf_normalize at sf0.1). The caller's
    setting is restored before the returned DataFrame is handed back,
    so the FINAL action (which may join/aggregate the result) keeps
    whatever the session configured. Note: the toggle is session-scoped
    while held — drivers running concurrent queries on other threads
    briefly share it (bench and the driver gate are serial)."""

    KEY = "spark.sql.adaptive.enabled"

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY, "true")
        self.spark.conf.set(self.KEY, "false")

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.prev)


#: auto-partition sizing target for the range exchange (compressed-scan
#: bytes per partition, from Catalyst's optimized-plan estimate). The
#: buffered passes want partitions big enough to amortize task launch,
#: AQE-off planning, and Arrow batch overhead: measured on the sf0.1
#: 4-column cdf_normalize input (4.5 MB estimate, local[32]), 32
#: partitions ran 1.44 s, 16 ran 1.21 s, 8 ran 1.30 s — the rule below
#: picks 18. The clamp to defaultParallelism means the rule can only
#: REDUCE partitions for small inputs; at cluster scale the estimate
#: exceeds parallelism x target and the default (one partition per
#: core) is unchanged.
_TARGET_PARTITION_BYTES = 256 << 10


#: OOM guard for an estimate-shrunk range exchange. The buffered passes
#: hold one whole partition in memory (the same contract applyInPandas
#: imposes); when the Catalyst estimate shrank the exchange below
#: ``defaultParallelism``, the pass-1 summary job — which collects one
#: row per partition anyway — verifies EXACT per-partition row counts
#: against this bound and redoes the exchange at full parallelism from
#: the already-persisted frame if any partition exceeds it. 2^20 rows is
#: ~3 orders of magnitude above what an honest "small" estimate
#: (defaultParallelism × 256 KiB compressed) can produce, so the retry
#: fires only on genuinely stale statistics.
_MAX_SHRUNK_PARTITION_ROWS = 1 << 20

#: companion BYTE cap for the same guard in ``with_keyed_min_rank``,
#: whose pass 2 buffers the FULL row (payload columns included) while
#: the row cap alone would wave through a few-hundred-thousand-row
#: partition of multi-KB documents. Raw payload bytes, measured by a
#: codegen expression in the pass-1 scan (only when the estimate
#: actually shrank the exchange); pandas buffering expands ~2-4x, so
#: 256 MiB raw keeps the buffered partition under ~1 GiB.
_MAX_SHRUNK_PARTITION_BYTES = 256 << 20

#: fixed in-memory widths for the byte-estimate expression; variable-
#: width types are measured per value (octet_length / size), anything
#: nested falls back to its JSON rendering's length — an overestimate,
#: which only makes the OOM guard fire earlier.
_FIXED_WIDTHS = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
    T.TimestampType: 8, T.TimestampNTZType: 8, T.DecimalType: 16,
}


def _row_bytes_expr(schema: T.StructType):
    """Codegen per-row payload-byte estimate over ``schema``'s columns:
    fixed-width types contribute a constant, string/binary their
    octet_length, fixed-element arrays size()*width, everything else
    the octet_length of a JSON rendering. Evaluated JVM-side in the
    pass-1 scan so only one extra int64 crosses Arrow per row."""
    fixed = 0
    terms = []
    for f in schema.fields:
        dt = f.dataType
        w = _FIXED_WIDTHS.get(type(dt))
        if w is not None:
            fixed += w
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            terms.append(
                F.coalesce(F.octet_length(F.col(f.name)).cast("long"), F.lit(0))
            )
        elif (
            isinstance(dt, T.ArrayType)
            and _FIXED_WIDTHS.get(type(dt.elementType)) is not None
        ):
            ew = _FIXED_WIDTHS[type(dt.elementType)]
            terms.append(
                (F.coalesce(F.size(F.col(f.name)), F.lit(0)) * ew).cast("long")
            )
        else:
            terms.append(
                F.coalesce(
                    F.octet_length(
                        F.to_json(F.struct(F.col(f.name)))
                    ).cast("long"),
                    F.lit(0),
                )
            )
    out = F.lit(int(fixed)).cast("long")
    for t in terms:
        out = out + t
    return out


def _auto_partitions(df: DataFrame) -> int:
    """Partition count for the range exchange: Catalyst's compressed-
    size estimate may SHRINK the count below ``defaultParallelism``
    (small frames want fewer, larger partitions), never raise it.

    The estimate is verified, not trusted: mid-pipeline frames
    (post-join/aggregate) can carry stale, far-too-small estimates, so
    both prefix plans check the shrunk exchange's EXACT per-partition
    row counts in their pass-1 summary job and re-exchange at full
    parallelism when ``_MAX_SHRUNK_PARTITION_ROWS`` is exceeded.

    Deliberately NOT consulted: the input's current partition count
    (the round-7 floor). Under AQE, ``df.rdd`` eagerly materializes the
    upstream query stages at planning time (work that is not reused by
    the later range exchange), and any frame downstream of a
    groupBy/join sits at ``spark.sql.shuffle.partitions`` — flooring on
    that disables the shrink for every real pipeline, which is a
    latency regression, while providing only a proxy (partition count,
    not size) for the memory contract the row-count check now enforces
    exactly."""
    spark = df.sparkSession
    default = spark.sparkContext.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return default
    return max(2, min(default, -(-est // _TARGET_PARTITION_BYTES)))


def _range_exchange(df: DataFrame, order_cols: List[str], parts: int) -> DataFrame:
    """Range-partition + sort ``df`` by ``order_cols`` into ``parts``
    partitions, tag rows with their partition id, and persist — the
    summary pass and the data pass must observe the SAME range
    boundaries (a re-executed range exchange re-samples). The pinned
    frame is registered for :func:`release_prefix_caches`."""
    ordered = df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
    ordered = ordered.sortWithinPartitions(*order_cols)
    with_pid = ordered.withColumn("__pid", F.spark_partition_id()).persist()
    _CACHED.append(with_pid)
    return with_pid


def _null_norm(x):
    """Normalize a collected scalar for null-safe equality: None and NaN
    collapse to one sentinel so tie groups containing nulls chain
    correctly across partition boundaries. The conflation is deliberate
    and must MATCH pass 2, where the Arrow crossing renders SQL NULL as
    ``float('nan')`` for float columns (NaN and NULL are
    indistinguishable in a float64 pandas frame) — distinguishing them
    here while pass 2 cannot would desynchronize the boundary offsets.
    Hence the no-NaN contract on ``with_keyed_min_rank``."""
    if x is None:
        return ("__null__",)
    if isinstance(x, float) and x != x:
        return ("__null__",)
    return x


def with_keyed_min_rank(
    df: DataFrame,
    key_cols: List[str],
    value_col: str,
    rank_col: str = "rank",
    n_col: str = "n",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Add per-key ``rank()`` of ``value_col`` (1-based, ties share the
    MIN rank) and the per-key row count ``n_col`` WITHOUT a per-key
    window — the building block for percent_rank / empirical-CDF
    transforms whose key cardinality is LOW (where
    ``Window.partitionBy(key)`` caps parallelism at the number of keys
    and one task sorts a whole key's rows).

    The table moves exactly ONCE:

    1. range-partition + sort by ``(key..., value)`` — one full-table
       exchange at full parallelism, the same cost a global sort pays;
    2. a map-only summary pass emits ONE row per partition (its first /
       last key and tie-group boundary counts) — collect is
       O(num_partitions), independent of key and value cardinality;
    3. the driver chains boundary offsets: for each partition, how many
       rows of its first key (and of its first tie group) live in
       earlier partitions, plus exact totals for the keys that span its
       edges — KB-sized metadata even at thousands of partitions;
    4. a buffered map-only Arrow pass computes within-partition group
       positions vectorized and applies the boundary offsets. Interior
       keys (fully contained in one partition — everything except each
       partition's first and last key, thanks to the range sort) never
       touch the driver at all.

    Compare: the distinct-count → global-prefix-sum → join-back plan
    this replaces moved the table ~2.5× through 9 exchanges; this plan
    moves it once. NULL values sort first (Spark's asc-nulls-first),
    count toward ``n_col``, and occupy the lowest ranks; NULL keys form
    their own group. Partitions are buffered in memory during pass 4 —
    size ``num_partitions`` so a partition fits an executor (the same
    contract ``applyInPandas`` already imposes); when the automatic
    sizing shrinks the exchange below ``defaultParallelism`` from a
    Catalyst size estimate, pass 2's per-partition row counts verify
    the estimate and the exchange is redone at full parallelism if any
    partition exceeds ``_MAX_SHRUNK_PARTITION_ROWS`` rows or
    ``_MAX_SHRUNK_PARTITION_BYTES`` payload bytes (measured in the same
    scan — pass 4 buffers the FULL row, so wide payload columns count)
    — the OOM guard is exact observed data, not a pre-exchange
    partition-count proxy.

    Float-NaN contract: a float ``value_col`` must not contain real NaN
    values — the Arrow crossing in pass 4 represents BOTH SQL NULL and
    NaN as ``float('nan')``, so the two are conflated into one tie
    group here, while Spark's own sort puts NULL first and NaN last.
    Normalize NaN away first (``cdf_normalize`` maps NaN → NULL before
    calling) or accept NaN ≡ NULL semantics.

    Concurrency caveat: the internal boundary-summary job briefly
    disables AQE session-wide (see ``_no_aqe``) — concurrent queries on
    other threads of the same session may plan with AQE off during that
    window. Serial drivers are unaffected.
    """
    spark = df.sparkSession
    default = spark.sparkContext.defaultParallelism
    parts = num_partitions or _auto_partitions(df)
    key_list = list(key_cols)
    order_cols = [*key_list, value_col]
    # persist (inside _range_exchange): the summary pass and the rank pass
    # must observe the SAME range boundaries.
    with_pid = _range_exchange(df, order_cols, parts)

    def _changes(pdf: pd.DataFrame):
        """(key_change, grp_change) bool arrays vs the PREVIOUS row;
        index 0 is computed vs a within-frame shift and must be fixed up
        by the caller (partition start or cross-batch carry)."""
        kc = pdf[key_list]
        kna = kc.isna()
        key_change = (
            kc.ne(kc.shift()) & ~(kna & kna.shift(fill_value=False))
        ).any(axis=1).to_numpy()
        v = pdf[value_col]
        isna = v.isna().to_numpy()
        prev_na = np.concatenate(([False], isna[:-1]))
        grp_change = key_change | (v.ne(v.shift()).to_numpy() & ~(isna & prev_na))
        return key_change, grp_change, isna

    # ---- pass 1: one summary row per partition, single Arrow pass -----
    # The summary is computed where the data already sits: one
    # mapInPandas over the cached (pid, key..., value) projection emits
    # ONE row per partition — its first/last (key, value) plus the
    # boundary key/tie-group run lengths, vectorized run-length math
    # over the range-sorted frame. Collect stays O(num_partitions).
    # (The round-5..7 shape was two JVM jobs — min_by/max_by firsts +
    # a broadcast-joined conditional re-aggregation; the fused Arrow
    # pass replaces two cache scans, an exchange, and a broadcast with
    # one scan: 0.37 s vs 0.51 s measured on the sf0.1 cdf_normalize
    # input. Boundary values crossing Arrow conflate SQL NULL with
    # float NaN exactly as pass 4 does — ``_null_norm`` already
    # normalizes both sides of that contract.)
    bound_cols = [*key_list, value_col]
    sum_fields = [T.StructField("__pid", T.IntegerType())] + [
        T.StructField(n, T.LongType())
        for n in ("n_fk", "n_fg", "n_lk", "n_lg", "rows", "bytes")
    ]
    for c in bound_cols:
        dt = with_pid.schema[c].dataType
        sum_fields += [T.StructField(f"__f_{c}", dt), T.StructField(f"__l_{c}", dt)]
    sum_schema = T.StructType(sum_fields)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = (
            pd.concat(pdfs, ignore_index=True)
            if len(pdfs) > 1
            else pdfs[0].reset_index(drop=True)
        )
        key_change, grp_change, _ = _changes(pdf)
        key_change[0] = True
        grp_change[0] = True
        n = len(pdf)
        kidx = np.flatnonzero(key_change)
        gidx = np.flatnonzero(grp_change)
        row = {
            "__pid": int(pdf["__pid"].iloc[0]),
            "n_fk": int(kidx[1]) if len(kidx) > 1 else n,
            "n_fg": int(gidx[1]) if len(gidx) > 1 else n,
            "n_lk": n - int(kidx[-1]),
            "n_lg": n - int(gidx[-1]),
            "rows": n,
            "bytes": (
                int(pdf["__rowbytes"].sum()) if "__rowbytes" in pdf.columns else 0
            ),
        }
        for c in bound_cols:
            row[f"__f_{c}"] = pdf[c].iloc[0]
            row[f"__l_{c}"] = pdf[c].iloc[-1]
        yield pd.DataFrame([row])

    def _pass1(frame, measure_bytes=False):
        # measure_bytes: only when the estimate shrank the exchange (the
        # retry-guard case) — pass 2 buffers the FULL row, so the guard
        # must see payload bytes, not just the slim key/value columns.
        # The byte expression reads payload columns from the persisted
        # frame JVM-side; only one extra int64 per row crosses Arrow.
        cols = ["__pid", *bound_cols]
        if measure_bytes:
            slim = frame.select(
                *cols,
                _row_bytes_expr(frame.drop("__pid").schema).alias("__rowbytes"),
            )
        else:
            slim = frame.select(*cols)
        with _no_aqe(spark):
            return sorted(
                slim.mapInPandas(summarize, sum_schema).collect(),
                key=lambda r: r["__pid"],
            )

    guarded = num_partitions is None and parts < default
    summaries = _pass1(with_pid, measure_bytes=guarded)
    if guarded and any(
        int(r["rows"]) > _MAX_SHRUNK_PARTITION_ROWS
        or int(r["bytes"]) > _MAX_SHRUNK_PARTITION_BYTES
        for r in summaries
    ):
        # stale-small Catalyst estimate: re-exchange at full parallelism
        # from the persisted frame so pass 2 never buffers an oversized
        # partition (see _MAX_SHRUNK_PARTITION_ROWS/_BYTES).
        with_pid = _range_exchange(with_pid.drop("__pid"), order_cols, default)
        summaries = _pass1(with_pid)

    # ---- driver: chain boundary offsets + spanning-key totals ---------
    # infos[pid] = [off0, c0, n_first_total, n_last_total]
    infos = {}
    chain_key = None  # normalized key tuple of the currently open chain
    chain_total = 0
    chain_members: list = []  # (pid, "first" | "last")
    open_group = None  # (norm key, norm value) continuing across boundary
    open_group_total = 0

    def _close_chain():
        for pid, which in chain_members:
            infos[pid][2 if which == "first" else 3] = chain_total

    for r in summaries:
        pid = int(r["__pid"])
        fk = tuple(_null_norm(r[f"__f_{c}"]) for c in key_list)
        lk = tuple(_null_norm(r[f"__l_{c}"]) for c in key_list)
        fv = _null_norm(r[f"__f_{value_col}"])
        lv = _null_norm(r[f"__l_{value_col}"])
        infos[pid] = [0, 0, None, None]
        if chain_key is not None and fk == chain_key:
            infos[pid][0] = chain_total
            if open_group == (fk, fv):
                infos[pid][1] = open_group_total
            chain_total += int(r["n_fk"])
            chain_members.append((pid, "first"))
        else:
            _close_chain()
            chain_key, chain_total = fk, int(r["n_fk"])
            chain_members = [(pid, "first")]
        if fk == lk:
            # single-key partition: n_fk == n_lk == its rows, counted once
            chain_members.append((pid, "last"))
        else:
            _close_chain()
            chain_key, chain_total = lk, int(r["n_lk"])
            chain_members = [(pid, "last")]
        if fk == lk and fv == lv:
            # partition is one tie group (values sorted within key)
            open_group_total = infos[pid][1] + int(r["n_lg"])
        else:
            open_group_total = int(r["n_lg"])
        open_group = (lk, lv)
    _close_chain()

    # ---- pass 2: vectorized within-partition ranks + offsets ----------
    out_schema = (
        with_pid.drop("__pid").schema.add(rank_col, "long").add(n_col, "long")
    )
    out_names = [f.name for f in out_schema.fields]

    def rank_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = (
            pd.concat(pdfs, ignore_index=True)
            if len(pdfs) > 1
            else pdfs[0].reset_index(drop=True)
        )
        pid = int(pdf["__pid"].iloc[0])
        off0, c0, n_first, n_last = infos.get(pid, (0, 0, None, None))
        key_change, grp_change, _ = _changes(pdf)
        key_change[0] = True
        grp_change[0] = True
        n = len(pdf)
        idx = np.arange(n, dtype=np.int64)
        key_start = np.maximum.accumulate(np.where(key_change, idx, -1))
        grp_start = np.maximum.accumulate(np.where(grp_change, idx, -1))
        key_id = np.cumsum(key_change) - 1
        n_per = np.bincount(key_id)[key_id].astype(np.int64)
        rank = grp_start - key_start + 1
        first_mask = key_id == 0
        if off0 or c0:
            rank = rank + np.where(first_mask, off0, 0)
            rank = rank - np.where(grp_start == 0, c0, 0)
        if n_first is not None:
            n_per = np.where(first_mask, n_first, n_per)
        if n_last is not None:
            n_per = np.where(key_id == key_id[-1], n_last, n_per)
        out = pdf.drop(columns=["__pid"])
        out[rank_col] = rank
        out[n_col] = n_per
        yield out[out_names]

    return with_pid.mapInPandas(rank_partition, out_schema)


def _range_driver_key(x):
    """Driver-side sort key matching Spark's range-partitioner ordering
    (ascending, NULLS FIRST) for the group-key types the percentile
    helper admits: strings order by UTF-8 bytes (Spark's UTF8String
    binary comparison), booleans/ints/floats numerically. Float-NaN
    group keys are rejected — Spark sorts NaN last while Python cannot
    order it at all."""
    if x is None:
        return (0, 0)
    if isinstance(x, str):
        return (1, x.encode("utf-8"))
    if isinstance(x, (bytes, bytearray)):
        return (1, bytes(x))
    if isinstance(x, bool):
        return (1, int(x))
    if isinstance(x, (int, float)):
        if isinstance(x, float) and x != x:
            raise ValueError(
                "exact_group_percentiles: NaN group keys are unsupported"
            )
        return (1, x)
    raise TypeError(
        f"exact_group_percentiles: unorderable group key type {type(x)!r}"
    )


def exact_group_percentiles(
    df: DataFrame,
    group_cols: List[str],
    value_col: str,
    fracs: List[float],
    num_partitions: Optional[int] = None,
):
    """Exact interpolated percentiles per group, bit-identical to Spark's
    ``percentile`` aggregate, WITHOUT its single-reducer value buffer.

    Spark's ``percentile(col, p)`` accumulates every (value, count) pair
    of a group into one OpenHashMap, merges the per-partition maps in ONE
    reducer task, sorts, and interpolates — at 600k near-unique doubles
    that merge+sort is ~2.5 s of single-threaded work per aggregation
    (guide §2.5: a single giant key no partitioning can split). This
    helper computes the IDENTICAL values through the range-exchange
    machinery above (guide §2.3 "shuffle keys, not payloads"):

    1. range-partition + sort ``(group..., value)`` — the only full-data
       exchange, at full parallelism;
    2. one tiny aggregation: per-(partition, group) row/null counts —
       collect is O(partitions x groups), KB-sized for the bounded group
       cardinalities this helper is for;
    3. the driver converts each target rank ``floor/ceil(p*(N-1))`` into
       an absolute row position inside one partition (range order makes
       group blocks contiguous; intra-partition block order is
       reconstructed with :func:`_range_driver_key` and VERIFIED against
       the rows actually fetched);
    4. one codegen filter selects those <= 2*|fracs|*|groups| rows by
       ``monotonically_increasing_id``'s low 33 bits (the documented
       within-partition row number) — no Python crossing, no second
       shuffle;
    5. interpolation happens on the driver with Spark's own formula
       ``(higher - position) * lowerKey + (position - lower) * higherKey``
       including both of its no-interpolation shortcuts (integral
       position; equal neighbor keys) — the bit-exactness contract is
       pinned by tests/test_exact_percentile.py against the builtin.

    Returns ``(percentiles, counts)``: ``percentiles[group] = [value per
    frac]`` (``None`` when the group has no non-null values, matching the
    builtin's NULL), ``counts[group] = (total_rows, nonnull_rows)``.
    Groups are Python tuples of the group-key values, ``()`` for global.

    Contract: group cardinality must be BOUNDED (driver holds one row per
    (partition, group) — use the builtin ``percentile`` for high-
    cardinality keys, whose per-key buffers are small anyway); ``fracs``
    in [0, 1]; a float ``value_col`` must not contain NaN (NULL and NaN
    are both excluded from ranks here, while the builtin sorts NaN last).
    Values are compared after a cast to double — monotone for every
    numeric type, so order statistics (hence results) are unchanged.

    Eager: the caller receives VALUES, not a plan — collects are bounded
    by partitions x groups + 2*|fracs|*|groups|. The pinned exchange is
    released before returning (nothing lazy references it).
    """
    if not fracs:
        raise ValueError("fracs must be non-empty")
    for p in fracs:
        if not (0.0 <= float(p) <= 1.0):
            raise ValueError(f"percentile fraction out of [0,1]: {p!r}")
    spark = df.sparkSession
    key_list = list(group_cols)
    proj = df.select(
        *key_list, F.col(value_col).cast("double").alias("__v")
    )
    parts = num_partitions or _auto_partitions(proj)
    order_cols = [*key_list, "__v"]
    mark = len(_CACHED)
    with_pid = _range_exchange(proj, order_cols, parts)
    try:
        with _no_aqe(spark):
            layout = (
                with_pid.groupBy("__pid", *key_list)
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.sum(F.isnull("__v").cast("long")).alias("cn"),
                )
                .collect()
            )

        # driver: per-group totals + needed global (non-null) ranks
        per_pid: dict = {}
        counts: dict = {}
        for r in layout:
            g = tuple(r[c] for c in key_list)
            c, cn = int(r["c"]), int(r["cn"])
            per_pid.setdefault(int(r["__pid"]), {})[g] = (c, cn)
            tot, nn = counts.get(g, (0, 0))
            counts[g] = (tot + c, nn + c - cn)

        pos_info: dict = {}
        needed: dict = {}
        for g, (_tot, nn) in counts.items():
            if nn == 0:
                continue
            lst, idxs = [], set()
            for p in fracs:
                position = (nn - 1) * float(p)
                lower = math.floor(position)
                higher = math.ceil(position)
                idxs.update((lower, higher))
                lst.append((position, lower, higher))
            pos_info[g] = lst
            needed[g] = idxs

        # rank -> (pid, absolute row position inside that partition)
        norm_g = {g: tuple(_null_norm(x) for x in g) for g in counts}
        want_by_pid: dict = {}
        expect: dict = {}
        cum_nonnull = {g: 0 for g in counts}
        for pid in sorted(per_pid):
            block = 0
            groups_here = sorted(
                per_pid[pid],
                key=lambda g: tuple(_range_driver_key(x) for x in g),
            )
            for g in groups_here:
                c, cn = per_pid[pid][g]
                nn_here = c - cn
                start = cum_nonnull[g]
                for k in needed.get(g, ()):
                    if start <= k < start + nn_here:
                        abs_idx = block + cn + (k - start)
                        want_by_pid.setdefault(pid, []).append(abs_idx)
                        expect[(pid, abs_idx)] = (g, k)
                cum_nonnull[g] += nn_here
                block += c

        val_at: dict = {}
        if expect:
            # low 33 bits of monotonically_increasing_id = row position
            # within the partition; the cached frame scans in stored
            # (sorted) order, so this addresses rows without any Python
            # crossing or extra exchange.
            conds = " OR ".join(
                f"(__pid = {pid} AND __lid IN ({','.join(map(str, sorted(ids)))}))"
                for pid, ids in sorted(want_by_pid.items())
            )
            picked = (
                with_pid.withColumn(
                    "__lid",
                    F.expr("monotonically_increasing_id() & 8589934591"),
                )
                .where(conds)
                .collect()
            )
            if len(picked) != len(expect):
                raise RuntimeError(
                    "exact_group_percentiles: row-address mismatch "
                    f"(fetched {len(picked)}, expected {len(expect)}) — "
                    "range-order reconstruction failed"
                )
            for r in picked:
                key = (int(r["__pid"]), int(r["__lid"]))
                g, k = expect[key]
                row_g = tuple(_null_norm(r[c]) for c in key_list)
                if row_g != norm_g[g]:
                    raise RuntimeError(
                        "exact_group_percentiles: fetched row's group "
                        f"{row_g!r} != expected {norm_g[g]!r} — driver key "
                        "ordering out of sync with the range partitioner"
                    )
                val_at[(g, k)] = float(r["__v"])

        percentiles: dict = {}
        for g, (_tot, nn) in counts.items():
            if nn == 0:
                percentiles[g] = None
                continue
            vals = []
            for position, lower, higher in pos_info[g]:
                lo_v = val_at[(g, lower)]
                if higher == lower:
                    vals.append(lo_v)
                    continue
                hi_v = val_at[(g, higher)]
                if hi_v == lo_v:
                    # Spark's equal-neighbor shortcut: returns the key
                    # itself, NOT the interpolation (whose weights can
                    # sum to 1±1ulp) — required for bit-exactness.
                    vals.append(lo_v)
                else:
                    vals.append(
                        (higher - position) * lo_v + (position - lower) * hi_v
                    )
            percentiles[g] = vals
        return percentiles, counts
    finally:
        # eager helper: nothing lazy references the pinned exchange(s)
        while len(_CACHED) > mark:
            frame = _CACHED.pop()
            try:
                frame.unpersist()
            except Exception:
                pass


__all__ = [
    "with_global_running_sum",
    "with_global_rank",
    "with_keyed_min_rank",
    "release_prefix_caches",
    "exact_group_percentiles",
]
