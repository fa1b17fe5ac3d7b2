"""The fixture-load memo of ``queries._shared._t``/``_stream_t``: a warm
load starts no Spark job, and a rewritten file or a changed conf makes the
next load probe the file again."""

from __future__ import annotations

import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ml_hadoop_experiment_spark.queries import _shared as S


def _jobs(spark, fn, group):
    """Run ``fn`` under job group ``group`` and return ``(result, jobs)``.
    A marker job in a second group follows it; the listener bus delivers
    events in order, so once the tracker has the marker it has every job
    ``fn`` started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup(group + "-marker", group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.01)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def _set(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield _set
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_warm_load_starts_no_job(spark, sf_dir, tmp_path):
    for name in ("documents", "events"):
        shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path)
    d = str(tmp_path)
    for name in ("documents", "events"):
        cold, n_cold = _jobs(spark, lambda: S._t(spark, d, name), f"cold-{name}")
        warm, n_warm = _jobs(spark, lambda: S._t(spark, d, name), f"warm-{name}")
        assert n_cold >= 1, f"{name}: the first load should infer the schema"
        assert n_warm == 0, f"{name}: a warm load started {n_warm} jobs"
        assert warm.schema == cold.schema
        assert warm.rdd.getNumPartitions() == cold.rdd.getNumPartitions()
        assert sorted(warm.collect()) == sorted(cold.collect())
    _, n_stream = _jobs(spark, lambda: S._stream_t(spark, d, "events"), "stream")
    assert n_stream == 0


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert S._t(spark, str(tmp_path), "t").columns == ["a"]
    # rewritten in place: same path, possibly the same inode and mtime tick
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = S._t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_schema_conf_change_reprobes(spark, conf, tmp_path):
    """``nanosAsLong`` decides whether a TIMESTAMP(NANOS) column reads as
    bigint or is rejected: with it off, a load that reused the memoized
    bigint schema would succeed; one that probes the file again fails."""
    path = tmp_path / "ts.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_000], pa.timestamp("ns"))}), path
    )
    d = str(tmp_path)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    first = S._t(spark, d, "ts")
    assert first.schema["ts"].dataType.simpleString() == "bigint"
    _, n_warm = _jobs(spark, lambda: S._t(spark, d, "ts"), "nanos-warm")
    assert n_warm == 0
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        S._t(spark, d, "ts")
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    again, n_again = _jobs(spark, lambda: S._t(spark, d, "ts"), "nanos-back")
    assert n_again == 0
    assert again.collect()[0]["ts"] == 1_000_000_000


def test_partition_conf_change_reprobes(spark, conf, sf_dir, tmp_path):
    """``maxPartitionBytes`` changes the scan's partition count, and with
    it the fan-out decision: a small split size makes the fixture scan
    wide enough that ``fan_out`` leaves it alone."""
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path)
    d = str(tmp_path)
    path = f"{d}/documents.parquet"
    parallelism = spark.sparkContext.defaultParallelism
    narrow = S._t(spark, d, "documents")
    narrow_parts = S._SCANS[path][2]
    assert narrow_parts < parallelism
    assert "Exchange" in narrow._jdf.queryExecution().executedPlan().toString()
    conf("spark.sql.files.maxPartitionBytes", "4k")
    wide, n_jobs = _jobs(spark, lambda: S._t(spark, d, "documents"), "split-flip")
    wide_parts = S._SCANS[path][2]
    assert n_jobs >= 1
    assert wide_parts >= parallelism > narrow_parts
    assert wide.rdd.getNumPartitions() == wide_parts
    assert "Exchange" not in wide._jdf.queryExecution().executedPlan().toString()
    assert wide.count() == narrow.count()


def test_self_join_of_two_loads_resolves(spark, sf_dir):
    a = S._t(spark, sf_dir, "documents")
    b = S._t(spark, sf_dir, "documents")
    pairs = a.join(b, a["doc_id"] == b["doc_id"]).select(a["doc_id"], b["text"])
    assert pairs.count() == a.count()
