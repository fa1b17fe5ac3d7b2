"""Local replica of the driver's t2 correctness gate: every declared query
runs in Spark AND in DuckDB (oracle SQL over the same parquet), results must
match exactly after sorting columns by name and rows by value.

Runs at sf0.001 for speed. The same contract at sf0.01 is a sweep run
once per round, with its pass count and time recorded in CHANGES.md;
point ``SPARK_GRAFT_ORACLE_DIR`` at the sf0.01 fixture, the sibling of
the sf0.001 default below:

    SPARK_GRAFT_ORACLE_DIR=<testdata>/sf0.01 \
        python -m pytest tests/test_oracle_parity.py -q
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from ml_hadoop_experiment_spark.common.cache_registry import release_pinned
from ml_hadoop_experiment_spark.plans.prefix import release_prefix_caches
from ml_hadoop_experiment_spark.queries import ORACLE_SQL, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def _assert_frames_match(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    # The driver's value-hash serializes the numpy dtype along with the
    # values, so a HUGEINT-vs-BIGINT (object-vs-int64) divergence fails the
    # gate even when every value is equal (round-1 sessionize lesson).
    for col in s.columns:
        sk, dk = s[col].dtype.kind, d[col].dtype.kind
        assert sk == dk or {sk, dk} <= {"i", "u"} or {sk, dk} <= {"f"}, (
            f"{name}.{col}: dtype kind {s[col].dtype} (spark) != {d[col].dtype} (duckdb)"
        )
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == b, f"{name}.{col}[{i}]: {a!r} != {b!r}"
            else:
                assert a == b, f"{name}.{col}[{i}]: {a!r} != {b!r}"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _persisted_rdds(spark) -> set[int]:
    """Ids of the session's persisted RDDs. ``ann._ROUTED_STEADY`` is the
    one store meant to outlive a query: it keeps the routed index that
    ``ivf_pq_routed_steady`` probes, which reads its parquet copy and so
    pins no RDD; the invariant below holds for it with no exemption."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    streaming = name.startswith("streaming_")
    views = _temp_views(spark) if streaming else None
    rdds = _persisted_rdds(spark)
    df = QUERIES[name](spark, SF_DIR)
    # a drained stream has stopped and dropped its memory sink by now
    assert not streaming or (
        not spark.streams.active and _temp_views(spark) == views
    ), f"{name} left a stream or a sink view behind"
    spark_pdf = df.toPandas()
    duck_pdf = duck.execute(ORACLE_SQL[name]).df()
    # prefix-sum queries pin one persisted copy of their ranged input;
    # the sweep reclaims it between queries (the result is materialized).
    release_prefix_caches()
    release_pinned()
    left = _persisted_rdds(spark) - rdds
    assert not left, f"{name} left persisted RDDs {sorted(left)} behind"
    _assert_frames_match(name, spark_pdf, duck_pdf)


def test_every_query_has_oracle():
    assert set(QUERIES) == set(ORACLE_SQL)
