"""Fixture contract: every assumption the queries hard-code about the
driver-generated testdata, asserted in one place.

Round-2 lesson: the driver regenerated `events.parquet` with a new wire
type (`ts` bigint → timestamp[us]) and four queries + the whole bench run
broke at runtime. The temporal family is now schema-adaptive, but other
constants remain by design (frozen IVF centroids assume dim=64; the
similarity queries assume the embedding width; user_similarity pivots on
the event-type vocabulary). When the driver regenerates a fixture in a way
that invalidates one of these, THIS file fails with a message naming what
to update — instead of a red correctness row or a crashed bench.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

SF_DIRS = [
    d
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_all_tables_present(sf_dir):
    missing = [t for t in TABLES if not os.path.exists(f"{sf_dir}/{t}.parquet")]
    assert not missing, f"{sf_dir} missing tables {missing}: update queries/_shared.py _t users"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_a_supported_wire_type(sf_dir):
    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    assert str(t) in ("timestamp[us]", "timestamp[ns]", "timestamp[ms]", "int64"), (
        f"events.ts wire type {t} is new: extend "
        "queries._shared._normalize_event_time and "
        "operators/temporal.epoch_and_scale"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_columns(sf_dir):
    names = set(pq.read_schema(f"{sf_dir}/events.parquet").names)
    assert {"event_id", "ts", "user_id", "event_type", "value", "props"} <= names


def test_event_type_vocabulary_covers_user_similarity():
    """q_user_similarity pivots on _EVENT_TYPES; a regenerated fixture with
    new event types would silently drop them from the similarity vectors
    on BOTH engines (still hash-equal, but meaningless). Catch it here."""
    import duckdb

    from ml_hadoop_experiment_spark.queries._shared import _EVENT_TYPES

    sf = SF_DIRS[0]
    got = {
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT event_type FROM read_parquet('{sf}/events.parquet')"
        ).fetchall()
    }
    assert got <= set(_EVENT_TYPES), (
        f"fixture event types {got - set(_EVENT_TYPES)} missing from "
        "queries._shared._EVENT_TYPES: extend the pivot vocabulary"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embedding_dim_is_64(sf_dir):
    """ivf_fixture.FROZEN_CENTROIDS_8X64, q_embedding_centroids(dim=64),
    and the similarity SQL twins all assume 64-wide embeddings."""
    import duckdb

    n = duckdb.sql(
        f"SELECT DISTINCT len(embedding) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    assert n == [(64,)], (
        f"embedding width changed ({n}): regenerate operators/ivf_fixture.py "
        "centroids and update dim=64 call sites in queries/_shared.py"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_documents_columns(sf_dir):
    names = set(pq.read_schema(f"{sf_dir}/documents.parquet").names)
    assert {"doc_id", "text", "lang", "source", "n_chars"} <= names


def test_embeddings_has_query_vector_and_labels():
    """q_ann_topk / q_ivf_topk fetch vec_id=0 as the query vector;
    embedding_centroids groups by label."""
    import duckdb

    sf = SF_DIRS[0]
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/embeddings.parquet') WHERE vec_id = 0"
    ).fetchone()[0]
    assert n == 1, "vec_id=0 query vector missing: update q_ann_topk/q_ivf_topk"
    cols = set(pq.read_schema(f"{sf}/embeddings.parquet").names)
    assert {"vec_id", "embedding", "label"} <= cols
