"""The benchmark's workloads: their inputs, set-up and calls.

Every call is timed from outside the package, through its public
functions: ``QUERIES[name](spark, data_dir)`` for declared queries (the
``tfrecord_roundtrip`` query drives the TFRecord sink and source), and
``operators.simhash_index`` for the index built once and probed per
pass. Each call has a DuckDB twin from ``ORACLE_SQL``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

import fixtures
from ml_hadoop_experiment_spark.queries import ORACLE_SQL, QUERIES


@dataclass
class Ctx:
    """What a call sees: the session, its inputs and the set-up state."""

    spark: object
    data_dir: str
    work_dir: str
    spans: object
    index: object = None


@dataclass
class Call:
    label: str
    layer: str  # the module whose public functions the call times
    oracle: str
    build: Callable[[Ctx], object]
    cleanup: Callable[[Ctx], None] | None = None


@dataclass
class Workload:
    name: str
    calls: list[Call]
    make_inputs: Callable[[str, int, float], str]
    sf: float  # scale factor of the base tables
    setup: Callable[[Ctx], None] | None = None


def query(name: str, layer: str = "queries", cleanup=None) -> Call:
    return Call(
        name, layer, ORACLE_SQL[name], lambda ctx: QUERIES[name](ctx.spark, ctx.data_dir), cleanup
    )


# --- sources: the tfrecord_roundtrip query's files -------------------------
# The query writes its TFRecords eagerly into a fresh temp dir under the
# run's TMPDIR (its build span) and reads them back lazily (its sink span).


def _tfrecord_files(ctx: Ctx) -> None:
    """Record the rows and bytes the query wrote, then remove its files."""
    from ml_hadoop_experiment_spark.sources.tfrecords import read_tfrecord_file

    for d in glob.glob(os.path.join(tempfile.gettempdir(), "tfr_roundtrip_*")):
        files = [f for f in glob.glob(os.path.join(d, "part-*")) if os.path.isfile(f)]
        with ctx.spans.span("tfrecord_files") as rec:
            rec["rows"] = sum(1 for f in files for _ in read_tfrecord_file(f))
            rec["bytes"] = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(d, ignore_errors=True)


# --- operators: SimHash index built once, probed per pass ---------------


def _split_docs(ctx: Ctx):
    from pyspark.sql import functions as F

    docs = ctx.spark.read.parquet(f"{ctx.data_dir}/documents.parquet")
    return docs.where(F.col("doc_id") % 10 == 0), docs.where(F.col("doc_id") % 10 != 0)


def _build_index(ctx: Ctx) -> None:
    from ml_hadoop_experiment_spark.operators.simhash_index import build_simhash_index

    _, corpus = _split_docs(ctx)
    with ctx.spans.span("index_build"):
        ctx.index = build_simhash_index(
            corpus, "doc_id", "text", bits=32, max_hamming=3, register=False
        )


def _probe_index(ctx: Ctx):
    from ml_hadoop_experiment_spark.operators.simhash_index import simhash_against_index

    new, _ = _split_docs(ctx)
    return simhash_against_index(new, ctx.index, "doc_id", "text")


# --- inputs --------------------------------------------------------------


def _base_inputs(root: str, seed: int, sf: float) -> str:
    return fixtures.base_dir(sf)


def _scale10_inputs(root: str, seed: int, sf: float) -> str:
    return fixtures.write_scale10(os.path.join(root, "scale10"), fixtures.base_dir(sf), seed)


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "batch_scale10",
            [
                query("udf_linear_score"),
                query("sample_stratified"),
                query("vocab_tokens"),
                query("tfrecord_roundtrip", "sources", _tfrecord_files),
                Call("simhash_against_index", "operators", ORACLE_SQL["simhash_index"],
                     _probe_index),
            ],
            _scale10_inputs,
            sf=0.001,
            setup=_build_index,
        ),
        Workload(
            "loops_and_drains",
            [
                query("bpe_encode"),
                query("streaming_dedup"),
            ],
            _base_inputs,
            sf=0.01,
        ),
    ]
}
