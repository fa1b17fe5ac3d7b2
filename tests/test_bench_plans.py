"""Every bench entry must survive analysis against the CURRENT fixtures.

Round-2 lesson: the driver regenerated the events fixture with a new wire
type and `bench.py` crashed at the first affected query — the whole round
shipped without a perf number. This suite builds every BENCH_QUERIES plan
(analysis only: schema resolution catches AnalysisException without paying
execution) and executes every EXTRA_BENCHES entry at the smoke scale, so a
fixture/schema change fails HERE, loudly, before it can kill a bench run.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (repo-root module)
from ml_hadoop_experiment_spark.queries import QUERIES  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

# Queries that run a job while BUILDING the plan (streaming drains, .head()
# for a query vector): full execution, still cheap at smoke scale.
_EXECUTES_ON_BUILD = {"ivf_topk", "streaming_dedup", "streaming_rollup"}


def test_record_name_never_replaces_a_record(tmp_path):
    name = "BENCH_LOCAL_r15.json"
    assert bench.free_record_name(str(tmp_path), name) == name
    (tmp_path / name).write_text("{}")
    taken = f"BENCH_LOCAL_r15_{bench.CPUS}c.json"
    assert bench.free_record_name(str(tmp_path), name) == taken
    (tmp_path / taken).write_text("{}")
    assert (
        bench.free_record_name(str(tmp_path), name)
        == f"BENCH_LOCAL_r15_{bench.CPUS}c_2.json"
    )


def test_bench_set_is_declared():
    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert not missing, f"bench names without declared queries: {missing}"


@pytest.mark.parametrize("name", bench.BENCH_QUERIES)
def test_bench_query_analyzes(spark, name):
    from ml_hadoop_experiment_spark.plans.prefix import release_prefix_caches

    df = QUERIES[name](spark, SF_SMOKE)
    assert len(df.schema.fields) > 0  # forces full analysis of the plan
    release_prefix_caches()  # plan is never executed here; drop pinned input


@pytest.mark.parametrize("name", sorted(bench.EXTRA_BENCHES))
def test_extra_bench_runs_at_smoke_scale(spark, name, monkeypatch):
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    bench.EXTRA_BENCHES[name](spark)

