"""The worker daemon's stat-guarded ``zipimporter.invalidate_caches``."""

from __future__ import annotations

import os
import sys
import warnings
import zipfile
import zipimport

import pandas as pd
import pytest

from ml_hadoop_experiment_spark.common import pydaemon, session_defaults

GUARDED = sys.version_info < (3, 12)


def test_session_workers_run_the_guard(spark):
    def _report(batches):
        fn = zipimport.zipimporter.invalidate_caches
        uds = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")
        for _ in batches:
            yield pd.DataFrame({"src": [fn.__code__.co_filename], "uds": [uds]})

    rows = spark.range(2, numPartitions=2).mapInPandas(_report, "src string, uds string").collect()
    srcs = {r["src"] for r in rows}
    assert len(srcs) == 1
    assert srcs.pop().endswith(os.path.join("common", "pydaemon.py")) == GUARDED
    # the worker factory talks to the daemon over a Unix domain socket
    assert {(r["uds"] or "").lower() for r in rows} == {"true"}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Count directory reads; isolate the shared cache and the guard's record."""
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(pydaemon, "_read_at", {})
    real = zipimport._read_directory
    calls = []

    def _counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", _counting)
    return calls


@pytest.mark.skipif(not GUARDED, reason="CPython 3.12+ re-reads lazily")
def test_guard_rereads_only_a_changed_archive(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    assert len(reads) == 1

    pydaemon.invalidate_caches(imp)  # first guarded call: no recorded read
    assert len(reads) == 2
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
    assert len(reads) == 2
    other = zipimport.zipimporter(path)  # served from the shared cache
    pydaemon.invalidate_caches(other)
    assert len(reads) == 2 and other._files is imp._files

    _write_zip(path, ["mod_a", "mod_b"])  # new size
    assert imp.find_spec("mod_b") is None
    pydaemon.invalidate_caches(imp)
    assert len(reads) == 3
    assert imp.find_spec("mod_b") is not None
    pydaemon.invalidate_caches(other)  # re-points at the fresh directory
    assert len(reads) == 3 and other.find_spec("mod_b") is not None

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # new mtime only
    pydaemon.invalidate_caches(imp)
    assert len(reads) == 4

    zipimport._zip_directory_cache.pop(path)
    pydaemon.invalidate_caches(imp)
    assert len(reads) == 5


@pytest.mark.skipif(not GUARDED, reason="CPython 3.12+ re-reads lazily")
def test_guard_on_a_vanished_archive_empties_the_importer(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(imp)
    os.remove(path)
    pydaemon.invalidate_caches(imp)
    assert imp._files == {} and path not in zipimport._zip_directory_cache
    assert path not in pydaemon._read_at


@pytest.mark.parametrize("version", [(3, 11, 7), (3, 12, 0), (3, 13, 0)])
def test_install_replaces_only_below_312(monkeypatch, version):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", version)
    pydaemon.install()
    replaced = zipimport.zipimporter.invalidate_caches is not original
    assert replaced == (version < (3, 12))


def test_get_session_warns_on_each_static_conf_it_could_not_bind(spark, monkeypatch):
    from ml_hadoop_experiment_spark.common import session

    other = {
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.python.unix.domain.socket.enabled": "false",
    }
    with monkeypatch.context() as m:
        m.setattr(session, "session_defaults", lambda: {**session_defaults(), **other})
        with pytest.warns(RuntimeWarning) as rec:
            assert session.get_session() is spark
    msgs = " ".join(str(w.message) for w in rec)
    for key, live in session_defaults().items():
        if key in other:
            assert f"{key} is {live} (wanted {other[key]})" in msgs
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.get_session()  # back to the engine's values, and silent
