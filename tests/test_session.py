"""Engine session defaults that change how PySpark talks to the JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F


def test_column_calls_skip_call_site_capture(spark):
    """``get_session`` turns PySpark's DataFrame call-site capture off.
    PySpark caches the setting per process on the first ``Column`` call
    made while a session is active; with it on, each ``F.col`` and each
    ``Column`` method adds about eight py4j round trips.

    Only this thread's round trips count: py4j's finalizer thread sends
    one memory-delete command for each Java object
    wrapper that died earlier, draining its queue once a second, so a
    backlog left by earlier tests can land inside the window."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a")
    assert is_debugging_enabled() is False

    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def _record(command, *a, **k):
        calls.append((threading.current_thread(), command[:40]))
        return send(command, *a, **k)

    client.send_command = _record
    try:
        ((F.col("a") + 1) * F.col("b")).alias("c")
    finally:
        del client.send_command
    mine = [c for t, c in calls if t is threading.current_thread()]
    assert len(mine) <= 12, calls


_CHILD = r"""
import json, os, sys
import pandas as pd
from ml_hadoop_experiment_spark.common import get_session

os.umask(0)  # the socket directory stays private whatever the umask
tmp = os.environ["TMPDIR"]
spark = get_session(master="local[2]", extra_conf={
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
})
sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")

def _double(batches):
    for b in batches:
        yield b * 2

out = {
    "dir": sock_dir,
    "mode": os.stat(sock_dir).st_mode & 0o777,
    "mapped": sorted(r.id for r in spark.range(4, numPartitions=2).mapInPandas(_double, "id long").collect()),
    "pandas": spark.range(3).toPandas()["id"].tolist(),
    "local": sorted(r.a for r in spark.createDataFrame(pd.DataFrame({"a": [5, 6]})).collect()),
}
if sys.argv[1] == "stop":
    spark.stop()
    out["left_after_stop"] = os.listdir(sock_dir)
print(json.dumps(out))
"""


@pytest.mark.parametrize("end", ["stop", "exit"])
def test_python_workers_use_a_short_private_socket_dir(tmp_path, end):
    """A local session talks to its Python workers over Unix domain
    sockets in its own 0700 ``/tmp/spark-uds-*`` directory, so a
    ``java.io.tmpdir`` or ``TMPDIR`` longer than the 107-byte ``sun_path``
    limit does not matter, and neither ``spark.stop()`` nor an exit
    without it leaves a socket file or the directory behind."""
    long_tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, end],
        env={**os.environ, "TMPDIR": str(long_tmp)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["mapped"] == [0, 2, 4, 6]
    assert out["pandas"] == [0, 1, 2]
    assert out["local"] == [5, 6]
    assert out["dir"].startswith("/tmp/spark-uds-")
    assert len(out["dir"]) + len("/.00000000-0000-0000-0000-000000000000.sock") < 108
    assert out["mode"] == 0o700
    assert out.get("left_after_stop", []) == []
    assert not os.path.exists(out["dir"])
    assert not [p for p in long_tmp.rglob("*") if p.name.endswith(".sock")]
