"""Engine session defaults that change how PySpark talks to the JVM."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_column_calls_skip_call_site_capture(spark):
    """``get_session`` turns PySpark's DataFrame call-site capture off.
    PySpark caches the setting per process on the first ``Column`` call
    made while a session is active; with it on, each ``F.col`` and each
    ``Column`` method adds about eight py4j round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a")
    assert is_debugging_enabled() is False

    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    client.send_command = lambda *a, **k: calls.append(1) or send(*a, **k)
    try:
        ((F.col("a") + 1) * F.col("b")).alias("c")
    finally:
        del client.send_command
    assert len(calls) <= 12, len(calls)
