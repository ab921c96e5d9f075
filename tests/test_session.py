"""Session factory: a failed worker warmup never fails the session, but it
is logged with the exception that caused it; defaults are sized to the
session's cores and never override a running session's settings."""

from __future__ import annotations

import logging
import os
import subprocess
import sys

from alix_spark import session
from tests.conftest import REPO


class _NoContext:
    @property
    def sparkContext(self):
        raise RuntimeError("no context")


def test_warmup_failure_is_logged(monkeypatch, caplog):
    monkeypatch.setenv("ALIX_WARM_WORKERS", "1")
    with caplog.at_level(logging.WARNING, logger="alix_spark.session"):
        session._warm_python_workers(_NoContext())
    assert "warmup failed (RuntimeError: no context)" in caplog.text


def test_get_spark_keeps_running_session_settings(spark):
    """A second get_spark (as build_index.main makes) must not reset the
    running session's settings to the defaults."""
    spark.conf.set(session.SHUFFLE_PARTITIONS, "3")
    try:
        again = session.get_spark(app_name="x")
        assert again.conf.get(session.SHUFFLE_PARTITIONS) == "3"
    finally:
        spark.conf.set(session.SHUFFLE_PARTITIONS, "8")


_FRESH_SESSION = """
from alix_spark import get_spark
spark = get_spark(master="local[3]")
print("derived", spark.conf.get("spark.sql.shuffle.partitions"))
spark = get_spark(shuffle_partitions=5)
print("explicit", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_shuffle_partitions_default_to_session_cores():
    """A fresh session shuffles into one partition per core; an explicit
    shuffle_partitions still applies to the running session."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_MASTER_SET", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(ALIX_WARM_WORKERS="0", ALIX_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "derived 3\n" in proc.stdout
    assert "explicit 5\n" in proc.stdout
