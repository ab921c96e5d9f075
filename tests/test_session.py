"""Session factory: a failed worker warmup never fails the session, but it
is logged with the exception that caused it."""

from __future__ import annotations

import logging

from alix_spark import session


class _NoContext:
    @property
    def sparkContext(self):
        raise RuntimeError("no context")


def test_warmup_failure_is_logged(monkeypatch, caplog):
    monkeypatch.setenv("ALIX_WARM_WORKERS", "1")
    with caplog.at_level(logging.WARNING, logger="alix_spark.session"):
        session._warm_python_workers(_NoContext())
    assert "warmup failed (RuntimeError: no context)" in caplog.text
