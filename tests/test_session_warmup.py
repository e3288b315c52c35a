"""Session warm-up (_warm_session): runs once, is idempotent, opt-out.

The warm-up exercises the real build/save pipeline on a tiny SYNTHETIC
corpus at session creation so a fresh JVM's first user build does not pay
cold JIT / Python-worker-fork costs inside its own timing (measured: a
second identical build+save in one session runs ~2x faster on an identical
plan). These tests pin the contract, not the speed.
"""

import logging
import time

from rabbit_index_ingest_spark.index import build
from rabbit_index_ingest_spark.session import _warm_session


def test_warm_marker_set_by_get_spark(spark):
    # the conftest session came from get_spark() → warm-up already ran
    assert spark.conf.get("spark.rabbit.sessionWarmed", "0") == "1"


def test_warm_session_idempotent(spark):
    # second call must short-circuit on the marker: no jobs, near-instant
    t0 = time.time()
    _warm_session(spark)
    assert time.time() - t0 < 0.5


def test_warm_session_opt_out(spark, monkeypatch):
    # with the env opt-out set, even a cleared marker must not re-warm
    monkeypatch.setenv("SPARK_GRAFT_NO_WARM", "1")
    spark.conf.set("spark.rabbit.sessionWarmed", "0")
    try:
        t0 = time.time()
        _warm_session(spark)
        assert time.time() - t0 < 0.5
        assert spark.conf.get("spark.rabbit.sessionWarmed") == "0"
    finally:
        spark.conf.set("spark.rabbit.sessionWarmed", "1")


def test_warm_session_failure_logs_warning(spark, monkeypatch, caplog):
    # a failing warm-up must not block the session, but must say why
    def boom(*args, **kwargs):
        raise RuntimeError("synthetic build failure")

    monkeypatch.delenv("SPARK_GRAFT_NO_WARM", raising=False)
    monkeypatch.setattr(build, "build_index", boom)
    spark.conf.set("spark.rabbit.sessionWarmed", "0")
    try:
        with caplog.at_level(logging.WARNING, "rabbit_index_ingest_spark"):
            _warm_session(spark)
        warned = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert warned and "warm-up failed" in warned[0].getMessage()
        assert "synthetic build failure" in str(warned[0].exc_info[1])
        assert spark.conf.get("spark.rabbit.sessionWarmed") == "0"
    finally:
        spark.conf.set("spark.rabbit.sessionWarmed", "1")
