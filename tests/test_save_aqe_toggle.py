"""IndexStore.save runs its write jobs with AQE enabled and restores the
session's previous setting afterwards (store.py: the save is the
"coalesce on write" regime; sessions run with AQE on unless they opted
out with SPARK_GRAFT_AQE=0 — session.py — and a session that never set
the key keeps Spark's own default).

Pins the conf contract, not the speed: the measured effect (save
~40-80% slower without AQE's write coalescing) is recorded in
OPTIMIZATION_r07.md.
"""

import tempfile

import pytest

from rabbit_index_ingest_spark.datagen import transcripts_df
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.store import IndexStore


@pytest.fixture(scope="module")
def built(spark):
    t = transcripts_df(spark, n_conv=40).persist()
    b = build_index(spark, t)
    yield b
    t.unpersist()


def _save(spark, built):
    store = IndexStore(spark, tempfile.mkdtemp(prefix="aqe_toggle_"))
    rel = built.release
    built.release = lambda: None  # keep caches for the sibling test
    try:
        store.save(built, segment=0)
    finally:
        built.release = rel
    return store


def test_save_restores_aqe_off(spark, built):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    store = _save(spark, built)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert store.load().n_docs == built.n_docs


def test_save_restores_aqe_on(spark, built):
    # a session that opted back in (SPARK_GRAFT_AQE=1) keeps its setting
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        store = _save(spark, built)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert store.load().n_docs == built.n_docs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")


def test_save_restores_on_failure(spark, built):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import dataclasses

    store = IndexStore(spark, tempfile.mkdtemp(prefix="aqe_toggle_"))
    broken = dataclasses.replace(built, n_docs=0)
    with pytest.raises(ValueError):
        store.save(broken, segment=0)  # refuses before the toggle
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_save_keeps_spark_default_when_unset(spark, built):
    # a session that never set the key must still read Spark's default
    # (on) after a save — restoring a hard-coded "false" turned AQE off
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        store = _save(spark, built)
        assert spark.conf.get(key) == "true"
        assert store.load().n_docs == built.n_docs
    finally:
        spark.conf.set(key, prev)
