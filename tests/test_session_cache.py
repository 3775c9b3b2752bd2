"""Session-level state: persist_scoped generations, eager release, view
registration, load_table's per-session plan memo, the input-sized
shuffle partition count and the default core count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark import session as S


def _frame(spark, n):
    return spark.range(n).withColumn("x", F.col("id") * 2)


def test_changed_plan_evicts_previous_generation(spark):
    a = S.persist_scoped(_frame(spark, 10), "t_evict")
    c = S.persist_scoped(_frame(spark, 20), "t_evict")
    assert c is not a
    assert not a.is_cached, "previous generation must be unpersisted"
    assert c.is_cached
    S.release_scoped("t_evict")
    assert not c.is_cached


def test_release_all_scopes(spark):
    a = S.persist_scoped(_frame(spark, 5), "t_all_1")
    b = S.persist_scoped(_frame(spark, 6), "t_all_2")
    S.release_scoped()
    assert not a.is_cached and not b.is_cached


def test_register_views_switches_dirs(spark):
    """Switching directories re-registers and switching BACK re-registers
    again: the views always point at the last directory registered."""
    S.register_views(spark, "/root/testdata/sf0.001")
    n_small = spark.table("orders").count()
    S.register_views(spark, "/root/testdata/sf0.01")
    n_big = spark.table("orders").count()
    assert n_big > n_small
    S.register_views(spark, "/root/testdata/sf0.001")
    assert spark.table("orders").count() == n_small


def test_load_table_memoizes_lazy_plan_per_session_and_dir(spark):
    """load_table memoizes the unresolved source plan per (session, dir,
    table) — ~250 ms of listing + footer inference per call otherwise —
    but distinct directories get distinct plans and a separate session
    (newSession) never shares the parent's entries."""
    a = S.load_table(spark, "/root/testdata/sf0.001", "orders")
    b = S.load_table(spark, "/root/testdata/sf0.001", "orders")
    assert b is a, "same (session, dir, table) must reuse the cached plan"
    c = S.load_table(spark, "/root/testdata/sf0.01", "orders")
    assert c is not a
    assert c.count() > a.count(), "each plan still reads its own directory"
    ns = spark.newSession()
    d = S.load_table(ns, "/root/testdata/sf0.001", "orders")
    assert d is not a
    assert d.count() == a.count()


def test_derived_shuffle_partitions_sizes_from_input(monkeypatch, tmp_path):
    """No input bytes -> the cores floor; a small input -> one partition
    per MIN_TASK_BYTES (2 MiB), rounded up, whatever the core count."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S.derived_shuffle_partitions(32) == 32
    size = 5 * 1024**2 + 1
    with open(tmp_path / "t.parquet", "wb") as fh:
        fh.truncate(size)
    assert S.derived_shuffle_partitions(32) == -(-size // (2 * 1024**2)) == 3


def test_get_spark_defaults_to_affinity_cores(monkeypatch):
    """With no ``cpus``, the local core count is the process's CPU
    affinity count (stopped before any session is built)."""
    seen = []

    class Built(Exception):
        pass

    def record(cpus):
        seen.append(cpus)
        raise Built

    monkeypatch.setattr(S.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(S, "derived_shuffle_partitions", record)
    with pytest.raises(Built):
        S.get_spark("affinity-default")
    assert seen == [3]
