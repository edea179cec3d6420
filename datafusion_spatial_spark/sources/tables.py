"""Loaders for the driver's testdata tables (TESTDATA.md).

``load_table`` applies per-table physical fixups so every engine component
sees clean Spark types:

* ``events.ts`` is INT64 TIMESTAMP(NANOS) in parquet, which Spark cannot
  read natively; with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
  a long that we floor-divide to microseconds — the same truncation DuckDB
  applies (µs-precision timestamps), keeping the oracle comparable.

Relation cache (r15 optimization round): every ``spark.read.parquet`` call
costs a fresh file listing, a parquet footer schema-inference pass (Spark
schedules a small job for it) and several py4j round trips — measured
~200 ms per call on local[32], paid on EVERY query build because each
query function re-loads its tables. ``load_table`` now memoizes the
*unexecuted DataFrame* (the analyzed logical plan — a table resolution,
exactly what a SQL catalog does) per live SparkSession and real path.
This caches NO data and NO results: every action on the returned frame
still scans the parquet files.

**Contract (r16, VERDICT r15 #8): the directories passed to ``load_table``
are immutable for the lifetime of the session.** The memoized frame holds
the file listing resolved at first load; files added to / removed from the
directory afterwards are invisible to it (exactly like a catalog table
whose manifest predates the mutation). Every current call site passes
write-once fixture dirs (driver testdata + .scale copies). For a mutable
directory — e.g. a streaming-ingest landing zone at production scale —
call :func:`invalidate_relations` after the mutation; pinned by
tests/test_relation_cache_r16.py.

View names in ``TABLES`` are reserved for :func:`register_views`: the skip
logic re-validates against the live catalog, so an outside
``dropTempView``/``createOrReplaceTempView`` on those names is repaired on
the next call rather than silently trusted (ADVICE r15).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# session -> {(realpath(sf_dir), table): DataFrame}; WeakKey so a stopped
# session's plans are collectable. DataFrames are immutable plans — sharing
# one across callers is safe.
_RELATIONS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
# session -> {view_name: (realpath(sf_dir))} — skip re-running
# createOrReplaceTempView when the view already points at this table.
_VIEWS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs: the caller's session (e.g. the driver's) may
    not have gone through session.get_spark. Both are runtime-settable SQL
    confs; without nanosAsLong the events table is unreadable, and a
    non-UTC timezone would skew timestamp-string outputs vs the oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns epoch values exceed double's 2^53 exactness
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (os.path.realpath(sf_dir), name)
    per_session = _RELATIONS.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = _load_uncached(spark, sf_dir, name)
        per_session[key] = df
    return df


def invalidate_relations(spark: SparkSession) -> None:
    """Drop the memoized relations/views for ``spark`` — required after
    mutating a directory previously passed to :func:`load_table` (see the
    module docstring's immutability contract)."""
    _RELATIONS.pop(spark, None)
    _VIEWS.pop(spark, None)


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    real = os.path.realpath(sf_dir)
    # skip a view that already points at this directory, but only after
    # confirming it still exists in the live catalog (an outside
    # dropTempView is repaired)
    seen = _VIEWS.setdefault(spark, {})
    for name in names or TABLES:
        if seen.get(name) == real and spark.catalog.tableExists(name):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        seen[name] = real
