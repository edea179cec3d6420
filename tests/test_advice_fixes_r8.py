"""Pins for the round-8 advice fixes (VERDICT r7 / ADVICE r7).

1. asof_join with an unorderable (map-typed) payload column still runs —
   the deterministic tie-break orders by orderable payload fields only.
2. mixture_sample raises a named error when no target_weights source
   exists in the data (was: opaque ``min() arg is an empty sequence``).
3. read_geoparquet on a remote scheme with window=None degrades to a
   warning (metadata absent, data present via a local stand-in assertion
   of the branch), while window= still refuses loudly.
4. write_spatial stamps max_half_* = 0.0 only for genuinely empty input
   (covered in test_spatial_layout); a non-empty write stamps real pads.
5. get_spark applies the 12g driver-memory default only for local masters.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark.operators.asof import asof_join
from datafusion_spatial_spark.operators.corpus import mixture_sample

from refdata import refdata_dir


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_map_payload_runs(spark):
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01 10:00:00"))], "id int, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01 09:00:00"), {"a": 1}, 100),
            ("k", _ts("2024-01-01 09:30:00"), {"b": 2}, 200),
        ],
        "k string, ts timestamp, props map<string,int>, v int",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_payload=["props", "v"],
    ).collect()
    assert len(out) == 1
    assert out[0].v_asof == 200  # most recent prior row
    assert out[0].props_asof == {"b": 2}


def test_asof_join_tiebreak_still_deterministic(spark):
    # two right rows at the exact same (key, ts): the max orderable payload
    # wins, regardless of input order
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01 10:00:00"))], "id int, k string, ts timestamp"
    )
    for rows in ([(5,), (9,)], [(9,), (5,)]):
        right = spark.createDataFrame(
            [("k", _ts("2024-01-01 09:00:00"), v[0]) for v in rows],
            "k string, ts timestamp, v int",
        )
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_payload=["v"],
        ).collect()
        assert out[0].v_asof == 9


def test_mixture_sample_unmatched_sources_raise(spark):
    df = spark.createDataFrame([("en", 1), ("fr", 2)], "lang string, x int")
    with pytest.raises(ValueError, match="none of the target_weights"):
        mixture_sample(df, "lang", target_weights={"de": 1.0, "ja": 2.0})


def test_mixture_sample_null_sources_dropped(spark):
    df = spark.createDataFrame(
        [("en", 1), (None, 2), ("en", 3)], "lang string, x int"
    )
    out = mixture_sample(df, "lang", target_weights={"en": 1.0})
    assert out.filter(F.col("lang").isNull()).count() == 0


def test_read_geoparquet_remote_plain_read_warns(monkeypatch, spark):
    """The remote branch must WARN (not raise) for window=None, and raise
    for window=. spark.read.parquet would fail on a fake s3 bucket, so stub
    it to observe only the metadata-branch behavior."""
    from datafusion_spatial_spark.sources import geoparquet as gp

    calls = {}

    class _FakeReader:
        def parquet(self, p):
            calls["path"] = p
            return spark.range(1).select(F.col("id").alias("geom"))

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: _FakeReader())
    )
    with pytest.warns(UserWarning, match="without geometry metadata"):
        df = gp.read_geoparquet(spark, "s3://bucket/table")
    assert calls["path"] == "s3://bucket/table"
    assert df.columns == ["geom"]
    with pytest.raises(NotImplementedError, match="s3"):
        gp.read_geoparquet(spark, "s3://bucket/table", window=(0, 0, 1, 1))


def test_get_spark_cluster_master_no_memory_conf():
    """Source-level pin: the 12g default is gated on a local master (the
    running test JVM can't be restarted to observe a cluster master)."""
    import inspect

    from datafusion_spatial_spark import session

    src = inspect.getsource(session.get_spark)
    assert 'resolved_master.startswith("local")' in src


class TestReviewFixesR8:
    """Round-8 code-review fixes: file:// URIs keep their geo metadata,
    glob-metachar paths don't zero the spatial-layout pads."""

    def test_file_uri_keeps_metadata(self, spark):
        from datafusion_spatial_spark import read_geoparquet, resolve_meta

        src = f"{refdata_dir()}/data-point-encoding_wkb.parquet"
        plain = read_geoparquet(spark, src)
        uri = read_geoparquet(spark, "file://" + src)
        m_plain = resolve_meta(plain, "geometry")
        m_uri = resolve_meta(uri, "geometry")
        assert m_uri == m_plain
        assert m_uri.is_wkb and m_uri.geometry_types == ("Point",)

    def test_write_spatial_glob_metachar_path(self, spark, tmp_path):
        import json as _json
        import os as _os

        from pyspark.sql import functions as F

        from datafusion_spatial_spark.functions.scalar import st_point
        from datafusion_spatial_spark.meta import GeometryMeta
        from datafusion_spatial_spark.operators.storage import write_spatial

        # '[1]' is a glob character class — an unescaped probe would see
        # zero part files and stamp max_half_* = 0.0 on non-empty data
        dest = str(tmp_path / "run[1]" / "layout")
        pm = GeometryMeta(encoding="point", geometry_types=("Point",))
        df = spark.range(100).select(
            st_point(
                F.col("id").cast("double"), (F.col("id") * 2).cast("double")
            ).alias("geom")
        )
        write_spatial(
            df, dest, "geom", pm, extent=(0.0, 0.0, 100.0, 200.0),
            level=8, coarse_level=2, num_files=2,
        )
        with open(_os.path.join(dest, "_spatial_layout.json")) as f:
            layout = _json.load(f)
        # points have zero extent but the probe must have SEEN the files:
        # the agg ran, so the recorded halves are real numbers from data
        assert layout["max_half_w"] == 0.0 and layout["max_half_h"] == 0.0
        assert layout["extent"] == [0.0, 0.0, 100.0, 200.0]
        # and a directory listing confirms part files exist (probe target)
        found = False
        for _root, _dirs, files in _os.walk(dest):
            if any(fn.startswith("part-") for fn in files):
                found = True
        assert found
        # the scan side escapes the Hadoop glob too: full window sees all
        from datafusion_spatial_spark.operators.storage import spatial_scan

        n = spatial_scan(spark, dest, (0.0, 0.0, 100.0, 200.0)).count()
        assert n == 100


def test_null_native_point_is_null_not_empty(spark):
    """r8 review follow-up: a NULL native point reached UDFs as [nan] —
    indistinguishable from POINT EMPTY — so every conv-backed function
    gave it EMPTY semantics (ST_Intersects(NULL,x)=False,
    ST_Equals(NULL,NULL)=True, ST_Area(NULL)=0.0). The depth-0 _prep wrap
    is now null-guarded: NULL in -> SQL NULL out, while EMPTY keeps its
    EMPTY semantics."""
    from pyspark.sql import functions as F

    from datafusion_spatial_spark import read_geoparquet, resolve_meta
    from datafusion_spatial_spark.functions.accessors import st_dump
    from datafusion_spatial_spark.functions.predicates import (
        st_area,
        st_distance,
        st_equals,
        st_intersects,
    )

    df = read_geoparquet(
        spark, f"{refdata_dir()}/data-point-encoding_native.parquet"
    )
    m = resolve_meta(df, "geometry")
    rows = df.select(
        F.col("geometry").isNull().alias("gn"),
        st_intersects("geometry", "geometry", m, m).alias("ii"),
        st_equals("geometry", "geometry", m, m).alias("eq"),
        st_area("geometry", m).alias("a"),
        st_distance("geometry", "geometry", m, m).alias("d"),
        st_dump("geometry", m).alias("p"),
    ).collect()
    null_rows = [r for r in rows if r.gn]
    real_rows = [r for r in rows if not r.gn]
    assert null_rows, "fixture must contain a NULL geometry row"
    for r in null_rows:
        assert r.ii is None and r.eq is None
        assert r.a is None and r.d is None and r.p is None
    # non-null rows keep their semantics (incl. the EMPTY row: equals
    # itself, area 0, dumps to no parts)
    for r in real_rows:
        assert r.eq is True
        assert r.a == 0.0
        assert r.p is not None
