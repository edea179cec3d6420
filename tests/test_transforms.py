"""Tests for constructors / coordinate transforms."""

from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta
from datafusion_spatial_spark.functions import st_astext
from datafusion_spatial_spark.functions.transforms import (
    st_collect_points,
    st_flipcoordinates,
    st_makeline,
    st_makepolygon,
    st_scale,
    st_snaptogrid,
    st_translate,
)
from datafusion_spatial_spark.meta import GeometryMeta

from refdata import refdata_dir

LINE_META = GeometryMeta(encoding="linestring", geometry_types=("LineString",))
POLY_META = GeometryMeta(encoding="polygon", geometry_types=("Polygon",))
MPOINT_META = GeometryMeta(encoding="multipoint", geometry_types=("MultiPoint",))
POINT_META = GeometryMeta(encoding="point", geometry_types=("Point",))


def test_makeline_collect_and_translate(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (1, 1.0, 1.0), (1, 2.0, 0.0), (2, 5.0, 5.0)],
        "gid long, x double, y double",
    )
    pts = df.select(
        "gid", F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("p")
    )
    lines = pts.groupBy("gid").agg(st_collect_points("p").alias("geom"))
    out = {
        r.gid: r.wkt
        for r in lines.select(
            "gid", st_astext(st_makeline("geom"), LINE_META).alias("wkt")
        ).collect()
    }
    # collect_list order within a single partition group is insertion order
    assert out[1].startswith("LINESTRING (")
    assert out[2] == "LINESTRING (5 5)"
    mp = {
        r.gid: r.wkt
        for r in lines.select(
            "gid", st_astext("geom", MPOINT_META).alias("wkt")
        ).collect()
    }
    assert mp[2] == "MULTIPOINT ((5 5))"


def test_translate_scale_flip_snap(spark):
    df = read_geoparquet(
        spark, f"{refdata_dir()}/data-linestring-encoding_native.parquet"
    )
    meta = resolve_meta(df, "geometry")
    row = (
        df.filter(F.col("col") == 0)
        .select(
            st_astext(st_translate("geometry", 10, -10, meta), meta).alias("t"),
            st_astext(st_scale("geometry", 2, 0.5, meta), meta).alias("s"),
            st_astext(st_flipcoordinates("geometry", meta), meta).alias("f"),
            st_astext(st_snaptogrid("geometry", 25.0, meta), meta).alias("g"),
        )
        .collect()[0]
    )
    assert row.t == "LINESTRING (40 0, 20 20, 50 30)"
    assert row.s == "LINESTRING (60 5, 20 15, 80 20)"
    assert row.f == "LINESTRING (10 30, 30 10, 40 40)"
    assert row.g == "LINESTRING (25 0, 0 25, 50 50)"


def test_makepolygon(spark):
    df = spark.createDataFrame([(1,)], "id long")
    ring = F.array(
        *[
            F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y"))
            for x, y in [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
        ]
    )
    out = df.select(
        st_astext(st_makepolygon(ring), POLY_META).alias("wkt")
    ).collect()[0]
    assert out.wkt == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"


def test_snaptogrid_negative_half_tie_parity(spark):
    """ADVICE r12: the native path must snap half-ties UP toward
    +infinity like the WKB kernel's JTS floor(v/size + 0.5) — F.round
    (HALF_UP away from zero) snapped -2.5 to -3 where the kernel gives
    -2. Both encodings of the same geometry must agree on every tie."""
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.functions.scalar import st_asbinary

    coords = [(-2.5, -0.5), (-1.5, 2.5), (0.5, 1.5), (-3.5, 3.5)]
    g = W.Geom("LineString", coords)
    native = spark.createDataFrame(
        [([c[0] for c in coords], [c[1] for c in coords])],
        "xs array<double>, ys array<double>",
    ).select(
        F.arrays_zip(
            F.col("xs").alias("x"), F.col("ys").alias("y")
        ).alias("geometry")
    )
    # the separated-coords native LineString shape
    native = native.select(
        F.transform(
            "geometry",
            lambda p: F.struct(p["x"].alias("x"), p["y"].alias("y")),
        ).alias("geometry")
    )
    wkb_df = spark.createDataFrame([(bytearray(W.dumps(g)),)], "geometry binary")
    wkb_meta = GeometryMeta(encoding="WKB")
    n = native.select(
        st_astext(st_snaptogrid("geometry", 1.0, LINE_META), LINE_META).alias("t")
    ).collect()[0]["t"]
    w = wkb_df.select(
        st_astext(st_snaptogrid("geometry", 1.0, wkb_meta), wkb_meta).alias("t")
    ).collect()[0]["t"]
    assert n == w == "LINESTRING (-2 0, -1 3, 1 2, -3 4)"
