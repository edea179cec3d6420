"""Spark-side tests for predicate/measure/constructive st_* UDFs and the
grid-bucketed spatial join."""

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta, wkb
from datafusion_spatial_spark.functions.predicates import (
    st_area,
    st_buffer,
    st_centroid,
    st_contains,
    st_convexhull,
    st_distance,
    st_dwithin,
    st_intersects,
    st_length,
)
from datafusion_spatial_spark.functions.scalar import st_geomfromtext
from datafusion_spatial_spark.meta import GeometryMeta
from datafusion_spatial_spark.operators.spatial_join import spatial_join

from refdata import refdata_dir

WKB_META = GeometryMeta(encoding="WKB")


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)"),
        (2, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (15 5)"),
        (3, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)"),
        (4, "POINT (0 0)", "POINT (3 4)"),
        (5, None, "POINT (1 1)"),
    ]
    df = spark.createDataFrame(rows, "id long, wa string, wb string")
    return df.select(
        "id",
        st_geomfromtext("wa").alias("ga"),
        st_geomfromtext("wb").alias("gb"),
    ).cache()


def test_st_intersects_and_distance(pairs):
    out = {
        r.id: (r.i, r.d)
        for r in pairs.select(
            "id",
            st_intersects("ga", "gb", WKB_META, WKB_META).alias("i"),
            st_distance("ga", "gb", WKB_META, WKB_META).alias("d"),
        ).collect()
    }
    assert out[1] == (True, 0.0)
    assert out[2] == (False, 5.0)
    assert out[3] == (True, 0.0)
    assert out[4] == (False, 5.0)
    assert out[5] == (None, None)


def test_st_contains_dwithin(pairs):
    out = {
        r.id: (r.c, r.w)
        for r in pairs.select(
            "id",
            st_contains("ga", "gb", WKB_META, WKB_META).alias("c"),
            st_dwithin("ga", "gb", 5.0, WKB_META, WKB_META).alias("w"),
        ).collect()
    }
    assert out[1] == (True, True)
    assert out[2] == (False, True)
    assert out[4] == (False, True)


def test_measures_on_fixture(spark):
    df = read_geoparquet(spark, f"{refdata_dir()}/data-polygon-encoding_native.parquet")
    meta = resolve_meta(df, "geometry")
    rows = (
        df.select(
            "col",
            st_area("geometry", meta).alias("area"),
            st_length("geometry", meta).alias("len"),
            st_centroid("geometry", meta).alias("cen"),
        )
        .orderBy("col")
        .collect()
    )
    # row 0: POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10)) — shoelace by hand
    g0 = wkb.from_wkt("POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))")
    from datafusion_spatial_spark import geom_ops as G

    assert rows[0].area == G.area(g0)
    assert abs(rows[0].len - G.length(g0)) < 1e-9
    assert rows[0].cen.x is not None
    # EMPTY polygon -> zero measures
    assert rows[2].area == 0.0 and rows[2].len == 0.0


def test_constructive_roundtrip(pairs):
    rows = pairs.filter(F.col("id") == 1).select(
        st_convexhull("ga", WKB_META).alias("hull"),
        st_buffer("gb", 2.0, WKB_META).alias("buf"),
    ).collect()[0]
    hull = wkb.loads(bytes(rows.hull))
    assert hull.type_name == "Polygon"
    buf = wkb.loads(bytes(rows.buf))
    assert buf.type_name == "Polygon"
    from datafusion_spatial_spark import geom_ops as G

    assert abs(G.area(hull) - 100.0) < 1e-9


def test_spatial_join_points_in_polygons(spark):
    import random

    rng = random.Random(1)
    pts = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(300)]
    pts_df = spark.createDataFrame(pts, "pid long, x double, y double").select(
        "pid", "x", "y",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    polys = [
        (1, "POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))"),
        (2, "POLYGON ((50 50, 90 50, 90 90, 50 90, 50 50))"),
    ]
    poly_df = spark.createDataFrame(polys, "gid long, w string").select(
        "gid", st_geomfromtext("w").alias("geom")
    )
    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    out = spatial_join(
        pts_df, poly_df, "geom", "geom", point_meta, WKB_META,
        "pid", "gid", cell_size=20.0, predicate="within",
    ).collect()
    got = {(r.pid, r.gid) for r in out}
    want = set()
    for pid, x, y in pts:
        if 0 < x < 30 and 0 < y < 30:
            want.add((pid, 1))
        if 50 < x < 90 and 50 < y < 90:
            want.add((pid, 2))
    assert got == want


def test_buffer_style_parameters(spark):
    """PostGIS buffer styles through the column and SQL surfaces:
    flat/square caps and mitre/bevel joins hit their closed forms
    exactly; bad parameter strings raise."""
    import math

    from datafusion_spatial_spark.functions.scalar import st_geomfromtext
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [("LINESTRING (0 0, 10 0)",), ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",)],
        "w string",
    ).select(st_geomfromtext("w").alias("g"))
    rows = df.select(
        st_area(st_buffer("g", 1.0, WKB_META, params="endcap=flat"), WKB_META).alias("flat"),
        st_area(st_buffer("g", 1.0, WKB_META, params="endcap=square"), WKB_META).alias("sq"),
        st_area(st_buffer("g", 1.0, WKB_META, params="join=mitre quad_segs=16"), WKB_META).alias("mitre"),
        st_area(st_buffer("g", 1.0, WKB_META, params="join=bevel"), WKB_META).alias("bevel"),
    ).collect()
    line, poly = rows
    assert abs(line.flat - 20.0) < 1e-9
    assert abs(line.sq - 24.0) < 1e-9
    assert abs(poly.mitre - 144.0) < 1e-9
    assert abs(poly.bevel - 142.0) < 1e-9
    ssql = SpatialSQL(spark)
    ssql.register_view("bufst", with_geo_meta(df, "g", WKB_META))
    r = ssql.sql(
        "SELECT ST_Area(ST_Buffer(g, 1.0, 'join=mitre endcap=square')) AS a "
        "FROM bufst ORDER BY a"
    ).collect()
    assert abs(r[0].a - 24.0) < 1e-9  # line, square caps
    assert abs(r[1].a - 144.0) < 1e-9  # polygon, mitre joins
    with pytest.raises(ValueError, match="unknown join"):
        st_buffer("g", 1.0, WKB_META, params="join=wavy")
    # single-sided line buffers (side=right/left): flat-ended band
    # between the line and its offset; exact closed forms
    import math as _m

    ldf = spark.createDataFrame(
        [("LINESTRING (0 0, 5 0, 5 5)",)], "w string"
    ).select(st_geomfromtext("w").alias("g"))
    r = ldf.select(
        st_area(st_buffer("g", 1.0, WKB_META, params="side=right quad_segs=16"), WKB_META).alias("r"),
        st_area(st_buffer("g", 1.0, WKB_META, params="side=left"), WKB_META).alias("l"),
    ).collect()[0]
    assert abs(r.r - (10 + _m.pi / 4)) < 2e-3  # outer corner round join
    assert abs(r.l - 9.0) < 1e-9  # inner corner clip


def test_offset_curve(spark):
    """ST_OffsetCurve GEOS semantics: positive = left side same
    direction, negative = right side reversed; converging corners
    clipped at the offset intersection; SQL 2- and 3-arg forms."""
    from datafusion_spatial_spark.functions.predicates import st_offsetcurve
    from datafusion_spatial_spark.functions.scalar import st_geomfromtext
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [("LINESTRING (0 0, 5 0, 5 5)",)], "w string"
    ).select(st_geomfromtext("w").alias("g"))
    row = df.select(
        st_offsetcurve("g", 1.0, WKB_META).alias("l"),
        st_offsetcurve("g", -1.0, WKB_META, params="join=mitre").alias("r"),
    ).collect()[0]
    left = wkb.loads(bytes(row.l))
    assert left.type_name == "LineString"
    assert [tuple(p) for p in left.coords] == [(0.0, 1.0), (4.0, 1.0), (4.0, 5.0)]
    right = wkb.loads(bytes(row.r))
    # right side, mitre corner at (6,-1), direction reversed
    assert [tuple(p) for p in right.coords] == [
        (6.0, 5.0), (6.0, 0.0), (6.0, -1.0), (5.0, -1.0), (0.0, -1.0),
    ]
    ssql = SpatialSQL(spark)
    ssql.register_view("oc_t", with_geo_meta(df, "g", WKB_META))
    r2 = ssql.sql(
        "SELECT ST_Length(ST_OffsetCurve(g, 1.0)) AS n, "
        "ST_Length(ST_OffsetCurve(g, -1.0, 'join=bevel')) AS m FROM oc_t"
    ).collect()[0]
    assert abs(r2.n - 8.0) < 1e-9  # left: 4 + 4
    assert r2.m > r2.n  # right side is longer (outer corner)
    with pytest.raises(ValueError, match="does not apply"):
        st_offsetcurve("g", 1.0, WKB_META, params="endcap=flat")


@pytest.mark.slow
def test_wkb_point_fastpath_parity(spark):
    """The vectorized uniform-point WKB batch path must agree exactly with
    the generic per-row codec: nulls stay null, NaN empty-points null the
    bbox, and a mixed batch (any non-point value) falls back without
    changing results."""
    nan = float("nan")
    rows = [
        (1, wkb.dumps(wkb.Geom("Point", (3.5, -2.25))),
            wkb.dumps(wkb.Geom("Point", (0.5, 1.75)))),
        (2, None, wkb.dumps(wkb.Geom("Point", (9.0, 9.0)))),
        (3, wkb.dumps(wkb.Geom("Point", (nan, nan))),
            wkb.dumps(wkb.Geom("Point", (1.0, 1.0)))),
        (4, wkb.dumps(wkb.Geom("Point", (-7.0, 0.0))), None),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(a) if a else None, bytearray(b) if b else None)
         for i, a, b in rows],
        "id long, ga binary, gb binary",
    )
    from datafusion_spatial_spark.functions.scalar import st_bbox

    got = {
        r.id: (r.b, r.d)
        for r in df.select(
            "id",
            st_bbox("ga", WKB_META).alias("b"),
            st_distance("ga", "gb", WKB_META, WKB_META).alias("d"),
        ).collect()
    }
    assert got[1][0].xmin == 3.5 and got[1][0].ymax == -2.25
    assert abs(got[1][1] - (3.0**2 + 4.0**2) ** 0.5) < 1e-12
    assert got[2][0] is None and got[2][1] is None  # null geometry
    assert got[3][0] is None  # NaN empty point -> null bbox
    assert got[4][1] is None  # null right side
    # mixed batch: a linestring forces the generic path; same answers
    mixed = df.union(
        spark.createDataFrame(
            [(9, bytearray(wkb.dumps(wkb.Geom(
                "LineString", [(0.0, 0.0), (6.0, 8.0)]))), None)],
            "id long, ga binary, gb binary",
        )
    ).coalesce(1)
    got2 = {
        r.id: r.b
        for r in mixed.select(
            "id", st_bbox("ga", WKB_META).alias("b")
        ).collect()
    }
    assert got2[1].xmin == 3.5
    assert got2[9].xmax == 6.0 and got2[9].ymax == 8.0
    assert got2[3] is None
    # Z points take the fast path too (29-byte ISO 1001) with 2-D results
    zdf = spark.createDataFrame(
        [
            (1, bytearray(wkb.dumps(wkb.Geom("Point", (1.0, 2.0, 3.0), has_z=True))),
                bytearray(wkb.dumps(wkb.Geom("Point", (4.0, 6.0, 99.0), has_z=True)))),
        ],
        "id long, ga binary, gb binary",
    )
    zr = zdf.select(
        st_bbox("ga", WKB_META).alias("b"),
        st_distance("ga", "gb", WKB_META, WKB_META).alias("d"),
    ).collect()[0]
    assert zr.b.xmin == 1.0 and zr.b.ymax == 2.0
    assert abs(zr.d - 5.0) < 1e-12  # 2-D distance, z ignored


@pytest.mark.slow
def test_spatial_join_geography_meters(spark):
    """dwithin-in-meters join on lon/lat points: grid in degrees with a
    latitude-safe pad, haversine refine. Ground truth = all-pairs
    haversine with the engine's earth radius; plan must be Python-free;
    polar data raises."""
    import math
    import random

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    rng = random.Random(23)
    n = 250
    a = [(i, rng.uniform(5, 8), rng.uniform(55, 58)) for i in range(n)]
    b = [(i, rng.uniform(5, 8), rng.uniform(55, 58)) for i in range(n)]
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))

    def pdf(rows, idn):
        return spark.createDataFrame(rows, f"{idn} long, x double, y double").select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    meters = 20_000.0
    out = spatial_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", meters, with_distance=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = {(r.aid, r.bid) for r in out.collect()}

    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * EARTH_RADIUS * math.asin(min(1.0, math.sqrt(h)))

    want = {
        (ai, bi)
        for ai, ax, ay in a
        for bi, bx, by in b
        if hav(ax, ay, bx, by) <= meters
    }
    assert got == want and len(want) > 50
    # polar data no longer raises (round 7): it routes through the
    # stereographic cap leg — a lone lat-86 point is 3000+ km from the
    # lat 55-58 band, so the result is simply empty
    polar = spatial_join_geography(
        pdf([(0, 10.0, 86.0)], "aid"), pdf(b, "bid"), "geom", "geom",
        pm, pm, "aid", "bid", meters,
    )
    assert polar.count() == 0


@pytest.mark.slow
def test_spatial_join_bucketed_zero_exchange(spark, tmp_path):
    """Co-located spatial join: both sides written cell-bucketed+sorted →
    the candidate equi-join on cell id runs with NO exchange (and no
    sort), and the result matches the shuffle-path spatial_join exactly.
    Grid/pad validation raises on mismatched layouts."""
    import random

    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_bucketed,
        write_spatial_bucketed,
    )

    rng = random.Random(7)
    n = 400
    a = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(n)]
    b = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(n)]
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))

    def pdf(rows):
        return spark.createDataFrame(rows, "id long, x double, y double").select(
            "id",
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    d = 3.0
    write_spatial_bucketed(
        pdf(a), "geom", pm, "id", "sjb_left", cell_size=10.0,
        num_buckets=8, path=str(tmp_path / "l"), pad=d,
    )
    write_spatial_bucketed(
        pdf(b), "geom", pm, "id", "sjb_right", cell_size=10.0,
        num_buckets=8, path=str(tmp_path / "r"),
    )
    try:
        out = spatial_join_bucketed(
            spark, "sjb_left", "sjb_right", pm, pm, "aid", "bid",
            predicate="dwithin", distance=d, hint="merge",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        got = {(r.aid, r.bid) for r in out.collect()}
        want = {
            (ai, bi)
            for ai, ax, ay in a
            for bi, bx, by in b
            if (ax - bx) ** 2 + (ay - by) ** 2 <= d * d
        }
        assert got == want
        # the un-bucketed shuffle path over the same frames agrees too
        ref = spatial_join(
            pdf(a).withColumnRenamed("id", "aid"),
            pdf(b).withColumnRenamed("id", "bid"),
            "geom", "geom", pm, pm, "aid", "bid",
            cell_size=10.0, predicate="dwithin", distance=d,
        )
        assert {(r.aid, r.bid) for r in ref.collect()} == want
        # layout validation
        write_spatial_bucketed(
            pdf(b), "geom", pm, "id", "sjb_off", cell_size=5.0,
            num_buckets=8, path=str(tmp_path / "o"),
        )
        with pytest.raises(ValueError, match="grid mismatch"):
            spatial_join_bucketed(
                spark, "sjb_left", "sjb_off", pm, pm, "aid", "bid"
            )
        with pytest.raises(ValueError, match="exceeds the pad"):
            spatial_join_bucketed(
                spark, "sjb_left", "sjb_right", pm, pm, "aid", "bid",
                predicate="dwithin", distance=d + 1,
            )
    finally:
        for t in ("sjb_left", "sjb_right", "sjb_off"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simplify_and_interpolate(spark):
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.functions.predicates import (
        st_lineinterpolatepoint,
        st_simplify,
    )

    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 1 0.01, 2 0, 3 0.01, 4 0, 10 0, 10 10)")],
        "id long, w string",
    ).select("id", st_geomfromtext("w").alias("g"))
    row = df.select(
        st_simplify("g", 0.1, WKB_META).alias("s"),
        st_lineinterpolatepoint("g", 0.5, WKB_META).alias("p"),
    ).collect()[0]
    assert W.to_wkt(W.loads(bytes(row.s))) == "LINESTRING (0 0, 10 0, 10 10)"
    assert row.p is not None and abs(row.p.x - 10.0) < 0.02


def test_geohash_roundtrip(spark):
    from datafusion_spatial_spark import geohash as GH
    from datafusion_spatial_spark.functions.predicates import (
        st_geohash,
        st_pointfromgeohash,
    )
    from datafusion_spatial_spark.meta import GeometryMeta

    # well-known reference value from the public geohash spec examples
    assert GH.encode(10.40744, 57.64911, 11) == "u4pruydqqvj"
    lon, lat = GH.decode("u4pruydqqvj")
    assert abs(lon - 10.40744) < 1e-4 and abs(lat - 57.64911) < 1e-4

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    df = spark.createDataFrame(
        [(1, 10.40744, 57.64911), (2, -0.1278, 51.5074), (3, None, None)],
        "id long, lon double, lat double",
    ).select(
        "id",
        F.when(
            F.col("lon").isNotNull(),
            F.struct(F.col("lon").alias("x"), F.col("lat").alias("y")),
        ).alias("geom"),
    )
    out = df.select(
        "id", st_geohash("geom", 9, pm).alias("gh")
    ).withColumn("back", st_pointfromgeohash("gh"))
    rows = {r.id: (r.gh, r.back) for r in out.collect()}
    assert rows[1][0] == "u4pruydqq"
    assert abs(rows[1][1].x - 10.40744) < 1e-3
    assert rows[3] == (None, None)
    # prefix property: nearby points share prefixes
    gh2 = rows[2][0]
    assert gh2.startswith("gcpv")  # central London cell


@pytest.mark.slow
def test_spatial_join_broadcast_and_cell_estimate(spark):
    import random

    from datafusion_spatial_spark.operators.spatial_join import (
        estimate_cell_size,
        spatial_join,
        spatial_join_broadcast,
    )

    rng = random.Random(3)
    pts = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(200)]
    pts_df = spark.createDataFrame(pts, "pid long, x double, y double").select(
        "pid", F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom")
    )
    polys = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))"),
         (2, "POLYGON ((60 60, 95 60, 95 95, 60 95, 60 60))")],
        "gid long, w string",
    ).select("gid", st_geomfromtext("w").alias("geom"))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))

    bcast = spatial_join_broadcast(
        pts_df, polys, "geom", "geom", pm, WKB_META, "pid", "gid",
        predicate="within",
    )
    grid = spatial_join(
        pts_df, polys, "geom", "geom", pm, WKB_META, "pid", "gid",
        cell_size=25.0, predicate="within",
    )
    assert {(r.pid, r.gid) for r in bcast.collect()} == {
        (r.pid, r.gid) for r in grid.collect()
    }
    # broadcast plan has no shuffle exchange
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan

    cs = estimate_cell_size(polys, "geom", WKB_META, sample_fraction=1.0)
    assert 40.0 < cs < 80.0  # ~median bbox diagonal of the two squares


def test_st_isvalid_spark(spark):
    from datafusion_spatial_spark.functions.predicates import (
        st_isvalid,
        st_isvalidreason,
    )

    rows = [
        (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        (2, "POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))"),  # bowtie
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, w string").select(
        "id", st_geomfromtext("w").alias("g")
    )
    out = {r.id: (r.v, r.reason) for r in df.select(
        "id",
        st_isvalid("g", WKB_META).alias("v"),
        st_isvalidreason("g", WKB_META).alias("reason"),
    ).collect()}
    assert out[1] == (True, "Valid Geometry")
    assert out[2][0] is False and "self-intersecting" in out[2][1]
    assert out[3] == (None, None)


def test_st_subdivide_spark(spark):
    from datafusion_spatial_spark.functions.predicates import st_area, st_subdivide

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (8 8, 12 8, 12 12, 8 12, 8 8))")],
        "id long, w string",
    ).select("id", st_geomfromtext("w").alias("g"))
    parts = df.select(
        "id", F.explode(st_subdivide("g", 8, WKB_META)).alias("part")
    )
    total = parts.agg(
        F.round(F.sum(st_area("part", WKB_META)), 6).alias("a")
    ).collect()[0].a
    assert total == 384.0


def test_spatial_join_geography_threshold_band_high_lat(spark):
    """Round-6 regression (advisor finding): the degree-grid lon pad must
    be sized on the refine's own sphere (R=6371008.8 → 111195.08 m/deg),
    not on ellipsoidal constants — otherwise east-west pairs whose
    haversine distance is within ~0.0124% of the threshold are dropped by
    the prefilter at |lat| > ~7°. Pin pairs at 99.999% and 100.001% of
    the threshold, exactly east-west, at latitude 60."""
    import math

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    meters = 20_000.0
    lat = 60.0

    def dlon_for(d):
        # exact east-west haversine inversion at constant latitude
        s = math.sin(d / (2 * EARTH_RADIUS)) / math.cos(math.radians(lat))
        return math.degrees(2 * math.asin(s))

    just_in = dlon_for(meters * (1 - 1e-5))
    just_out = dlon_for(meters * (1 + 1e-5))
    a = [(0, 10.0, lat)]
    b = [(0, 10.0 + just_in, lat), (1, 10.0 + just_out, lat)]

    def pdf(rows, idn):
        return spark.createDataFrame(
            rows, f"{idn} long, x double, y double"
        ).select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    out = spatial_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", meters,
    )
    got = {(r.aid, r.bid) for r in out.collect()}
    assert got == {(0, 0)}


def test_spatial_join_bucketed_rejects_dwithin_sphere(spark, tmp_path):
    """dwithin_sphere's meters distance cannot drive the degree grid of a
    bucketed layout (it would skip the left-pad validation and misuse
    meters as a degree pad) — must raise, not silently drop pairs."""
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_bucketed,
        write_spatial_bucketed,
    )

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    rows = [(i, float(i), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, x double, y double").select(
        "id",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    try:
        write_spatial_bucketed(
            df, "geom", pm, "id", "sjb_sphere_l", cell_size=1.0,
            num_buckets=4, path=str(tmp_path / "l"),
        )
        write_spatial_bucketed(
            df, "geom", pm, "id", "sjb_sphere_r", cell_size=1.0,
            num_buckets=4, path=str(tmp_path / "r"),
        )
        with pytest.raises(NotImplementedError, match="dwithin_sphere"):
            spatial_join_bucketed(
                spark, "sjb_sphere_l", "sjb_sphere_r", pm, pm,
                "aid", "bid", predicate="dwithin_sphere", distance=1000.0,
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS sjb_sphere_l")
        spark.sql("DROP TABLE IF EXISTS sjb_sphere_r")


def test_offset_curve_dissolves_self_intersections(spark):
    """Round-6: raw offsets whose curvature radius is below the offset
    distance self-intersect; the curve must come back noded and
    loop-free (GEOS dissolves these). Property: no proper crossing
    between non-adjacent segments, on a hairpin and a tight S-curve."""
    from datafusion_spatial_spark import geom_ops as G
    from datafusion_spatial_spark import wkb

    def crossings(cs):
        hits = 0
        n = len(cs)
        for i in range(n - 1):
            for j in range(i + 2, n - 1):
                (p0, p1), (q0, q1) = (cs[i], cs[i + 1]), (cs[j], cs[j + 1])
                den = (p1[0] - p0[0]) * (q1[1] - q0[1]) - (
                    p1[1] - p0[1]
                ) * (q1[0] - q0[0])
                if abs(den) < 1e-18:
                    continue
                t = (
                    (q0[0] - p0[0]) * (q1[1] - q0[1])
                    - (q0[1] - p0[1]) * (q1[0] - q0[0])
                ) / den
                u = (
                    (q0[0] - p0[0]) * (p1[1] - p0[1])
                    - (q0[1] - p0[1]) * (p1[0] - p0[0])
                ) / den
                if 1e-9 < t < 1 - 1e-9 and 1e-9 < u < 1 - 1e-9:
                    hits += 1
        return hits

    hairpin = wkb.Geom(
        "LineString",
        [(0.0, 0.0), (10.0, 0.0), (10.5, 0.2), (10.0, 0.4), (0.0, 0.4)],
    )
    s_curve = wkb.Geom(
        "LineString",
        [(0.0, 0.0), (5.0, 0.0), (5.5, 0.3), (5.0, 0.6), (0.0, 0.6),
         (-0.5, 0.9), (0.0, 1.2), (5.0, 1.2)],
    )
    for line, d in ((hairpin, 2.0), (hairpin, -2.0), (s_curve, 1.5)):
        out = G.offset_curve(line, d)
        assert out.type_name == "LineString" and len(out.coords) >= 2
        assert crossings([(p[0], p[1]) for p in out.coords]) == 0, (d,)
    # gentle curves are untouched by the dissolve (no spurious noding)
    gentle = wkb.Geom("LineString", [(0.0, 0.0), (10.0, 0.0), (20.0, 5.0)])
    out = G.offset_curve(gentle, 1.0)
    assert crossings([(p[0], p[1]) for p in out.coords]) == 0


def test_spatial_join_geography_lines_vs_points(spark):
    """Round-6 (VERDICT #9): the meters join now takes arbitrary geometry
    columns — lines vs points parity against all-pairs exact spherical
    distance (same kernel, so this validates the GRID: the degree pad
    must not drop any candidate pair)."""
    import math
    import random

    from datafusion_spatial_spark import geom_ops as GO
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    rng = random.Random(11)
    lines = []
    for i in range(60):
        x, y = rng.uniform(5, 7), rng.uniform(55, 57)
        ang = rng.uniform(0, 2 * math.pi)
        L = rng.uniform(0.05, 0.3)
        lines.append(
            (i, [(x, y), (x + L * math.cos(ang), y + L * math.sin(ang))])
        )
    points = [
        (i, rng.uniform(5, 7), rng.uniform(55, 57)) for i in range(150)
    ]
    wkb_meta = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    ldf = spark.createDataFrame(
        [(i, bytearray(W.dumps(W.Geom("LineString", cs)))) for i, cs in lines],
        "lid long, geom binary",
    )
    rdf = spark.createDataFrame(points, "pid long, x double, y double").select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    meters = 15_000.0
    out = spatial_join_geography(
        ldf, rdf, "geom", "geom", wkb_meta, pm, "lid", "pid", meters,
        with_distance=True,
    )
    got = {(r.lid, r.pid) for r in out.collect()}
    want = set()
    for i, cs in lines:
        g = W.Geom("LineString", cs)
        for pid, x, y in points:
            d = GO.distance_sphere_geom(g, W.Geom("Point", (x, y)))
            if d <= meters:
                want.add((i, pid))
    assert got == want and len(want) > 30


def test_offset_curve_reroutes_along_buffer_boundary(spark):
    """Round-6: when the raw offset self-intersects, the curve follows
    the d-buffer boundary (GEOS semantics) — every vertex at distance
    exactly d from the input line — instead of the excision chord, which
    can dip inside. Near-closed square with an overshooting end leg: the
    inside offsets of the first and last legs cross."""
    import math

    from datafusion_spatial_spark import geom_ops as G
    from datafusion_spatial_spark import wkb

    s = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, -1.0)]
    out = G.offset_curve(wkb.Geom("LineString", s), 0.6)
    parts = [out.coords] if out.type_name == "LineString" else out.coords

    def seg_dist(p, a, b):
        ax, ay = a
        bx, by = b
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        t = 0 if L2 == 0 else max(
            0, min(1, ((p[0] - ax) * dx + (p[1] - ay) * dy) / L2)
        )
        return math.hypot(p[0] - ax - t * dx, p[1] - ay - t * dy)

    assert parts and sum(len(cs) for cs in parts) >= 5
    for cs in parts:
        for p in cs:
            d = min(
                seg_dist((p[0], p[1]), s[i], s[i + 1])
                for i in range(len(s) - 1)
            )
            assert abs(d - 0.6) < 1e-6, (p, d)


@pytest.mark.slow
def test_knn_join_geography_meters(spark):
    """Round-6: geography k-NN join (meters, radius-doubling over the
    degree-grid dwithin join). Ground truth = all-pairs haversine top-k."""
    import math
    import random

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_knn import (
        knn_join_geography,
    )

    rng = random.Random(31)
    a = [(i, rng.uniform(5, 6), rng.uniform(55, 56)) for i in range(40)]
    b = [(i, rng.uniform(5, 6), rng.uniform(55, 56)) for i in range(120)]
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))

    def pdf(rows, idn):
        return spark.createDataFrame(
            rows, f"{idn} long, x double, y double"
        ).select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    out = knn_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", k=3, radius_m=2_000.0, max_rounds=8,
    )
    rows = out.collect()
    assert all(r.resolved for r in rows)
    got = {}
    for r in rows:
        got.setdefault(r.aid, []).append((r.rank, r.bid))

    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * EARTH_RADIUS * math.asin(min(1.0, math.sqrt(h)))

    for ai, ax, ay in a:
        want = sorted(
            ((hav(ax, ay, bx, by), bi) for bi, bx, by in b)
        )[:3]
        have = [bid for _, bid in sorted(got[ai])]
        assert have == [bi for _, bi in want], (ai, have, want)


@pytest.mark.slow
def test_knn_join_geography_lines_left(spark):
    """Geography k-NN with a LINE left side (exercises the spherical
    arc-kernel refine inside the radius-doubling loop)."""
    import math
    import random

    from datafusion_spatial_spark import geom_ops as GO
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.operators.spatial_knn import (
        knn_join_geography,
    )

    rng = random.Random(41)
    lines = []
    for i in range(12):
        x, y = rng.uniform(5, 5.5), rng.uniform(55, 55.5)
        lines.append((i, [(x, y), (x + 0.05, y + 0.03)]))
    pts = [(i, rng.uniform(5, 5.5), rng.uniform(55, 55.5)) for i in range(60)]
    lm = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    ldf = spark.createDataFrame(
        [(i, bytearray(W.dumps(W.Geom("LineString", cs)))) for i, cs in lines],
        "lid long, geom binary",
    )
    rdf = spark.createDataFrame(pts, "pid long, x double, y double").select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    out = knn_join_geography(
        ldf, rdf, "geom", "geom", lm, pm, "lid", "pid",
        k=2, radius_m=1_000.0, max_rounds=8,
    ).collect()
    assert all(r.resolved for r in out)
    got = {}
    for r in out:
        got.setdefault(r.lid, []).append((r.rank, r.pid))
    for i, cs in lines:
        g = W.Geom("LineString", cs)
        want = sorted(
            (
                (GO.distance_sphere_geom(g, W.Geom("Point", (x, y))), pid)
                for pid, x, y in pts
            )
        )[:2]
        have = [pid for _, pid in sorted(got[i])]
        assert have == [pid for _, pid in want], (i, have, want)


def test_spatial_join_geography_polar_cap_points(spark):
    """Round 7 (VERDICT r6 #4): polar-cap geography joins. All-pairs
    haversine parity at lat 85-90 with pole-adjacent points and
    antimeridian pairs — the stereographic cap leg has no lon seam and no
    pad divergence."""
    import math
    import random

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    rng = random.Random(97)
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    a = [(i, rng.uniform(-180, 180), rng.uniform(85, 90)) for i in range(120)]
    b = [(i, rng.uniform(-180, 180), rng.uniform(85, 90)) for i in range(120)]
    # pole-adjacent and antimeridian pins
    a += [(900, 0.0, 89.999), (901, -179.95, 87.0), (902, 45.0, 90.0)]
    b += [(900, 180.0, 89.999), (901, 179.95, 87.0), (902, -135.0, 89.9)]
    meters = 50_000.0

    def pdf(rows, idn):
        return spark.createDataFrame(
            rows, f"{idn} long, x double, y double"
        ).select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    out = spatial_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", meters,
    )
    rows = out.collect()
    got = {(r.aid, r.bid) for r in rows}
    assert len(rows) == len(got)  # no duplicate pairs from leg overlap

    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * EARTH_RADIUS * math.asin(min(1.0, math.sqrt(h)))

    want = {
        (ai, bi)
        for ai, ax, ay in a
        for bi, bx, by in b
        if hav(ax, ay, bx, by) <= meters
    }
    assert got == want
    # the antimeridian pin (901) must be found: 0.1 deg of lon apart at 87
    assert (901, 901) in got
    # the pole-adjacent pin (900): both ~111 m from the pole, opposite sides
    assert (900, 900) in got


def test_spatial_join_geography_polar_threshold_band(spark):
    """Threshold-band pin inside the cap (the lat-60 pin's polar twin):
    east-west pairs at 99.999% and 100.001% of the threshold at lat 85
    must split exactly at the threshold — the stereographic prefilter pad
    must never be tighter than the spherical refine."""
    import math

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    meters = 20_000.0
    lat = 85.0

    def dlon_for(d):
        s = math.sin(d / (2 * EARTH_RADIUS)) / math.cos(math.radians(lat))
        return math.degrees(2 * math.asin(s))

    just_in = dlon_for(meters * (1 - 1e-5))
    just_out = dlon_for(meters * (1 + 1e-5))
    a = [(0, 10.0, lat)]
    b = [(0, 10.0 + just_in, lat), (1, 10.0 + just_out, lat)]

    def pdf(rows, idn):
        return spark.createDataFrame(
            rows, f"{idn} long, x double, y double"
        ).select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    out = spatial_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", meters,
    )
    got = {(r.aid, r.bid) for r in out.collect()}
    assert got == {(0, 0)}


@pytest.mark.slow
def test_spatial_join_geography_cap_boundary_straddle(spark):
    """Pairs straddling the 80-degree cap boundary must be found exactly
    once whichever leg serves them: points sprinkled across 78-82 at
    mixed longitudes, all-pairs parity, no duplicates."""
    import math
    import random

    from datafusion_spatial_spark.geom_ops import EARTH_RADIUS
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    rng = random.Random(31)
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    a = [(i, rng.uniform(10, 14), rng.uniform(78, 82)) for i in range(150)]
    b = [(i, rng.uniform(10, 14), rng.uniform(78, 82)) for i in range(150)]
    # a pair that crosses the boundary inside the threshold: 79.95 / 80.05
    a += [(900, 12.0, 79.95)]
    b += [(900, 12.0, 80.05)]
    meters = 30_000.0

    def pdf(rows, idn):
        return spark.createDataFrame(
            rows, f"{idn} long, x double, y double"
        ).select(
            idn,
            F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
        )

    out = spatial_join_geography(
        pdf(a, "aid"), pdf(b, "bid"), "geom", "geom", pm, pm,
        "aid", "bid", meters, with_distance=True,
    )
    rows = out.collect()
    got = {(r.aid, r.bid) for r in rows}
    assert len(rows) == len(got)

    def hav(lon1, lat1, lon2, lat2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * EARTH_RADIUS * math.asin(min(1.0, math.sqrt(h)))

    want = {
        (ai, bi)
        for ai, ax, ay in a
        for bi, bx, by in b
        if hav(ax, ay, bx, by) <= meters
    }
    assert got == want
    assert (900, 900) in got
    # distances agree with ground truth on the straddle pin
    d900 = {(r.aid, r.bid): r.distance_m for r in rows}[(900, 900)]
    assert abs(d900 - hav(12.0, 79.95, 12.0, 80.05)) < 0.5


def test_spatial_join_geography_polar_lines(spark):
    """Non-point geometry in the cap: WKB LineStrings circling near the
    pole vs points — the projected-bbox kernel plus chord allowance must
    keep near-threshold arc pairs (the arcs bulge in projected space
    too)."""
    import math

    from datafusion_spatial_spark import wkb
    from datafusion_spatial_spark.geom_ops import (
        EARTH_RADIUS,
        distance_sphere_geom,
    )
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    lm = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    lines = [
        (0, wkb.Geom("LineString", [(lon, 86.0) for lon in (0.0, 2.0, 4.0)])),
        (1, wkb.Geom("LineString", [(-179.0, 88.0), (179.0, 88.0)])),
        (2, wkb.Geom("LineString", [(30.0, 85.2), (33.0, 85.2)])),
    ]
    pts = [
        (0, 2.0, 86.1),     # ~11 km north of line 0
        (1, 180.0, 88.05),  # near line 1's antimeridian crossing
        (2, 31.5, 85.0),    # south of line 2
        (3, 100.0, 85.5),   # far from everything
    ]
    meters = 40_000.0
    ldf = spark.createDataFrame(
        [(i, bytearray(wkb.dumps(g))) for i, g in lines], "lid long, geom binary"
    )
    pdf = spark.createDataFrame(pts, "pid long, x double, y double").select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    out = spatial_join_geography(
        ldf, pdf, "geom", "geom", lm, pm, "lid", "pid", meters,
    )
    got = {(r.lid, r.pid) for r in out.collect()}
    want = set()
    for li, g in lines:
        for pi, px, py in pts:
            d = distance_sphere_geom(g, wkb.Geom("Point", (px, py)))
            if d <= meters:
                want.add((li, pi))
    assert got == want and len(want) >= 3


def test_geography_join_wide_segment_bulge_peaks_off_max_lat(spark):
    """r7 review fix: the poleward excess e(φ) peaks at φ* ≈ 43–45°
    (tan φ* = √cos(Δλ/2)), NOT at the data's max |lat| — evaluating the
    prefilter bulge at the dataset max (here 60°, e=3.43°) under-covered
    a 60°-span segment at 43° whose apex excess is 4.12°, so this
    within-threshold pair vanished whenever a higher-latitude bystander
    row existed. True distance: 1911 m; bbox lat gap 4.10° > old pad
    ≈3.48°, ≤ new pad ≈4.16°."""
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    wkb_meta = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    lines = [
        (0, [(0.0, 43.0), (60.0, 43.0)]),
        (1, [(100.0, 60.0), (100.1, 60.0)]),  # bystander raises max |lat|
    ]
    ldf = spark.createDataFrame(
        [(i, bytearray(W.dumps(W.Geom("LineString", cs)))) for i, cs in lines],
        "lid long, geom binary",
    )
    rdf = spark.createDataFrame(
        [(7, 30.0, 47.10)], "pid long, x double, y double"
    ).select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    out = spatial_join_geography(
        ldf, rdf, "geom", "geom", wkb_meta, pm, "lid", "pid", 5000.0,
        with_distance=True,
    ).collect()
    got = {(r.lid, r.pid) for r in out}
    assert (0, 7) in got, got
    d = next(r.distance_m for r in out if r.lid == 0)
    assert abs(d - 1911.0) < 5.0


@pytest.mark.slow
def test_geography_join_cap_membership_uses_max_excess(spark):
    """r7 review fix: cap-leg membership used reach = pad + e(cap_lat),
    but e is DECREASING above φ*, so a segment whose top sits just below
    cap_lat − reach can still have its arc apex inside the cap (here:
    top 79.65° < old cap_lo 79.6568°, apex 79.9988°, 620 m from a point
    at 80.001°). The max-excess bound (cap_lo ≈ 79.0°) keeps it."""
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    wkb_meta = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    ldf = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.Geom(
            "LineString", [(0.0, 79.65), (30.0, 79.65)]
        ))))],
        "lid long, geom binary",
    )
    rdf = spark.createDataFrame(
        [(9, 15.0, 80.001)], "pid long, x double, y double"
    ).select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    out = spatial_join_geography(
        ldf, rdf, "geom", "geom", wkb_meta, pm, "lid", "pid", 1000.0,
        with_distance=True,
    ).collect()
    assert {(r.lid, r.pid) for r in out} == {(0, 9)}, out
    assert abs(out[0].distance_m - 620.3) < 2.0


def test_geography_join_polar_preserves_row_multiplicity(spark):
    """r7 review fix: the leg union used dropDuplicates on ids, which
    collapsed legitimately distinct rows sharing an id (and picked an
    arbitrary distance among them). Legs are now pair-disjoint, so two
    same-id left rows near a cap-interior point yield two output rows —
    identical to what the mid-latitude path would do."""
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    mk = lambda x, y: F.struct(F.lit(x).alias("x"), F.lit(y).alias("y"))
    ldf = spark.range(2).select(
        F.lit(7).alias("lid"),
        F.when(F.col("id") == 0, mk(10.0, 85.0)).otherwise(mk(10.04, 85.0)).alias("geom"),
    )
    rdf = spark.range(1).select(
        F.lit(9).alias("pid"), mk(10.01, 85.0).alias("geom")
    )
    out = spatial_join_geography(
        ldf, rdf, "geom", "geom", pm, pm, "lid", "pid", 5000.0,
        with_distance=True,
    ).collect()
    assert len(out) == 2, out
    assert len({r.distance_m for r in out}) == 2  # both distances kept


def test_geography_join_wide_span_randomized_parity(spark):
    """Randomized all-pairs parity for the class the r7 review exposed:
    segments with WIDE longitude spans (up to 40°) scattered across
    30–75° latitude, where the arc apex excess is governed by φ*≈43–45°
    rather than the dataset's max latitude. Exact parity against the
    same spherical kernel on every pair."""
    import random

    from datafusion_spatial_spark import geom_ops as GO
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    rng = random.Random(23)
    lines = []
    for i in range(24):
        x = rng.uniform(-60, 20)
        y = rng.uniform(30, 75)
        span = rng.uniform(5, 40)
        dy = rng.uniform(-2, 2)
        lines.append((i, [(x, y), (x + span, y + dy)]))
    points = [
        (i, rng.uniform(-60, 60), rng.uniform(30, 80)) for i in range(70)
    ]
    wkb_meta = GeometryMeta(encoding="WKB", geometry_types=("LineString",))
    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    ldf = spark.createDataFrame(
        [(i, bytearray(W.dumps(W.Geom("LineString", cs)))) for i, cs in lines],
        "lid long, geom binary",
    )
    rdf = spark.createDataFrame(points, "pid long, x double, y double").select(
        "pid",
        F.struct(F.col("x").alias("x"), F.col("y").alias("y")).alias("geom"),
    )
    meters = 120_000.0
    out = spatial_join_geography(
        ldf, rdf, "geom", "geom", wkb_meta, pm, "lid", "pid", meters,
    )
    got = {(r.lid, r.pid) for r in out.collect()}
    want = set()
    for i, cs in lines:
        g = W.Geom("LineString", cs)
        for pid, x, y in points:
            if GO.distance_sphere_geom(g, W.Geom("Point", (x, y))) <= meters:
                want.add((i, pid))
    assert got == want and len(want) > 10


def test_spatial_join_multipolygons_vs_regions(spark):
    """r9d integration: the grid join over MULTI-geometry WKB operands —
    MultiPolygon parcels × Polygon regions under intersects, dwithin, and
    within-style contains refine — validated against an all-pairs scalar
    reference. Exercises st_bbox's gtype-6 flat stream, the cell
    explosion, and the refine sweep (engaged when candidate batches are
    duplicate-heavy; parity with the scalar loop is pinned separately)."""
    import random

    from datafusion_spatial_spark import geom_ops

    rng = random.Random(31)
    parcels = []
    for i in range(120):
        polys = []
        for _ in range(rng.randint(1, 2)):
            x0, y0 = rng.uniform(0, 80), rng.uniform(0, 80)
            w, h = rng.uniform(1, 6), rng.uniform(1, 6)
            polys.append([[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                           (x0, y0 + h), (x0, y0)]])
        parcels.append((i, wkb.Geom("MultiPolygon", polys)))
    regions = []
    for j in range(5):
        x0, y0 = j * 18.0, j * 15.0
        regions.append((j, wkb.Geom("Polygon", [[
            (x0, y0), (x0 + 25.0, y0), (x0 + 25.0, y0 + 22.0),
            (x0, y0 + 22.0), (x0, y0),
        ]])))
    ldf = spark.createDataFrame(
        [(i, bytearray(wkb.dumps(g))) for i, g in parcels], "pid int, geom binary"
    )
    rdf = spark.createDataFrame(
        [(j, bytearray(wkb.dumps(g))) for j, g in regions], "rid int, geom binary"
    )
    lm = GeometryMeta(encoding="WKB", geometry_types=("MultiPolygon",))
    rm = GeometryMeta(encoding="WKB", geometry_types=("Polygon",))

    got = {
        (r.pid, r.rid)
        for r in spatial_join(
            ldf, rdf, "geom", "geom", lm, rm, "pid", "rid", cell_size=10.0
        ).collect()
    }
    exp = {
        (i, j)
        for i, gp in parcels
        for j, gr in regions
        if geom_ops.intersects(gp, gr)
    }
    assert got == exp and exp  # non-trivial overlap

    got_d = {
        (r.pid, r.rid)
        for r in spatial_join(
            ldf, rdf, "geom", "geom", lm, rm, "pid", "rid",
            cell_size=10.0, predicate="dwithin", distance=3.0,
        ).collect()
    }
    exp_d = {
        (i, j)
        for i, gp in parcels
        for j, gr in regions
        if geom_ops.dwithin(gp, gr, 3.0)
    }
    assert got_d == exp_d and len(exp_d) > len(exp)
