"""Round-11 parity-plus surface: covers family, extremal metrics
(LongestLine/MaxDistance/Fréchet), SharedPaths, ClipByBox2D,
ReducePrecision, ChaikinSmoothing, WrapX/ShiftLongitude, collection
casts (Multi/CollectionExtract/CollectionHomogenize),
TriangulatePolygon, and the structural metadata family
(NumPoints/IsClosed/IsRing/Zmflag/NDims/CoordDim).

The reference implements none of these (its roadmap stops at
predicates/measures, README.md); semantics mirror PostGIS/GEOS so a
DuckDB-spatial/PostGIS user can switch engines. Kernel batteries run
pure-Python; the Spark layer is exercised through the WKB metadata path
and the SQL resolver.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import geom_ops as G
from datafusion_spatial_spark import wkb
from datafusion_spatial_spark.functions.accessors import (
    st_chaikinsmoothing,
    st_clipbybox2d,
    st_collectionextract,
    st_collectionhomogenize,
    st_coorddim,
    st_frechetdistance,
    st_isclosed,
    st_isring,
    st_longestline,
    st_maxdistance,
    st_multi,
    st_ndims,
    st_numpoints,
    st_reduceprecision,
    st_sharedpaths,
    st_shiftlongitude,
    st_triangulatepolygon,
    st_wrapx,
    st_zmflag,
)
from datafusion_spatial_spark.functions.predicates import st_coveredby, st_covers
from datafusion_spatial_spark.functions.scalar import st_geomfromtext
from datafusion_spatial_spark.meta import GeometryMeta
from datafusion_spatial_spark.wkb import Geom

W = GeometryMeta(encoding="WKB")


def _wkt(b):
    return None if b is None else wkb.to_wkt(wkb.loads(bytes(b)))


# ---------------------------------------------------------------------------
# covers / coveredby


SQ = Geom("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]])


def test_covers_admits_boundary_contact():
    edge = Geom("Polygon", [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]])
    assert G.covers(SQ, edge)
    assert G.covered_by(edge, SQ)
    # boundary point: covered but NOT contained (the defining difference)
    p = Geom("Point", (0.0, 2.0))
    assert G.covers(SQ, p)
    assert not G.contains(SQ, p)
    # boundary line along the edge
    l = Geom("LineString", [(0, 0), (0, 3)])
    assert G.covers(SQ, l)
    assert not G.contains(SQ, l)


def test_covers_rejects_exterior_reach():
    assert not G.covers(SQ, Geom("Point", (5.0, 5.0)))
    assert not G.covers(SQ, Geom("LineString", [(1, 1), (9, 1)]))
    assert not G.covers(SQ, Geom("Polygon", [[(2, 2), (6, 2), (6, 6), (2, 6), (2, 2)]]))
    # empty operands are never covered / covering
    assert not G.covers(SQ, Geom("Point", None))
    assert not G.covers(Geom("Polygon", []), SQ)


def test_covers_implied_by_contains_battery():
    """contains ⇒ covers, and for points covers ≡ intersects (a point has
    no part that could hang outside without leaving the closure)."""
    rng = random.Random(411)
    poly = Geom(
        "Polygon",
        [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
         [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]],
    )
    for _ in range(200):
        p = Geom("Point", (rng.uniform(-2, 12), rng.uniform(-2, 12)))
        assert G.covers(poly, p) == G.intersects(poly, p)
        if G.contains(poly, p):
            assert G.covers(poly, p)


# ---------------------------------------------------------------------------
# longest line / max distance / Fréchet / shared paths


def test_max_distance_and_longest_line():
    a = Geom("LineString", [(0, 0), (1, 1)])
    b = Geom("LineString", [(3, 0), (5, 2)])
    assert G.max_distance(a, b) == pytest.approx(math.hypot(5, 2))
    ll = G.longest_line(a, b)
    assert ll.coords == [(0.0, 0.0), (5.0, 2.0)]
    # polygons: the max is attained at hull vertices
    assert G.max_distance(SQ, SQ) == pytest.approx(math.hypot(4, 4))
    assert G.max_distance(SQ, Geom("Point", None)) is None


def test_max_distance_hull_reduction_parity():
    """>32-vertex operands route through the convex hull; the reduced scan
    must agree with the brute-force vertex scan."""
    rng = random.Random(1107)
    pts_a = [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(60)]
    pts_b = [(rng.uniform(20, 35), rng.uniform(-5, 5)) for _ in range(60)]
    a, b = Geom("MultiPoint", pts_a), Geom("MultiPoint", pts_b)
    brute = max(
        math.hypot(p[0] - q[0], p[1] - q[1]) for p in pts_a for q in pts_b
    )
    assert G.max_distance(a, b) == pytest.approx(brute)


def test_frechet_distance():
    l1 = Geom("LineString", [(0, 0), (100, 0)])
    l2 = Geom("LineString", [(0, 0), (50, 50), (100, 0)])
    # vertex-only: the apex must pair with an endpoint of l1
    assert G.frechet_distance(l1, l2) == pytest.approx(math.hypot(50, 50))
    # densified: the apex pairs with (50, 0)
    assert G.frechet_distance(l1, l2, 0.1) == pytest.approx(50.0)
    # symmetric, and >= the straight-line start/end displacement
    l3 = Geom("LineString", [(0, 10), (100, 10)])
    assert G.frechet_distance(l1, l3) == G.frechet_distance(l3, l1) == pytest.approx(10.0)
    assert G.frechet_distance(l1, Geom("LineString", [])) is None


def test_shared_paths_direction_split():
    s1 = Geom("LineString", [(0, 0), (10, 0), (10, 5)])
    s2_opp = Geom("LineString", [(12, 0), (4, 0), (2, 0)])
    gc = G.shared_paths(s1, s2_opp)
    assert gc.type_name == "GeometryCollection" and len(gc.coords) == 2
    same, opp = gc.coords
    assert same.is_empty
    (seg,) = opp.coords
    assert seg[0] == (2.0, 0.0) and seg[-1] == (10.0, 0.0)
    s2_same = Geom("LineString", [(2, 0), (4, 0), (12, 0)])
    gc2 = G.shared_paths(s1, s2_same)
    assert not gc2.coords[0].is_empty and gc2.coords[1].is_empty
    # disjoint lines: two EMPTY multilinestrings
    gc3 = G.shared_paths(s1, Geom("LineString", [(0, 9), (9, 9)]))
    assert gc3.coords[0].is_empty and gc3.coords[1].is_empty
    # non-line input → None (PostGIS raises; NULL at the column layer)
    assert G.shared_paths(s1, SQ) is None


# ---------------------------------------------------------------------------
# clip by box


def test_clip_by_box2d_types():
    assert G.clip_by_box2d(
        Geom("LineString", [(-5, 1), (5, 1)]), 0, 0, 10, 10
    ).coords == [(0.0, 1.0), (5.0, 1.0)]
    got = G.clip_by_box2d(SQ, 2, 2, 10, 10)
    assert got.type_name == "Polygon"
    assert abs(G._ring_area2(got.coords[0])) / 2 == pytest.approx(4.0)
    pts = G.clip_by_box2d(Geom("MultiPoint", [(1, 1), (9, 9)]), 0, 0, 4, 4)
    assert pts.type_name == "Point" and pts.coords == (1, 1)
    # fully outside → empty
    assert G.clip_by_box2d(SQ, 100, 100, 110, 110).is_empty
    # hole survives the clip when inside the box
    holed = Geom(
        "Polygon",
        [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
         [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]],
    )
    got2 = G.clip_by_box2d(holed, 0, 0, 6, 6)
    assert len(got2.coords) == 2
    assert G.area(got2) == pytest.approx(36.0 - 4.0)


def test_clip_by_box2d_agrees_with_intersection():
    rng = random.Random(42)
    for _ in range(50):
        x0, y0 = rng.uniform(-5, 5), rng.uniform(-5, 5)
        box = (x0, y0, x0 + rng.uniform(1, 8), y0 + rng.uniform(1, 8))
        clipped = G.clip_by_box2d(SQ, *box)
        ref = G.intersection(
            SQ,
            Geom("Polygon", [[(box[0], box[1]), (box[2], box[1]),
                              (box[2], box[3]), (box[0], box[3]),
                              (box[0], box[1])]]),
        )
        assert G.area(clipped) == pytest.approx(G.area(ref), abs=1e-9)


# ---------------------------------------------------------------------------
# precision / smoothing


def test_reduce_precision():
    line = Geom("LineString", [(0.014, 0), (0.018, 0), (1.02, 0)])
    assert G.reduce_precision(line, 0.01).coords == [
        (0.01, 0.0), (0.02, 0.0), (1.02, 0.0)
    ]
    # collapse: both vertices snap together → empty line
    got = G.reduce_precision(Geom("LineString", [(0.001, 0), (0.004, 0)]), 0.01)
    assert got.is_empty
    # polygon collapse → POLYGON EMPTY
    tiny = Geom("Polygon", [[(0, 0), (0.004, 0), (0.004, 0.004), (0, 0.004), (0, 0)]])
    assert G.reduce_precision(tiny, 0.01).is_empty
    # a surviving polygon stays valid and keeps its snapped area
    got2 = G.reduce_precision(SQ, 0.5)
    assert G.is_valid(got2) and G.area(got2) == pytest.approx(16.0)
    with pytest.raises(ValueError):
        G.reduce_precision(SQ, 0.0)


def test_chaikin_smoothing():
    ch = G.chaikin_smoothing(Geom("LineString", [(0, 0), (4, 4), (8, 0)]), 1, True)
    assert ch.coords[0] == (0, 0) and ch.coords[-1] == (8, 0)
    assert (3.0, 3.0) in ch.coords and (5.0, 3.0) in ch.coords
    # ring smoothing keeps closure and stays inside the hull
    sm = G.chaikin_smoothing(SQ, 2)
    ring = sm.coords[0]
    assert ring[0] == ring[-1]
    assert 0 < G.area(sm) < 16.0
    assert G.covers(SQ, sm)
    # iteration cap (PostGIS): n > 5 behaves as 5
    a5 = G.chaikin_smoothing(SQ, 5)
    a9 = G.chaikin_smoothing(SQ, 9)
    assert G.area(a5) == pytest.approx(G.area(a9))


# ---------------------------------------------------------------------------
# longitude shifts


def test_shift_longitude_roundtrip():
    g = Geom("LineString", [(-170, 10), (170, 10)])
    shifted = G.shift_longitude(g)
    assert shifted.coords == [(190.0, 10), (170, 10)]
    # idempotent once shifted: no negative x remains
    assert G.shift_longitude(shifted).coords == shifted.coords
    # Z/M tails survive (coordinate-wise map)
    gz = Geom("LineString", [(-170, 10, 5.0), (170, 10, 6.0)], has_z=True)
    assert G.shift_longitude(gz).coords == [(190.0, 10, 5.0), (170, 10, 6.0)]


def test_wrap_x_splits_and_moves():
    g = Geom("LineString", [(-10, 0), (10, 0)])
    w = G.wrap_x(g, 0.0, 360.0)
    assert w.type_name == "MultiLineString"
    parts = sorted(tuple(p) for p in w.coords)
    assert parts[0] == ((0.0, 0.0), (10.0, 0.0))
    assert parts[1] == ((350.0, 0.0), (360.0, 0.0))
    # length is preserved by the split+translate
    assert G.length(w) == pytest.approx(G.length(g))
    # move < 0: the right side moves left
    w2 = G.wrap_x(g, 0.0, -360.0)
    parts2 = sorted(tuple(p) for p in w2.coords)
    assert parts2[0] == ((-360.0, 0.0), (-350.0, 0.0))
    # points never split
    wp = G.wrap_x(Geom("Point", (-10.0, 1.0)), 0.0, 360.0)
    assert wp.coords == (350.0, 1.0)
    # geometry entirely on the stay side is unchanged
    assert G.wrap_x(Geom("Point", (10.0, 1.0)), 0.0, 360.0).coords == (10.0, 1.0)


# ---------------------------------------------------------------------------
# collection casts


def test_multi_and_homogenize_and_extract():
    p = Geom("Point", (1, 2))
    assert G.multi(p).type_name == "MultiPoint" and G.multi(p).coords == [(1, 2)]
    assert G.multi(G.multi(p)).type_name == "MultiPoint"
    assert G.multi(Geom("Point", None)).is_empty
    gc = Geom(
        "GeometryCollection",
        [p, Geom("MultiPoint", [(2, 2), (3, 3)]),
         Geom("LineString", [(0, 0), (1, 1)]), SQ],
    )
    assert G.collection_extract(gc, 1).coords == [(1, 2), (2, 2), (3, 3)]
    assert G.collection_extract(gc, 2).type_name == "MultiLineString"
    assert G.collection_extract(gc, 3).type_name == "MultiPolygon"
    # non-collection passthrough / EMPTY-multi miss
    assert G.collection_extract(SQ, 3) is SQ
    assert G.collection_extract(SQ, 1).type_name == "MultiPoint"
    assert G.collection_extract(SQ, 1).is_empty
    with pytest.raises(ValueError):
        G.collection_extract(SQ, 4)
    # homogenize: nested single → atom; same-type → multi; mixed → flat GC
    nested = Geom("GeometryCollection", [Geom("GeometryCollection", [p])])
    assert G.collection_homogenize(nested).type_name == "Point"
    same = Geom("GeometryCollection", [p, Geom("GeometryCollection", [Geom("Point", (9, 9))])])
    assert G.collection_homogenize(same).type_name == "MultiPoint"
    assert G.collection_homogenize(gc).type_name == "GeometryCollection"
    assert all(
        m.type_name in ("Point", "LineString", "Polygon")
        for m in G.collection_homogenize(gc).coords
    )


# ---------------------------------------------------------------------------
# triangulation


def _tri_area_sum(gc):
    return sum(abs(G._ring_area2(m.coords[0])) / 2 for m in gc.coords)


def test_triangulate_polygon_fixtures():
    t = G.triangulate_polygon(SQ)
    assert len(t.coords) == 2 and _tri_area_sum(t) == pytest.approx(16.0)
    L = Geom("Polygon", [[(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)]])
    tl = G.triangulate_polygon(L)
    assert _tri_area_sum(tl) == pytest.approx(12.0)
    holed = Geom(
        "Polygon",
        [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
         [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]],
    )
    th = G.triangulate_polygon(holed)
    assert _tri_area_sum(th) == pytest.approx(96.0)
    # every triangle must lie inside the (closed) polygon
    for m in th.coords:
        cx = sum(p[0] for p in m.coords[0][:-1]) / 3
        cy = sum(p[1] for p in m.coords[0][:-1]) / 3
        assert G._point_intersects((cx, cy), holed)
    # non-areal input → empty collection
    assert G.triangulate_polygon(Geom("LineString", [(0, 0), (1, 1)])).is_empty


def test_triangulate_polygon_random_battery():
    """Random star polygons (simple by construction), with and without a
    scaled-down hole: the triangle areas must sum to the polygon area and
    triangle centroids must fall inside."""
    rng = random.Random(2026)
    for k in range(25):
        n = rng.randint(5, 14)
        angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        if angles[-1] - angles[0] < 1e-3:
            continue
        ring = [
            (math.cos(a) * rng.uniform(5, 10), math.sin(a) * rng.uniform(5, 10))
            for a in angles
        ]
        ring.append(ring[0])
        rings = [ring]
        if k % 2:
            hole = [(x * 0.2, y * 0.2) for x, y in ring]
            rings.append(hole)
        poly = Geom("Polygon", [list(r) for r in rings])
        if not G.is_valid(poly):
            continue
        t = G.triangulate_polygon(poly)
        assert _tri_area_sum(t) == pytest.approx(G.area(poly), rel=1e-6), k
        for m in t.coords:
            cx = sum(p[0] for p in m.coords[0][:-1]) / 3
            cy = sum(p[1] for p in m.coords[0][:-1]) / 3
            assert G._point_intersects((cx, cy), poly), k


# ---------------------------------------------------------------------------
# Spark layer (WKB metadata path) + structural metadata


@pytest.fixture(scope="module")
def gdf(spark):
    rows = [
        (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        (2, "LINESTRING (0 0, 2 0, 2 2, 0 0)"),
        (3, "LINESTRING (0 0, 5 0)"),
        (4, "POINT (0 2)"),
        (5, "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, w string")
    return df.select("id", st_geomfromtext("w").alias("g")).cache()


def test_spark_structural_metadata(gdf):
    out = {
        r.id: r
        for r in gdf.select(
            "id",
            st_numpoints("g", W).alias("np"),
            st_isclosed("g", W).alias("closed"),
            st_isring("g", W).alias("ring"),
            st_zmflag("g", W).alias("zm"),
            st_ndims("g", W).alias("nd"),
            st_coorddim("g", W).alias("cd"),
        ).collect()
    }
    assert out[3].np == 2 and out[1].np is None
    assert out[2].closed is True and out[3].closed is False
    assert out[4].closed is True  # points are closed
    assert out[2].ring is True and out[3].ring is False and out[1].ring is None
    assert out[1].zm == 0 and out[1].nd == 2 and out[1].cd == 2
    assert out[6].np is None and out[6].closed is None


def test_spark_zm_metadata(spark):
    df = spark.createDataFrame([(1, "POINT ZM (1 2 3 4)"), (2, "POINT Z (1 2 3)"),
                                (3, "POINT M (1 2 3)")], "id long, w string")
    g = df.select("id", st_geomfromtext("w").alias("g"))
    out = {r.id: (r.zm, r.nd) for r in g.select(
        "id", st_zmflag("g", W).alias("zm"), st_ndims("g", W).alias("nd")
    ).collect()}
    assert out[1] == (3, 4) and out[2] == (2, 3) and out[3] == (1, 3)


def test_spark_covers_and_metrics(gdf):
    a = gdf.filter("id = 1").select(F.col("g").alias("a"))
    b = gdf.filter("id = 4").select(F.col("g").alias("b"))
    j = a.crossJoin(b)  # 1×1 test rows only
    row = j.select(
        st_covers("a", "b", W, W).alias("cov"),
        st_coveredby("b", "a", W, W).alias("cby"),
        st_maxdistance("a", "b", W, W).alias("md"),
        F.expr("1"),
    ).collect()[0]
    assert row.cov is True and row.cby is True
    assert row.md == pytest.approx(math.hypot(4, 2))


def test_spark_geom_outputs(gdf):
    out = {r.id: r for r in gdf.select(
        "id",
        st_multi("g", W).alias("m"),
        st_collectionextract("g", 1, W).alias("cx"),
        st_collectionhomogenize("g", W).alias("ch"),
        st_triangulatepolygon("g", W).alias("tr"),
        st_clipbybox2d("g", 0, 0, 2, 2, W).alias("cl"),
        st_reduceprecision("g", 0.5, W).alias("rp"),
        st_chaikinsmoothing("g", W).alias("cs"),
        st_shiftlongitude("g", W).alias("sl"),
        st_wrapx("g", 2.0, 100.0, W).alias("wx"),
    ).collect()}
    assert _wkt(out[1].m).startswith("MULTIPOLYGON")
    assert _wkt(out[5].cx) == "MULTIPOINT ((1 1))"
    assert _wkt(out[4].ch) == "POINT (0 2)"
    tri = wkb.loads(bytes(out[1].tr))
    assert tri.type_name == "GeometryCollection" and len(tri.coords) == 2
    clipped = wkb.loads(bytes(out[1].cl))
    assert G.area(clipped) == pytest.approx(4.0)
    assert _wkt(out[3].rp) == "LINESTRING (0 0, 5 0)"
    assert wkb.loads(bytes(out[2].cs)).type_name == "LineString"
    assert _wkt(out[4].sl) == "POINT (0 2)"
    wx = wkb.loads(bytes(out[3].wx))
    assert G.length(wx) == pytest.approx(5.0)
    assert out[6].m is None and out[6].tr is None


def test_spark_frechet_and_sharedpaths(spark):
    df = spark.createDataFrame(
        [("LINESTRING (0 0, 100 0)", "LINESTRING (0 0, 50 50, 100 0)")],
        "wa string, wb string",
    )
    g = df.select(
        st_geomfromtext("wa").alias("a"), st_geomfromtext("wb").alias("b")
    )
    row = g.select(
        st_frechetdistance("a", "b", W, W).alias("f"),
        st_frechetdistance("a", "b", W, W, densify_frac=0.1).alias("fd"),
        st_longestline("a", "b", W, W).alias("ll"),
        st_sharedpaths("a", "b", W, W).alias("sp"),
    ).collect()[0]
    assert row.f == pytest.approx(math.hypot(50, 50))
    assert row.fd == pytest.approx(50.0)
    ll = wkb.loads(bytes(row.ll))
    assert ll.type_name == "LineString"
    sp = wkb.loads(bytes(row.sp))
    assert sp.type_name == "GeometryCollection" and len(sp.coords) == 2


# ---------------------------------------------------------------------------
# SQL resolver


def test_sql_resolver_new_names(spark):
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    rows = [
        (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        (2, "POINT (0 2)"),
        (3, "LINESTRING (0 0, 2 0, 2 2, 0 0)"),
    ]
    df = spark.createDataFrame(rows, "id long, w string")
    gdf = df.select("id", st_geomfromtext("w").alias("geometry"))
    s = SpatialSQL(spark)
    s.register_view("t11", with_geo_meta(gdf, "geometry", W))

    got = {
        r.id: r
        for r in s.sql(
            "SELECT id, ST_Zmflag(geometry) AS zm, ST_NDims(geometry) AS nd, "
            "ST_IsClosed(geometry) AS cl, ST_NumPoints(geometry) AS np, "
            "ST_AsText(ST_Multi(geometry)) AS mw, "
            "ST_AsText(ST_ClipByBox2D(geometry, 0, 0, 2, 2)) AS cb "
            "FROM t11"
        ).collect()
    }
    assert got[1].zm == 0 and got[1].nd == 2
    assert got[3].cl is True and got[3].np == 4
    assert got[1].mw.startswith("MULTIPOLYGON")
    assert got[2].cb == "POINT (0 2)"

    # covers in a WHERE via a self-join shape
    n = s.sql(
        "SELECT count(*) AS n FROM t11 a JOIN t11 b "
        "ON ST_Covers(a.geometry, b.geometry) WHERE a.id = 1"
    ).collect()[0].n
    assert n == 3  # the polygon covers itself, the boundary point, the triangle


def test_sql_resolver_metric_names(spark):
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 100 0)", "LINESTRING (0 0, 50 50, 100 0)")],
        "id long, wa string, wb string",
    )
    gdf = df.select(
        "id",
        st_geomfromtext("wa").alias("ga"),
        st_geomfromtext("wb").alias("gb"),
    )
    gdf = with_geo_meta(with_geo_meta(gdf, "ga", W), "gb", W)
    s = SpatialSQL(spark)
    s.register_view("t12", gdf)
    row = s.sql(
        "SELECT ST_MaxDistance(ga, gb) AS md, "
        "ST_FrechetDistance(ga, gb) AS f, "
        "ST_FrechetDistance(ga, gb, 0.1) AS fd, "
        "ST_AsText(ST_ChaikinSmoothing(gb, 1, 1)) AS cs "
        "FROM t12"
    ).collect()[0]
    # max over any vertex pair: both share (0,0) and (100,0) → 100
    assert row.md == pytest.approx(100.0)
    assert row.f == pytest.approx(math.hypot(50, 50))
    assert row.fd == pytest.approx(50.0)
    assert row.cs.startswith("LINESTRING (0 0,")


# ---------------------------------------------------------------------------
# wave 2: line editing, bounding diagonal, interpolate points, envelope
# constructor, grid generators, minimum rotated rectangle alias


def test_line_editing_and_scroll(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_addpoint,
        st_boundingdiagonal,
        st_lineinterpolatepoints,
        st_removepoint,
        st_scroll,
        st_setpoint,
    )

    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 4 0)"), (2, "LINESTRING (0 0, 1 0, 1 1, 0 0)"),
         (3, "POINT (1 1)")],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g")).cache()
    out = {r.id: r for r in g.select(
        "id",
        st_addpoint("g", 8.0, 0.0, W).alias("ap"),
        st_addpoint("g", 2.0, 2.0, W, position=1).alias("ai"),
        st_setpoint("g", -1, 9.0, 9.0, W).alias("sp"),
        st_removepoint("g", 0, W).alias("rp"),
        st_scroll("g", 1.0, 0.0, W).alias("sc"),
        st_boundingdiagonal("g", W).alias("bd"),
        st_lineinterpolatepoints("g", 0.25, W).alias("ips"),
        st_lineinterpolatepoints("g", 0.25, W, repeat=False).alias("ip1"),
    ).collect()}
    assert _wkt(out[1].ap) == "LINESTRING (0 0, 4 0, 8 0)"
    assert _wkt(out[1].ai) == "LINESTRING (0 0, 2 2, 4 0)"
    assert _wkt(out[1].sp) == "LINESTRING (0 0, 9 9)"
    assert out[1].rp is None  # removing from a 2-pt line -> degenerate -> NULL
    assert _wkt(out[2].rp) == "LINESTRING (1 0, 1 1, 0 0)"
    # scroll: closed ring restarts at (1, 0); open line / missing vertex NULL
    assert _wkt(out[2].sc) == "LINESTRING (1 0, 1 1, 0 0, 1 0)"
    assert out[1].sc is None
    assert _wkt(out[2].bd) == "LINESTRING (0 0, 1 1)"
    assert _wkt(out[3].bd) == "LINESTRING (1 1, 1 1)"
    # interpolate points: fractions 0.25..1.0 along the 4-long line
    ips = wkb.loads(bytes(out[1].ips))
    assert ips.type_name == "MultiPoint" and len(ips.coords) == 4
    assert ips.coords[0] == (1.0, 0.0) and ips.coords[-1] == (4.0, 0.0)
    ip1 = wkb.loads(bytes(out[1].ip1))
    assert ip1.type_name == "Point" and ip1.coords == (1.0, 0.0)
    assert out[3].ap is None  # non-line input -> NULL


def test_makeenvelope_and_mrr(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_minimumrotatedrectangle,
        st_orientedenvelope,
    )
    from datafusion_spatial_spark.functions.scalar import st_makeenvelope

    df = spark.createDataFrame([(1, "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")],
                               "id long, w string")
    g = df.select("id", st_geomfromtext("w").alias("g"))
    row = g.select(
        st_makeenvelope(0, 0, 3, 2).alias("env"),
        st_minimumrotatedrectangle("g", W).alias("mrr"),
        st_orientedenvelope("g", W).alias("oe"),
    ).collect()[0]
    env = wkb.loads(bytes(row.env))
    assert env.type_name == "Polygon"
    assert G.area(env) == pytest.approx(6.0)
    # the alias must agree with the oriented envelope byte-for-byte
    assert bytes(row.mrr) == bytes(row.oe)


def test_grid_generators(spark):
    from datafusion_spatial_spark.functions.binning import (
        st_hexagongrid,
        st_hexcellpolygon,
        st_squarecellenvelope,
        st_squaregrid,
    )

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))"), (2, None)],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g"))
    rows = {r.id: r for r in g.select(
        "id",
        st_squaregrid("g", W, 1.0).alias("sq"),
        st_squaregrid("g", W, 0.001, max_cells=100).alias("cap"),
        st_hexagongrid("g", W, 1.0).alias("hx"),
    ).collect()}
    # bbox [0,2]x[0,1] at size 1: i in {0,1,2}(x=2 boundary cell), j in {0,1}
    sq = rows[1].sq
    assert {(c.i, c.j) for c in sq} == {(i, j) for i in (0, 1, 2) for j in (0, 1)}
    assert rows[1].cap is None  # over max_cells -> NULL, not an OOM array
    assert rows[2].sq is None
    hx = rows[1].hx
    assert len(hx) > 0
    # every hex center must lie in the bbox expanded by the circumradius
    centers = g.filter("id = 1").select(
        F.explode(st_hexagongrid("g", W, 1.0)).alias("c")
    ).select(
        st_hexcellpolygon("c.q", "c.r", 1.0).alias("poly")
    ).collect()
    assert len(centers) == len(hx)
    # square cell envelopes reconstruct the covering: union area >= bbox area
    cells = g.filter("id = 1").select(
        F.explode(st_squaregrid("g", W, 1.0)).alias("c")
    ).select(st_squarecellenvelope("c.i", "c.j", 1.0).alias("p")).collect()
    assert len(cells) == 6


def test_grid_generator_covering_property(spark):
    """Every point of a sampled geometry must land (st_squarecell /
    st_hexcell) in a cell that its grid generator returned — generator and
    assigner stay consistent."""
    from datafusion_spatial_spark.functions.binning import (
        st_hexagongrid,
        st_hexcell,
        st_squarecell,
        st_squaregrid,
    )
    import random as _rnd

    rng = _rnd.Random(7)
    pts = [(rng.uniform(-3, 3), rng.uniform(-3, 3)) for _ in range(40)]
    wktm = "MULTIPOINT (" + ", ".join(f"({x} {y})" for x, y in pts) + ")"
    df = spark.createDataFrame([(wktm,)], "w string")
    g = df.select(st_geomfromtext("w").alias("g"))
    row = g.select(
        st_squaregrid("g", W, 0.7).alias("sq"),
        st_hexagongrid("g", W, 0.7).alias("hx"),
    ).collect()[0]
    sqset = {(c.i, c.j) for c in row.sq}
    hxset = {(c.q, c.r) for c in row.hx}
    pdf = spark.createDataFrame(pts, "x double, y double")
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    P = GeometryMeta(encoding="point", geometry_types=("Point",))
    pg = pdf.select(st_point("x", "y").alias("p"))
    cells = pg.select(
        st_squarecell("p", P, 0.7).alias("sc"),
        st_hexcell("p", P, 0.7).alias("hc"),
    ).collect()
    for r in cells:
        assert (r.sc.i, r.sc.j) in sqset
        assert (r.hc.q, r.hc.r) in hxset


def test_sql_resolver_wave2_names(spark):
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame([(1, "LINESTRING (0 0, 4 0)")], "id long, w string")
    g = df.select("id", st_geomfromtext("w").alias("g"))
    s = SpatialSQL(spark)
    s.register_view("t13", with_geo_meta(g, "g", W))
    row = s.sql(
        "SELECT ST_AsText(ST_AddPoint(g, 8, 0)) AS ap, "
        "ST_AsText(ST_SetPoint(g, 0, 1, 1)) AS sp, "
        "ST_AsText(ST_BoundingDiagonal(g)) AS bd, "
        "ST_AsText(ST_MakeEnvelope(0, 0, 2, 2)) AS env, "
        "size(ST_SquareGrid(1.0, g)) AS nsq, "
        "ST_AsText(ST_LineInterpolatePoints(g, 0.5)) AS ips "
        "FROM t13"
    ).collect()[0]
    assert row.ap == "LINESTRING (0 0, 4 0, 8 0)"
    assert row.sp == "LINESTRING (1 1, 4 0)"
    assert row.bd == "LINESTRING (0 0, 4 0)"
    assert row.env == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert row.nsq == 5  # x cells {0..4}, y cell {0}
    assert row.ips == "MULTIPOINT ((2 0), (4 0))"


# ---------------------------------------------------------------------------
# wave 3: linear referencing (M / LRS family)


def test_lrs_kernels():
    l = Geom("LineString", [(0, 0), (10, 0), (10, 10)])
    lm = G.add_measure(l, 0.0, 20.0)
    assert lm.has_m and lm.coords == [(0, 0, 0.0), (10, 0, 10.0), (10, 10, 20.0)]
    # continuous across MultiLineString parts (PostGIS semantics)
    ml = Geom("MultiLineString", [[(0, 0), (10, 0)], [(10, 0), (10, 10)]])
    mm = G.add_measure(ml, 0.0, 20.0)
    assert mm.coords[0][-1][-1] == 10.0 and mm.coords[1][-1][-1] == 20.0
    # Z preserved, M replaced
    lz = Geom("LineString", [(0, 0, 5.0, 9.0), (10, 0, 6.0, 9.0)],
              has_z=True, has_m=True)
    lzm = G.add_measure(lz, 0.0, 1.0)
    assert lzm.has_z and lzm.coords == [(0, 0, 5.0, 0.0), (10, 0, 6.0, 1.0)]
    assert G.add_measure(Geom("Point", (1, 2)), 0, 1) is None

    assert G.interpolate_point(lm, Geom("Point", (5, 1))) == pytest.approx(5.0)
    assert G.interpolate_point(lm, Geom("Point", (12, 3))) == pytest.approx(13.0)
    # clamps to the nearest endpoint beyond the line
    assert G.interpolate_point(lm, Geom("Point", (-4, 0))) == pytest.approx(0.0)
    assert G.interpolate_point(l, Geom("Point", (5, 1))) is None  # no M

    assert G.locate_along(lm, 15.0).coords == [(10.0, 5.0, 15.0)]
    # vertex hit appears once; out-of-range empty
    assert G.locate_along(lm, 10.0).coords == [(10.0, 0.0, 10.0)]
    assert G.locate_along(lm, 99.0).is_empty

    lb = G.locate_between(lm, 5.0, 15.0)
    assert lb.type_name == "MultiLineString"
    assert lb.coords == [[(5.0, 0.0, 5.0), (10, 0, 10.0), (10.0, 5.0, 15.0)]]
    assert G.length(lb) == pytest.approx(10.0)
    # decreasing-M segment clips symmetrically
    rev = Geom("LineString", [(0, 0, 20.0), (10, 0, 0.0)], has_m=True)
    lb2 = G.locate_between(rev, 5.0, 15.0)
    assert G.length(lb2) == pytest.approx(5.0)
    # disjoint M windows produce two parts
    zig = Geom(
        "LineString",
        [(0, 0, 0.0), (10, 0, 10.0), (20, 0, 0.0), (30, 0, 10.0)],
        has_m=True,
    )
    lb3 = G.locate_between(zig, 8.0, 10.0)
    assert len(lb3.coords) == 2

    fb = G.filter_by_m(lm, 8.0, None)
    assert fb.type_name == "LineString" and len(fb.coords) == 2
    assert G.filter_by_m(lm, 19.0, None).is_empty  # single vertex -> dropped
    mp = Geom("MultiPoint", [(0, 0, 1.0), (1, 1, 5.0)], has_m=True)
    assert G.filter_by_m(mp, 2.0, 9.0).coords == [(1, 1, 5.0)]


def test_lrs_spark_and_sql(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_addmeasure,
        st_filterbym,
        st_interpolatepoint,
        st_locatealong,
        st_locatebetween,
    )
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 10 0, 10 10)", "POINT (5 1)")],
        "id long, w string, wp string",
    )
    g = df.select(
        "id",
        st_geomfromtext("w").alias("g"),
        st_geomfromtext("wp").alias("p"),
    )
    g = g.select("id", "p", st_addmeasure("g", 0.0, 20.0, W).alias("gm"))
    row = g.select(
        st_interpolatepoint("gm", "p", W, W).alias("m"),
        st_locatealong("gm", 15.0, W).alias("la"),
        st_locatebetween("gm", 5.0, 15.0, W).alias("lb"),
        st_filterbym("gm", 8.0, W).alias("fb"),
    ).collect()[0]
    assert row.m == pytest.approx(5.0)
    la = wkb.loads(bytes(row.la))
    assert la.type_name == "MultiPoint" and la.has_m
    assert la.coords == [(10.0, 5.0, 15.0)]
    lb = wkb.loads(bytes(row.lb))
    assert G.length(lb) == pytest.approx(10.0)
    fb = wkb.loads(bytes(row.fb))
    assert len(fb.coords) == 2

    s = SpatialSQL(spark)
    s.register_view("t14", with_geo_meta(g, "gm", W))
    r2 = s.sql(
        "SELECT ST_AsText(ST_LocateAlong(ST_AddMeasure(gm, 0, 20), 15)) AS la, "
        "ST_AsText(ST_LocateBetween(gm, 5, 15)) AS lb, "
        "ST_AsText(ST_FilterByM(gm, 8, 20)) AS fb "
        "FROM t14"
    ).collect()[0]
    assert r2.la == "MULTIPOINT M ((10 5 15))"
    assert r2.lb.startswith("MULTILINESTRING M ((5 0 5, 10 0 10, 10 5 15))")
    assert r2.fb.startswith("LINESTRING M (10 0 10, 10 10 20)")


# ---------------------------------------------------------------------------
# cross-kernel property batteries (pure kernels, no Spark session)


def test_covers_cross_checked_against_relate_battery():
    """covers(a, b) must equal the 4-pattern DE-9IM definition evaluated
    through relate_pattern directly, over random box/line/point operands."""
    rng = random.Random(1111)
    pats = ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*")

    def rand_geom():
        k = rng.randrange(3)
        x, y = rng.uniform(-5, 5), rng.uniform(-5, 5)
        if k == 0:
            return Geom("Point", (x, y))
        if k == 1:
            return Geom("LineString", [(x, y), (x + rng.uniform(0.5, 4), y + rng.uniform(-2, 2))])
        w, h = rng.uniform(0.5, 4), rng.uniform(0.5, 4)
        return Geom("Polygon", [[(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]])

    for _ in range(120):
        a, b = rand_geom(), rand_geom()
        expect = any(G.relate_pattern(a, b, p) for p in pats)
        assert G.covers(a, b) == expect, (a, b)


def test_shared_paths_length_conservation():
    """For lines built from a common base, |same| + |opposite| must equal
    the length of the collinear overlap (= length of intersection's 1-D
    part)."""
    rng = random.Random(22)
    for _ in range(40):
        x0, x1 = sorted((rng.uniform(0, 10), rng.uniform(0, 10)))
        if x1 - x0 < 0.5:
            continue
        y = rng.uniform(-3, 3)
        a = Geom("LineString", [(0.0, y), (10.0, y)])
        seg = [(x0, y), (x1, y)]
        b = Geom("LineString", seg if rng.random() < 0.5 else seg[::-1])
        gc = G.shared_paths(a, b)
        got = G.length(gc.coords[0]) + G.length(gc.coords[1])
        assert got == pytest.approx(x1 - x0, abs=1e-9)
        # direction classification matches construction
        fwd = b.coords[0][0] < b.coords[1][0]
        assert (G.length(gc.coords[0]) > 0) == fwd


def test_locate_between_along_consistency():
    """Part endpoints of locate_between carry M equal to the window bounds
    (unless they are original vertices inside the window), and every
    locate_along(m) point for m inside the window lies on the between
    result."""
    rng = random.Random(33)
    for _ in range(30):
        n = rng.randint(3, 8)
        coords = []
        x = 0.0
        m = 0.0
        for i in range(n):
            coords.append((x, rng.uniform(-2, 2), m))
            x += rng.uniform(0.5, 3)
            m += rng.choice([-1, 1]) * rng.uniform(0.5, 3)
        g = Geom("LineString", coords, has_m=True)
        ms = [c[2] for c in coords]
        lo = min(ms) + 0.25 * (max(ms) - min(ms))
        hi = min(ms) + 0.75 * (max(ms) - min(ms))
        lb = G.locate_between(g, lo, hi)
        for part in lb.coords:
            for endpoint in (part[0], part[-1]):
                assert lo - 1e-9 <= endpoint[2] <= hi + 1e-9
        mid = (lo + hi) / 2
        pts = G.locate_along(g, mid)
        flat = Geom(
            "MultiLineString", [[(p[0], p[1]) for p in part] for part in lb.coords]
        )
        for p in pts.coords:
            assert G._point_intersects((p[0], p[1]), flat), (p, lb.coords)


def test_triangulate_reference_fixtures(refdata):
    """Triangulate the reference repo's polygon fixtures (read-only golden
    data): triangle areas must sum to st_area and centroids stay inside."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{refdata}/data-polygon-*.parquet"))
    checked = 0
    for path in files:
        tbl = pq.read_table(path)
        cols = tbl.column_names
        if "geometry" not in cols:
            continue
        for v in tbl.column("geometry").to_pylist():
            if v is None:
                continue
            try:
                g = wkb.loads(bytes(v)) if isinstance(v, (bytes, bytearray)) else None
            except Exception:
                g = None
            if g is None or g.is_empty or not list(G._polygons(g)):
                continue
            g = G.force_2d(g)
            t = G.triangulate_polygon(g)
            assert _tri_area_sum(t) == pytest.approx(G.area(g), rel=1e-9)
            for m in t.coords:
                cx = sum(p[0] for p in m.coords[0][:-1]) / 3
                cy = sum(p[1] for p in m.coords[0][:-1]) / 3
                assert G._point_intersects((cx, cy), g)
            checked += 1
    assert checked >= 1


# ---------------------------------------------------------------------------
# wave 4: trajectories (CPA family)


def test_trajectory_kernels():
    a = Geom("LineString", [(0, 0, 0.0), (10, 0, 10.0)], has_m=True)
    b = Geom("LineString", [(10, 1, 0.0), (0, 1, 10.0)], has_m=True)
    assert G.is_valid_trajectory(a) and G.is_valid_trajectory(b)
    assert G.closest_point_of_approach(a, b) == pytest.approx(5.0)
    assert G.distance_cpa(a, b) == pytest.approx(1.0)
    assert G.cpa_within(a, b, 1.5) is True
    assert G.cpa_within(a, b, 0.5) is False
    # chase: same path, delayed copy -> constant gap = speed * delay
    d = Geom("LineString", [(0, 0, 2.0), (10, 0, 12.0)], has_m=True)
    assert G.distance_cpa(a, d) == pytest.approx(2.0)
    # disjoint time windows -> None
    c = Geom("LineString", [(0, 0, 20.0), (10, 0, 30.0)], has_m=True)
    assert G.distance_cpa(a, c) is None
    # invalid (M non-increasing / no M / not a line)
    assert not G.is_valid_trajectory(
        Geom("LineString", [(0, 0, 5.0), (1, 0, 1.0)], has_m=True)
    )
    assert not G.is_valid_trajectory(Geom("LineString", [(0, 0), (1, 0)]))
    assert not G.is_valid_trajectory(Geom("Point", (0, 0, 1.0), has_m=True))
    # multi-segment: CPA inside a later segment pair
    zig = Geom(
        "LineString",
        [(0, 5, 0.0), (5, 5, 5.0), (10, 0.5, 10.0)],
        has_m=True,
    )
    t = G.closest_point_of_approach(a, zig)
    assert t == pytest.approx(10.0)  # converging until the very end
    assert G.distance_cpa(a, zig) == pytest.approx(0.5)


def test_trajectory_cpa_brute_force_battery():
    """Merge-scan CPA must match a dense time sampling of the separation
    over random valid trajectories."""
    rng = random.Random(55)
    for _ in range(30):
        def mk():
            n = rng.randint(2, 6)
            t = rng.uniform(0, 3)
            pts = []
            for _i in range(n):
                pts.append((rng.uniform(0, 10), rng.uniform(0, 10), t))
                t += rng.uniform(0.5, 3)
            return Geom("LineString", pts, has_m=True)

        a, b = mk(), mk()
        got = G.distance_cpa(a, b)
        ma, mb = [c[2] for c in a.coords], [c[2] for c in b.coords]
        t0, t1 = max(ma[0], mb[0]), min(ma[-1], mb[-1])
        if t1 < t0:
            assert got is None
            continue

        def pos(g, t):
            cs = g.coords
            for i in range(len(cs) - 1):
                if cs[i][2] <= t <= cs[i + 1][2]:
                    span = cs[i + 1][2] - cs[i][2]
                    u = 0.0 if span <= 0 else (t - cs[i][2]) / span
                    return (
                        cs[i][0] + u * (cs[i + 1][0] - cs[i][0]),
                        cs[i][1] + u * (cs[i + 1][1] - cs[i][1]),
                    )
            return cs[-1][:2]

        brute = min(
            math.hypot(*(p[0] - q[0], p[1] - q[1]))
            for k in range(2001)
            for t in [t0 + (t1 - t0) * k / 2000]
            for p in [pos(a, t)]
            for q in [pos(b, t)]
        )
        assert got <= brute + 1e-9
        assert got == pytest.approx(brute, abs=2e-3)


def test_trajectory_spark_and_sql(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_closestpointofapproach,
        st_cpawithin,
        st_distancecpa,
        st_isvalidtrajectory,
    )
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "LINESTRING M (0 0 0, 10 0 10)", "LINESTRING M (10 1 0, 0 1 10)")],
        "id long, wa string, wb string",
    )
    g = df.select(
        "id",
        st_geomfromtext("wa").alias("a"),
        st_geomfromtext("wb").alias("b"),
    )
    row = g.select(
        st_isvalidtrajectory("a", W).alias("v"),
        st_closestpointofapproach("a", "b", W, W).alias("t"),
        st_distancecpa("a", "b", W, W).alias("d"),
        st_cpawithin("a", "b", 1.5, W, W).alias("w"),
    ).collect()[0]
    assert row.v is True and row.t == pytest.approx(5.0)
    assert row.d == pytest.approx(1.0) and row.w is True

    s = SpatialSQL(spark)
    s.register_view("t15", with_geo_meta(with_geo_meta(g, "a", W), "b", W))
    r2 = s.sql(
        "SELECT ST_IsValidTrajectory(a) AS v, "
        "ST_ClosestPointOfApproach(a, b) AS t, "
        "ST_DistanceCPA(a, b) AS d, ST_CPAWithin(a, b, 0.5) AS w FROM t15"
    ).collect()[0]
    assert r2.v is True and r2.t == pytest.approx(5.0)
    assert r2.d == pytest.approx(1.0) and r2.w is False


# ---------------------------------------------------------------------------
# wave 5: validity detail + ordinate swap


def test_invalid_detail_kernel_parity():
    """invalid_detail's verdict/reason must match invalid_reason exactly,
    and every located failure coordinate must satisfy its reason class."""
    bow = Geom("Polygon", [[(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)]])
    v, r, loc = G.invalid_detail(bow)
    assert (v, r) == (False, "self-intersecting ring") and loc == (1.0, 1.0)
    out_hole = Geom(
        "Polygon",
        [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
         [(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]],
    )
    v, r, loc = G.invalid_detail(out_hole)
    assert r == "hole outside shell" and loc == (5, 5)
    over = Geom(
        "MultiPolygon",
        [[[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]],
         [[(2, 2), (6, 2), (6, 6), (2, 6), (2, 2)]]],
    )
    v, r, loc = G.invalid_detail(over)
    assert r == "overlapping multipolygon members" and loc is not None
    assert G.invalid_detail(SQ) == (True, None, None)
    # random battery: verdict/reason parity with invalid_reason
    rng = random.Random(99)
    for _ in range(400):
        pts = [(rng.uniform(0, 4), rng.uniform(0, 4))
               for _ in range(rng.randint(3, 7))]
        g = Geom("Polygon", [pts + [pts[0]]])
        r1 = G.invalid_reason(g)
        v, r2, loc = G.invalid_detail(g)
        assert (r1 is None) == v and r1 == r2
        if r2 == "self-intersecting ring":
            assert loc is not None


def test_swap_ordinates_kernel():
    zm = Geom("Point", (1, 2, 3, 4), has_z=True, has_m=True)
    assert G.swap_ordinates(zm, "xy").coords == (2, 1, 3, 4)
    assert G.swap_ordinates(zm, "zm").coords == (1, 2, 4, 3)
    assert G.swap_ordinates(zm, "xm").coords == (4, 2, 3, 1)
    line = Geom("LineString", [(1, 2), (3, 4)])
    assert G.swap_ordinates(line, "xy").coords == [(2, 1), (4, 3)]
    # involution
    assert G.swap_ordinates(G.swap_ordinates(zm, "xz"), "xz").coords == zm.coords
    with pytest.raises(ValueError):
        G.swap_ordinates(line, "xz")  # no Z
    with pytest.raises(ValueError):
        G.swap_ordinates(line, "xx")


def test_validity_detail_and_swap_spark_sql(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_isvaliddetail,
        st_swapordinates,
    )
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))"),
         (2, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
         (3, None)],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g"))
    out = {r.id: r for r in g.select(
        "id",
        st_isvaliddetail("g", W).alias("d"),
        st_swapordinates("g", "xy", W).alias("sw"),
    ).collect()}
    assert out[1].d.valid is False
    assert out[1].d.reason == "self-intersecting ring"
    assert _wkt(out[1].d.location) == "POINT (1 1)"
    assert out[2].d.valid is True and out[2].d.reason is None
    assert out[3].d is None and out[3].sw is None
    assert _wkt(out[2].sw) == "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))"

    s = SpatialSQL(spark)
    s.register_view("t16", with_geo_meta(g, "g", W))
    r2 = s.sql(
        "SELECT id, ST_IsValidDetail(g) AS d, "
        "ST_AsText(ST_SwapOrdinates(g, 'xy')) AS sw FROM t16 ORDER BY id"
    ).collect()
    assert r2[0].d.valid is False and r2[0].d.reason == "self-intersecting ring"
    assert r2[1].sw.startswith("POLYGON ((0 0, 0 4")


# ---------------------------------------------------------------------------
# wave 6: dump/orientation utilities


def test_dump_segments_rings_kernels():
    holed = Geom(
        "Polygon",
        [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
         [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]],
    )
    segs = G.dump_segments(holed)
    assert len(segs) == 8 and all(s.type_name == "LineString" for s in segs)
    assert sum(G.length(s) for s in segs) == pytest.approx(16.0 + 4.0)
    rings = G.dump_rings(holed)
    assert [r.type_name for r in rings] == ["Polygon", "Polygon"]
    assert G.area(rings[0]) == pytest.approx(16.0)
    assert G.area(rings[1]) == pytest.approx(1.0)
    # line input: segments only, no rings
    l = Geom("LineString", [(0, 0), (1, 0), (1, 1)])
    assert len(G.dump_segments(l)) == 2 and G.dump_rings(l) == []
    # zero-length segments (repeated vertices) are skipped
    lr = Geom("LineString", [(0, 0), (0, 0), (1, 0)])
    assert len(G.dump_segments(lr)) == 1


def test_polygon_orientation_kernels():
    cw_shell = Geom("Polygon", [[(0, 0), (0, 4), (4, 4), (4, 0), (0, 0)]])
    assert G.is_polygon_cw(cw_shell) is True
    assert G.is_polygon_ccw(cw_shell) is False
    fixed = G.force_polygon_ccw(cw_shell)
    assert G.is_polygon_ccw(fixed) is True
    assert G.area(fixed) == pytest.approx(16.0)
    # holes take the opposite orientation of the shell
    holed_ccw = G.force_polygon_ccw(
        Geom("Polygon",
             [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
              [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]])
    )
    assert G._ring_area2(holed_ccw.coords[0]) > 0   # shell CCW
    assert G._ring_area2(holed_ccw.coords[1]) < 0   # hole CW
    cwd = G.force_polygon_cw(holed_ccw)
    assert G._ring_area2(cwd.coords[0]) < 0 and G._ring_area2(cwd.coords[1]) > 0
    # involution: double-force is stable; non-areal passthrough/NULL verdict
    assert G.force_polygon_cw(cwd).coords == cwd.coords
    l = Geom("LineString", [(0, 0), (1, 1)])
    assert G.force_polygon_cw(l) is l or G.force_polygon_cw(l).coords == l.coords
    assert G.is_polygon_cw(l) is None


def test_dump_orientation_spark_sql(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_dumprings,
        st_dumpsegments,
        st_forcepolygoncw,
        st_ispolygonccw,
        st_ispolygoncw,
    )
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))")],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g"))
    row = g.select(
        F.size(st_dumpsegments("g", W)).alias("nseg"),
        F.size(st_dumprings("g", W)).alias("nring"),
        st_ispolygonccw("g", W).alias("ccw"),
        st_ispolygoncw(st_forcepolygoncw("g", W), W).alias("cw_after"),
    ).collect()[0]
    assert row.nseg == 8 and row.nring == 2
    assert row.ccw is True  # shell CCW, hole (1 1, 1 2, 2 2, 2 1) is CW
    assert row.cw_after is True

    s = SpatialSQL(spark)
    s.register_view("t17", with_geo_meta(g, "g", W))
    r2 = s.sql(
        "SELECT size(ST_DumpSegments(g)) AS ns, "
        "ST_IsPolygonCW(ST_ForcePolygonCW(g)) AS cw FROM t17"
    ).collect()[0]
    assert r2.ns == 8 and r2.cw is True


# ---------------------------------------------------------------------------
# resolver fuzz: every unary geometry->geometry SQL name must compose


def test_sql_resolver_unary_chain_fuzz(spark):
    """Random 2-deep nesting of unary WKB-out ST_ names through the SQL
    resolver: every chain must resolve, execute, and emit WKT via
    ST_AsText — a regression net over the (large) r11 registry surface."""
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans import sql as psql
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    unary_wkb = sorted(
        name
        for name, (_b, om) in psql._FUNCTIONS.items()
        if om is psql._WKB
        # geometry-subset preconditions (line-only etc.) return NULL on
        # polygons, which is fine; exclude only the non-deterministic one
        and name != "ST_GENERATEPOINTS"
    )
    assert len(unary_wkb) >= 20
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"),
         (2, "LINESTRING (0 0, 2 0, 2 2)"),
         (3, "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))")],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g"))
    s = SpatialSQL(spark)
    s.register_view("tfz", with_geo_meta(g, "g", W))

    rng = random.Random(1212)
    chains = [
        (rng.choice(unary_wkb), rng.choice(unary_wkb)) for _ in range(12)
    ]
    # one query per batch of chains keeps Spark session overhead sane
    exprs = ", ".join(
        f"ST_AsText({outer}({inner}(g))) AS c{i}"
        for i, (outer, inner) in enumerate(chains)
    )
    rows = s.sql(f"SELECT id, {exprs} FROM tfz ORDER BY id").collect()
    assert len(rows) == 3
    for i, (outer, inner) in enumerate(chains):
        vals = [getattr(r, f"c{i}") for r in rows]
        # every chain must produce at least a well-formed WKT or NULL
        for v in vals:
            assert v is None or v[0].isalpha(), (outer, inner, v)


# ---------------------------------------------------------------------------
# wave 7: ordinate extrema, geometric median, SimplifyVW


def test_ordinate_extrema_kernel():
    g = Geom("LineString", [(0, 0, 5.0, 1.0), (10, 2, 7.0, 3.0)],
             has_z=True, has_m=True)
    assert G.ordinate_extreme(g, "x", False) == 0
    assert G.ordinate_extreme(g, "x", True) == 10
    assert G.ordinate_extreme(g, "y", True) == 2
    assert G.ordinate_extreme(g, "z", False) == 5.0
    assert G.ordinate_extreme(g, "m", True) == 3.0
    # absent ordinate / EMPTY -> None
    assert G.ordinate_extreme(Geom("Point", (1, 2)), "z", True) is None
    assert G.ordinate_extreme(Geom("Point", None), "x", True) is None


def test_geometric_median_kernel():
    mp = Geom("MultiPoint", [(0, 0), (2, 0), (1, 5), (1, -5)])
    x, y = G.geometric_median(mp)
    assert x == pytest.approx(1.0, abs=1e-6) and y == pytest.approx(0.0, abs=1e-6)
    # the median is a data point when it dominates (Vardi-Zhang guard)
    mp2 = Geom("MultiPoint", [(0, 0), (0, 0), (0, 0), (10, 0)])
    x2, y2 = G.geometric_median(mp2)
    assert abs(x2) < 1e-6 and abs(y2) < 1e-6
    assert G.geometric_median(Geom("Point", (3, 4))) == (3.0, 4.0)
    assert G.geometric_median(Geom("MultiPoint", [])) is None
    # optimality: the returned point beats small perturbations
    def cost(px, py):
        return sum(math.hypot(px - a, py - b) for a, b in
                   [(0, 0), (2, 0), (1, 5), (1, -5)])
    c0 = cost(x, y)
    for dx, dy in ((0.01, 0), (-0.01, 0), (0, 0.01), (0, -0.01)):
        assert c0 <= cost(x + dx, y + dy) + 1e-9


def test_simplify_vw_kernel():
    l = Geom("LineString", [(0, 0), (5, 0.1), (10, 0), (15, 5)])
    assert G.simplify_vw(l, 1.0).coords == [(0, 0), (10, 0), (15, 5)]
    # endpoints always survive
    assert G.simplify_vw(l, 1e9).coords == [(0, 0), (15, 5)]
    sq = Geom("Polygon", [[(0, 0), (4, 0), (4, 0.01), (4, 4), (0, 4), (0, 0)]])
    out = G.simplify_vw(sq, 0.5)
    assert out.coords == [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]]
    assert G.area(out) == pytest.approx(16.0)
    # a ring never collapses below a triangle
    tri = G.simplify_vw(SQ, 1e9)
    assert len(tri.coords[0]) >= 4


def test_wave7_spark_sql(spark):
    from datafusion_spatial_spark.functions.accessors import (
        st_geometricmedian,
        st_mmax,
        st_simplifyvw,
        st_xmax,
        st_xmin,
        st_zmin,
    )
    from datafusion_spatial_spark.meta import with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    df = spark.createDataFrame(
        [(1, "LINESTRING ZM (0 0 5 1, 10 2 7 3)"),
         (2, "MULTIPOINT ((0 0), (2 0), (1 5), (1 -5))")],
        "id long, w string",
    )
    g = df.select("id", st_geomfromtext("w").alias("g"))
    out = {r.id: r for r in g.select(
        "id",
        st_xmin("g", W).alias("x0"),
        st_xmax("g", W).alias("x1"),
        st_zmin("g", W).alias("z0"),
        st_mmax("g", W).alias("m1"),
        st_geometricmedian("g", W).alias("gm"),
    ).collect()}
    assert out[1].x0 == 0 and out[1].x1 == 10
    assert out[1].z0 == 5.0 and out[1].m1 == 3.0
    assert out[2].z0 is None
    gm = wkb.loads(bytes(out[2].gm))
    assert gm.coords[0] == pytest.approx(1.0, abs=1e-6)

    s = SpatialSQL(spark)
    s.register_view("t18", with_geo_meta(g, "g", W))
    r2 = s.sql(
        "SELECT id, ST_XMax(g) AS x1, ST_MMax(g) AS m1, "
        "ST_AsText(ST_GeometricMedian(g)) AS gm, "
        "ST_AsText(ST_SimplifyVW(g, 1.0)) AS vw, "
        "ST_AsText(ST_SimplifyPreserveTopology(g, 0.5)) AS sp "
        "FROM t18 ORDER BY id"
    ).collect()
    assert r2[0].x1 == 10.0 and r2[0].m1 == 3.0
    assert r2[1].gm.startswith("POINT (")
    assert r2[0].vw.startswith("LINESTRING")
