"""Hypothesis property suites for round-4 kernels: concave hull,
maximum inscribed circle, generate_points, 3-D distance, spherical area,
Hilbert keys. Pure-Python kernel level (no Spark session) — fast and wide.
"""
import pytest

import math

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from datafusion_spatial_spark import geom_ops as G
from datafusion_spatial_spark import wkb
from datafusion_spatial_spark.functions.indexing import hilbert_xy2d

coord = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False
)


def _multipoint(pts):
    return wkb.Geom("MultiPoint", [tuple(p) for p in pts])


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=4, max_size=25, unique=True))
def test_concave_hull_contains_inputs_and_bounded_by_convex(pts):
    g = _multipoint(pts)
    chull = G.convex_hull(g)
    # skip (near-)degenerate configurations: the containment contract is
    # only meaningful for areal hulls (collinear input falls back to the
    # convex hull, a LineString, by construction)
    assume(chull.type_name == "Polygon" and G.area(chull) > 1e-6)
    hull = G.concave_hull(g, 0.3)
    assert G.area(hull) <= G.area(chull) + 1e-9
    for p in pts:
        assert G.intersects(hull, wkb.Geom("Point", tuple(p)))


@settings(max_examples=40, deadline=None)
@given(
    st.floats(min_value=1.0, max_value=50.0, allow_nan=False),
    st.floats(min_value=1.0, max_value=50.0, allow_nan=False),
)
def test_mic_of_rectangle_is_half_min_side(w, h):
    ring = [(0.0, 0.0), (w, 0.0), (w, h), (0.0, h), (0.0, 0.0)]
    res = G.maximum_inscribed_circle(wkb.Geom("Polygon", [ring]))
    assert res is not None
    (cx, cy), r, _ = res
    assert abs(r - min(w, h) / 2.0) < max(w, h) * 1e-3
    assert 0 <= cx <= w and 0 <= cy <= h


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=60), st.integers(min_value=0, max_value=9))
def test_generate_points_inside_and_seed_stable(n, seed):
    poly = wkb.from_wkt("POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))")
    a = G.generate_points(poly, n, seed)
    b = G.generate_points(poly, n, seed)
    assert a.coords == b.coords and len(a.coords) == n
    for x, y in a.coords:
        assert 0 <= x <= 10 and 0 <= y <= 6


seg3 = st.tuples(coord, coord, st.floats(min_value=-50, max_value=50,
                                         allow_nan=False))


@settings(max_examples=40, deadline=None)
@given(seg3, seg3, seg3, seg3)
def test_3d_distance_symmetric_and_z_lower_bound(p1, q1, p2, q2):
    a = wkb.Geom("LineString", [p1[:2] + (p1[2],), q1[:2] + (q1[2],)], True)
    b = wkb.Geom("LineString", [p2[:2] + (p2[2],), q2[:2] + (q2[2],)], True)
    dab = G.distance_3d(a, b)
    dba = G.distance_3d(b, a)
    assert abs(dab - dba) < 1e-9
    # the z-interval gap is a lower bound on the 3-D distance
    za = sorted([p1[2], q1[2]])
    zb = sorted([p2[2], q2[2]])
    gap = max(0.0, max(za[0], zb[0]) - min(za[1], zb[1]))
    assert dab >= gap - 1e-9


def test_3d_distance_nearly_parallel_fixed_pair():
    """a*e - b*b cancels to 0 for this pair: both argument orders must give
    the true minimum, the z of segment 1 above y = 1 (15/16 of its start
    height)."""
    a = wkb.Geom("LineString", [(0.0, 0.0, 1.192092896e-07), (0.0, 16.0, 0.0)], True)
    b = wkb.Geom("LineString", [(0.0, 1.0, 0.0), (0.0, 0.0, 0.0)], True)
    want = 1.192092896e-07 * 15.0 / 16.0
    assert G.distance_3d(a, b) == G.distance_3d(b, a)
    assert abs(G.distance_3d(a, b) - want) < 1e-15


@settings(max_examples=40, deadline=None)
@given(
    st.floats(min_value=-179.0, max_value=178.0, allow_nan=False),
    st.floats(min_value=-89.0, max_value=88.0, allow_nan=False),
    st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
)
def test_spherical_area_matches_band_formula(lon, lat, d):
    # rectangle [lon, lon+d] x [lat, lat+d]: CD formula is exact for
    # parallel-bounded rectangles: R^2 * dLon * (sin latN - sin latS)
    ring = [
        (lon, lat), (lon + d, lat), (lon + d, lat + d), (lon, lat + d),
        (lon, lat),
    ]
    got = G.spherical_area(wkb.Geom("Polygon", [ring]))
    want = (
        G.EARTH_RADIUS ** 2
        * math.radians(d)
        * (math.sin(math.radians(lat + d)) - math.sin(math.radians(lat)))
    )
    assert abs(got - want) <= max(1e-6, abs(want) * 1e-9)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=(1 << 12) - 1),
    st.integers(min_value=0, max_value=(1 << 12) - 1),
)
def test_hilbert_key_in_range_and_distinct_neighbors(level, x, y):
    n = 1 << level
    x, y = x % n, y % n
    d = hilbert_xy2d(level, x, y)
    assert 0 <= d < n * n
    if x + 1 < n:
        assert hilbert_xy2d(level, x + 1, y) != d
    if y + 1 < n:
        assert hilbert_xy2d(level, x, y + 1) != d


# heavy battery file: certification tier only (r15 tiering, VERDICT r14 #9)
pytestmark = pytest.mark.slow
