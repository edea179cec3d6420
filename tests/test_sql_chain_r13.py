"""Multi-level scalar-over-aggregate SQL chains (r13, VERDICT r12 #3).

r12 resolved exactly one wrapper level over ST_Union/ST_Collect; deeper
PostGIS-style chains (``ST_NPoints(ST_ConvexHull(ST_Union(g)))``) raised
the unsupported-shape error. Now every wrapper in ``_POSTAGG_SPECS``
chains to arbitrary depth via nested registered WKB-in UDFs.

Parity contract: for every (outer, intermediate) wrapper pair, the
CHAINED rewrite must agree with the two-step evaluation — materialize
``ST_AsBinary(ST_Union(g))`` as its own WKB view, then resolve
``outer(intermediate(geometry))`` through the ORDINARY nested-scalar
path (Column builders), a fully independent code path sharing only the
geom_ops kernels.
"""
from __future__ import annotations

import math

import pytest

from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta
from datafusion_spatial_spark.plans.sql import (
    _POSTAGG_SPECS,
    SpatialSQL,
)

from refdata import refdata_dir


# one numeric literal per extra-arg slot (buffer radius / tolerance)
_EXTRA_LIT = {"ST_BUFFER": "2.5", "ST_SIMPLIFY": "0.5",
              "ST_SEGMENTIZE": "5", "ST_REMOVEREPEATEDPOINTS": "0"}


def _call(name: str, inner: str) -> str:
    arity = _POSTAGG_SPECS[name][0]
    if arity == (0,) or 0 in arity and name not in _EXTRA_LIT:
        return f"{name}({inner})"
    return f"{name}({inner}, {_EXTRA_LIT[name]})"


@pytest.fixture(scope="module")
def ssql(spark):
    s = SpatialSQL(spark)
    s.register_geoparquet(
        "polys", f"{refdata_dir()}/data-polygon-encoding_wkb.parquet"
    )
    s.register_geoparquet(
        "lines", f"{refdata_dir()}/data-linestring-encoding_wkb.parquet"
    )
    return s


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bytes, bytearray)):
        # a WKB Point normalizes to its coordinate pair: the regular
        # resolver emits ST_Centroid/ST_PointOnSurface as native point
        # STRUCTS while the chain path emits WKB — same values
        from datafusion_spatial_spark import wkb as _wkb

        g = _wkb.loads(bytes(v))
        if g.type_name == "Point" and not g.is_empty:
            return (float(g.coords[0]), float(g.coords[1]))
        return bytes(v)
    if hasattr(v, "asDict") and set(v.asDict()) == {"x", "y"}:
        if v["x"] is None:
            return None
        return (float(v["x"]), float(v["y"]))
    return v


def _agg_view(ssql, view: str, agg: str, out: str):
    """Materialize the aggregate as a 1-row WKB view for the reference
    two-step evaluation."""
    df = ssql.sql(f"SELECT ST_AsBinary({agg}(geometry)) AS geometry FROM {view}")
    meta = GeometryMeta(encoding="WKB")
    ssql.register_view(out, with_geo_meta(df, "geometry", meta))


BINARY_WRAPPERS = sorted(
    n for n, (_, t) in _POSTAGG_SPECS.items() if t == "binary"
    and n != "ST_ASBINARY"
)
ALL_WRAPPERS = sorted(_POSTAGG_SPECS)


@pytest.mark.parametrize("view,agg", [
    ("polys", "ST_UNION"), ("lines", "ST_COLLECT"),
])
def test_chain_outer_sweep(ssql, view, agg):
    """Every registered wrapper as the OUTER level over three
    representative intermediates, all combos in ONE resolved query,
    against the two-step reference path."""
    inters = ["ST_CONVEXHULL", "ST_MAKEVALID", "ST_BUFFER"]
    cols, refs = [], []
    k = 0
    for outer in ALL_WRAPPERS:
        for inter in inters:
            expr = _call(outer, _call(inter, f"{agg}(geometry)"))
            cols.append(f"{expr} AS c{k}")
            refs.append(_call(outer, _call(inter, "geometry")) + f" AS c{k}")
            k += 1
    got = ssql.sql(
        f"SELECT {', '.join(cols)} FROM {view}"
    ).collect()[0]
    _agg_view(ssql, view, agg, f"__agg_{view}")
    exp = ssql.sql(
        f"SELECT {', '.join(refs)} FROM __agg_{view}"
    ).collect()[0]
    for i in range(k):
        g, e = _norm(got[f"c{i}"]), _norm(exp[f"c{i}"])
        assert g == e, (ALL_WRAPPERS[i // len(inters)],
                        inters[i % len(inters)], g, e)


def test_chain_intermediate_sweep(ssql):
    """Every WKB-out wrapper as the INTERMEDIATE level under two
    terminal outers, 3-deep (outer(inter(ST_ConvexHull(agg))))."""
    outers = ["ST_ASTEXT", "ST_NPOINTS"]
    cols, refs = [], []
    k = 0
    for inter in BINARY_WRAPPERS:
        for outer in outers:
            expr = _call(
                outer,
                _call(inter, _call("ST_CONVEXHULL", "ST_Union(geometry)")),
            )
            cols.append(f"{expr} AS c{k}")
            refs.append(
                _call(outer, _call(inter, _call("ST_CONVEXHULL", "geometry")))
                + f" AS c{k}"
            )
            k += 1
    got = ssql.sql(f"SELECT {', '.join(cols)} FROM polys").collect()[0]
    _agg_view(ssql, "polys", "ST_UNION", "__agg_p3")
    exp = ssql.sql(f"SELECT {', '.join(refs)} FROM __agg_p3").collect()[0]
    for i in range(k):
        g, e = _norm(got[f"c{i}"]), _norm(exp[f"c{i}"])
        assert g == e, (BINARY_WRAPPERS[i // len(outers)],
                        outers[i % len(outers)], g, e)


def test_chain_in_group_by(ssql, spark):
    """Chains evaluate per GROUP, not globally."""
    import pandas as pd

    pdf = pd.DataFrame({
        "k": ["a", "a", "b", "b", "b"],
        "x": [0.0, 1.0, 10.0, 11.0, 12.0],
        "y": [0.0, 1.0, 10.0, 10.0, 14.0],
    })
    df = spark.createDataFrame(pdf)
    from datafusion_spatial_spark.functions.scalar import st_point

    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    g = df.select("k", st_point("x", "y").alias("geometry"))
    ssql.register_view("grp_pts", with_geo_meta(g, "geometry", meta))
    rows = ssql.sql(
        "SELECT k, ST_NPoints(ST_ConvexHull(ST_Collect(geometry))) AS n, "
        "ST_XMax(ST_ConvexHull(ST_Collect(geometry))) AS xm "
        "FROM grp_pts GROUP BY k ORDER BY k"
    ).collect()
    assert [(r["k"], r["xm"]) for r in rows] == [("a", 1.0), ("b", 12.0)]
    assert rows[0]["n"] >= 2 and rows[1]["n"] >= 3


def test_plain_nested_shapes_unaffected(ssql):
    """Chain detection must not hijack nested scalars over plain columns
    or the 2-arg scalar ST_Union."""
    rows = ssql.sql(
        "SELECT ST_NPoints(ST_ConvexHull(geometry)) AS n FROM polys"
    ).collect()
    assert len(rows) == 4  # per-row, not aggregated
    r = ssql.sql(
        "SELECT ST_AsText(ST_Union(geometry, geometry)) AS t FROM polys"
    ).collect()
    assert len(r) == 4


def test_non_numeric_extra_not_hijacked(ssql):
    """A wrapper whose extra arg is not a numeric literal is left to the
    ordinary resolver (which raises its documented error), never half
    rewritten."""
    with pytest.raises(Exception):
        ssql.sql(
            "SELECT ST_Buffer(ST_Union(geometry), geometry) FROM polys"
        ).collect()


# heavy battery file: certification tier only (r15 tiering, VERDICT r14 #9)
pytestmark = pytest.mark.slow
