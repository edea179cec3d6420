"""Tests for the SQL-string ST_ resolver (plans/sql.py) — the reference's
analyzer-rule behavior (rules.rs:20-129) reproduced at SQL-text level,
including the demo queries from examples/main.rs:50,55."""

import pytest

from datafusion_spatial_spark.plans.sql import SpatialSQL

from refdata import refdata_dir


@pytest.fixture(scope="module")
def ssql(spark):
    s = SpatialSQL(spark)
    for typ in ["point", "polygon"]:
        for enc in ["native", "wkb"]:
            s.register_geoparquet(
                f"{typ}_{enc}", f"{refdata_dir()}/data-{typ}-encoding_{enc}.parquet"
            )
    return s


def test_demo_projection(ssql):
    # examples/main.rs:50
    rows = ssql.sql(
        "SELECT ST_Envelope(geometry), ST_AsText(geometry) FROM polygon_native"
    ).collect()
    assert len(rows) == 4
    wkts = [r[1] for r in rows]
    assert "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))" in wkts


def test_demo_aggregate(ssql):
    # examples/main.rs:55
    row = ssql.sql("SELECT ST_Extent(geometry) FROM polygon_native").collect()[0][0]
    assert (row.xmin, row.ymin, row.xmax, row.ymax) == (10.0, 10.0, 45.0, 45.0)


def test_nested_call(ssql):
    # nested resolution ≈ rules.rs:157-164
    rows = ssql.sql(
        "SELECT col, ST_AsText(ST_Envelope(geometry)) AS env_wkt "
        "FROM polygon_native ORDER BY col"
    ).collect()
    assert rows[0].env_wkt == "POLYGON ((10 10, 40 10, 40 40, 10 40, 10 10))"
    assert rows[2].env_wkt == "POLYGON EMPTY"
    assert rows[3].env_wkt is None


def test_wkb_view_filtering(ssql):
    rows = ssql.sql(
        "SELECT ST_GeometryType(geometry) AS t FROM point_wkb "
        "WHERE geometry IS NOT NULL"
    ).collect()
    assert all(r.t == "ST_Point" for r in rows)


def test_mixed_with_plain_sql(ssql):
    rows = ssql.sql(
        "SELECT count(*) AS n, ST_Extent(geometry) AS e FROM point_native "
        "WHERE col > 0"
    ).collect()
    assert rows[0].n == 3


def test_two_arg_predicates(ssql):
    rows = ssql.sql(
        "SELECT col, ST_Intersects(geometry, geometry) AS self_i, "
        "ST_Distance(geometry, geometry) AS self_d, "
        "ST_Area(geometry) AS area "
        "FROM polygon_native ORDER BY col"
    ).collect()
    assert rows[0].self_i is True and rows[0].self_d == 0.0
    assert rows[0].area == 550.0  # shoelace of the fixture polygon
    assert rows[3].self_i is None  # null row


def test_buffer_and_nested_measure(ssql):
    rows = ssql.sql(
        "SELECT ST_Area(ST_Buffer(geometry, 2)) AS a FROM point_native "
        "WHERE col = 0"
    ).collect()
    import math

    assert abs(rows[0].a - math.pi * 4) < 0.05


def test_unknown_function_raises(ssql):
    with pytest.raises(ValueError, match="unsupported"):
        ssql.resolve("SELECT ST_Bogus(geometry) FROM point_native")


def test_unregistered_column_raises(ssql):
    with pytest.raises(ValueError, match="no geometry metadata"):
        ssql.resolve("SELECT ST_AsText(mystery) FROM point_native")


def test_st_inside_string_literal_untouched(ssql):
    # quote-awareness: an ST_...(...) inside a SQL string literal is data
    rows = ssql.sql(
        "SELECT 'ST_AsText(geometry)' AS lit, ST_GeometryType(geometry) AS t "
        "FROM point_native WHERE geometry IS NOT NULL"
    ).collect()
    assert all(r.lit == "ST_AsText(geometry)" for r in rows)
    assert all(r.t == "ST_Point" for r in rows)


def test_multiview_spatial_join_dwithin(spark):
    """Two registered views joined in one SQL string via ST_DWithin — routed
    to the grid spatial join (no UDF in any join condition)."""
    from pyspark.sql import functions as F

    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta

    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    a = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0), (3, 50.0, 50.0)], "id long, x double, y double"
    ).select("id", st_point("x", "y").alias("g"))
    b = spark.createDataFrame(
        [(7, 1.0, 1.0), (8, 10.5, 0.0), (9, 100.0, 100.0)], "id long, x double, y double"
    ).select("id", st_point("x", "y").alias("g"))
    s = SpatialSQL(spark)
    s.register_view("va", with_geo_meta(a, "g", meta))
    s.register_view("vb", with_geo_meta(b, "g", meta))
    rows = s.sql(
        "SELECT a.id AS aid, b.id AS bid FROM va a JOIN vb b "
        "ON ST_DWithin(a.g, b.g, 2) ORDER BY aid, bid"
    ).collect()
    assert [(r.aid, r.bid) for r in rows] == [(1, 7), (2, 8)]


def test_multiview_spatial_join_intersects(spark):
    from datafusion_spatial_spark.functions.scalar import st_geomfromtext
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta

    wkb_meta = GeometryMeta(encoding="WKB")
    polys = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
         (2, "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))")],
        "id long, w string",
    ).select("id", st_geomfromtext("w").alias("g"))
    pts = spark.createDataFrame(
        [(7, "POINT (5 5)"), (8, "POINT (25 25)"), (9, "POINT (50 50)")],
        "id long, w string",
    ).select("id", st_geomfromtext("w").alias("g"))
    s = SpatialSQL(spark, join_cell_size=10.0)
    s.register_view("polys", with_geo_meta(polys, "g", wkb_meta))
    s.register_view("pts", with_geo_meta(pts, "g", wkb_meta))
    rows = s.sql(
        "SELECT polys.id AS pid, pts.id AS qid FROM polys JOIN pts "
        "ON ST_Intersects(polys.g, pts.g) ORDER BY pid, qid"
    ).collect()
    assert [(r.pid, r.qid) for r in rows] == [(1, 7), (2, 8)]


def test_multiview_rejects_extra_st_calls(spark):
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta

    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    a = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double") \
        .select("id", st_point("x", "y").alias("g"))
    s = SpatialSQL(spark)
    s.register_view("wa", with_geo_meta(a, "g", meta))
    s.register_view("wb", with_geo_meta(a, "g", meta))
    with pytest.raises(ValueError, match="ON clause"):
        s.resolve(
            "SELECT ST_AsText(wa.g) FROM wa JOIN wb ON ST_DWithin(wa.g, wb.g, 1)"
        )


def test_accessor_functions_in_sql(ssql):
    rows = ssql.sql(
        "SELECT col, ST_NumGeometries(geometry) AS n, "
        "ST_Perimeter(geometry) AS per, "
        "ST_AsText(ST_ExteriorRing(geometry)) AS ring "
        "FROM polygon_native ORDER BY col"
    ).collect()
    assert rows[0].n == 1
    assert rows[0].ring.startswith("LINESTRING (30 10")
    assert rows[0].per > 0


def test_union_aggregate_in_sql(ssql, spark):
    """1-arg ST_Union in SQL is the PostGIS aggregate: per-group cascaded
    union through the registered pandas agg UDF."""
    from datafusion_spatial_spark import geom_ops as G
    from datafusion_spatial_spark import wkb

    rows = ssql.sql(
        "SELECT ST_Union(geometry) AS u FROM polygon_native"
    ).collect()
    assert len(rows) == 1
    g = wkb.loads(bytes(rows[0].u))
    # cross-check against the kernel union of the same rows
    per_row = ssql.sql(
        "SELECT ST_AsBinary(geometry) AS b FROM polygon_native"
    ).collect()
    members = [wkb.loads(bytes(r.b)) for r in per_row if r.b is not None]
    expect = G.union_many(members)
    assert abs(G.area(g) - G.area(expect)) < 1e-6
    # the fixture polygons overlap, so the dissolve is non-trivial
    per_area = ssql.sql("SELECT ST_Area(geometry) AS a FROM polygon_native").collect()
    assert G.area(g) < sum(r.a or 0.0 for r in per_area)


def test_collect_aggregate_in_sql(ssql, spark):
    from datafusion_spatial_spark import wkb

    rows = ssql.sql(
        "SELECT ST_Collect(geometry) AS c FROM polygon_native"
    ).collect()
    g = wkb.loads(bytes(rows[0].c))
    assert g.type_name in ("MultiPolygon", "GeometryCollection")


def test_struct_field_access_inside_st_args(ssql, spark):
    """Round-6: field access on a struct-returning ST_ call INSIDE another
    ST_ call resolves (the reference analyzer rewrites nested expressions
    generically, rules.rs:131-170). Value-checked against the DataFrame
    path."""
    from pyspark.sql import functions as F

    from datafusion_spatial_spark.functions import accessors as _ac
    from datafusion_spatial_spark.functions import scalar as _sc
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.plans.sql import _WKB

    rows = ssql.sql(
        "SELECT col, ST_AsText(ST_LargestEmptyCircle(geometry).center) AS c "
        "FROM polygon_native ORDER BY col"
    ).collect()
    # DataFrame path: same expression built directly
    df = ssql._frames["polygon_native"]
    meta = ssql.registry["polygon_native"]["geometry"]
    want = (
        df.select(
            "col",
            _sc.st_astext(
                _ac.st_largestemptycircle("geometry", meta).getField("center"),
                _WKB,
            ).alias("c"),
        )
        .orderBy("col")
        .collect()
    )
    assert [(r.col, r.c) for r in rows] == [(r.col, r.c) for r in want]
    assert any(r.c is not None and r.c.startswith("POINT") for r in rows)

    # two-level nesting around the field access
    rows2 = ssql.sql(
        "SELECT ST_AsText(ST_Envelope(ST_LargestEmptyCircle(geometry).center))"
        " AS e FROM polygon_native ORDER BY col"
    ).collect()
    assert any(r.e is not None and r.e.startswith("POLYGON") for r in rows2)

    # non-geometry field in a geometry slot → clear error
    with pytest.raises(ValueError, match="not a geometry"):
        ssql.resolve(
            "SELECT ST_AsText(ST_LargestEmptyCircle(geometry).radius) "
            "FROM polygon_native"
        )


def test_signature_table_error_messages(ssql):
    """The table-driven dispatcher reports the declared shapes."""
    with pytest.raises(ValueError, match=r"ST_BUFFER takes .*geometry, numeric-literal"):
        ssql.resolve("SELECT ST_Buffer(geometry) FROM polygon_native")
    with pytest.raises(ValueError, match="unsupported SQL spatial function"):
        ssql.resolve("SELECT ST_Nonexistent(geometry) FROM polygon_native")


def test_delaunay_voronoi_sql_registered(ssql):
    """Round-6: ST_DelaunayTriangles / ST_VoronoiPolygons callable from
    SQL (array-of-WKB results, like ST_Polygonize)."""
    rows = ssql.sql(
        "SELECT col, size(ST_DelaunayTriangles(geometry)) AS n_tri, "
        "size(ST_VoronoiPolygons(geometry)) AS n_cells "
        "FROM polygon_native ORDER BY col"
    ).collect()
    ok = [r for r in rows if r.n_tri is not None and r.n_tri > 0]
    assert ok, rows
    for r in ok:
        assert r.n_cells >= 1


@pytest.mark.slow
def test_round6_sql_surface_sweep(ssql, spark):
    """Round-6: previously DataFrame-only functions registered in SQL via
    the declarative signature spec, including the new ('g','s'),
    ('g','g','s') and pure-literal constructor shapes."""
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    s = SpatialSQL(spark)
    s.register_geoparquet(
        "r6poly", f"{refdata_dir()}/data-polygon-encoding_native.parquet"
    )
    s.register_geoparquet(
        "r6ls", f"{refdata_dir()}/data-linestring-encoding_wkb.parquet"
    )

    def one(q):
        return s.sql(q).collect()[0][0]

    assert one(
        "SELECT ST_AsText(ST_Simplify(geometry, 5)) FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("POLYGON")
    assert one(
        "SELECT size(ST_Dump(geometry)) FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ) == 1
    # literal constructors
    assert one("SELECT ST_AsText(ST_Point(3, 4)) FROM r6poly LIMIT 1") == \
        "POINT (3 4)"
    assert one(
        "SELECT ST_AsText(ST_GeomFromText('POINT (1 2)')) FROM r6poly LIMIT 1"
    ) == "POINT (1 2)"
    assert one(
        "SELECT ST_GeoHash(ST_Point(-5.6, 42.6), 5) FROM r6poly LIMIT 1"
    ) == "ezs42"
    # DE-9IM: 2-arg matrix and 3-arg pattern overloads of ST_Relate
    assert one(
        "SELECT ST_Relate(geometry, geometry) FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ) == "2FFF1FFF2"
    assert one(
        "SELECT ST_Relate(geometry, geometry, 'T*F**FFF*') FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ) is True
    # ('g','s'): split by a literal blade
    assert one(
        "SELECT size(ST_Split(geometry, 'LINESTRING (25 0, 25 50)')) "
        "FROM r6poly WHERE geometry IS NOT NULL LIMIT 1"
    ) == 2
    # native-point out_meta flows through nested calls
    assert one(
        "SELECT ST_AsText(ST_LineInterpolatePoint(geometry, 0.5)) FROM r6ls "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("POINT")
    assert one(
        "SELECT ST_AsText(ST_LineSubstring(geometry, 0.25, 0.75)) FROM r6ls "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("LINESTRING")
    # two-num expand overload vs one-num
    e1 = one(
        "SELECT ST_AsText(ST_Envelope(ST_Expand(geometry, 1))) FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    )
    e2 = one(
        "SELECT ST_AsText(ST_Envelope(ST_Expand(geometry, 1, 2))) FROM r6poly "
        "WHERE geometry IS NOT NULL LIMIT 1"
    )
    assert e1 != e2 and e1.startswith("POLYGON") and e2.startswith("POLYGON")
    # ('g','g','n') snap and ('g','g','g') angle
    snapped = one(
        "SELECT ST_AsText(ST_Snap(geometry, ST_GeomFromText('POINT (30.4 10.2)'), 1)) "
        "FROM r6poly WHERE geometry IS NOT NULL LIMIT 1"
    )
    assert "30.4 10.2" in snapped
    ang = one(
        "SELECT round(ST_Angle(ST_Point(1, 0), ST_Point(0, 0), ST_Point(0, 1)), 6) "
        "FROM r6poly LIMIT 1"
    )
    assert abs(float(ang) - 4.712389) < 1e-6


def test_transform_functions_sql_same_meta(ssql, spark):
    """Round-6: pure-Catalyst coordinate transforms in SQL with the
    _SAME out-meta sentinel (result keeps the input encoding, so they
    nest under other ST_ calls); WKB inputs get a clear error."""
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    s = SpatialSQL(spark)
    s.register_geoparquet(
        "trn", f"{refdata_dir()}/data-polygon-encoding_native.parquet"
    )
    s.register_geoparquet(
        "trw", f"{refdata_dir()}/data-polygon-encoding_wkb.parquet"
    )

    def one(q):
        return s.sql(q).collect()[0][0]

    assert one(
        "SELECT ST_AsText(ST_Translate(geometry, 10, 20)) FROM trn "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ) == "POLYGON ((40 30, 50 60, 30 60, 20 40, 40 30))"
    assert one(
        "SELECT ST_AsText(ST_Envelope(ST_Rotate(geometry, "
        "3.141592653589793))) FROM trn WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("POLYGON ((-40 -40")
    assert one(
        "SELECT ST_AsText(ST_FlipCoordinates(geometry)) FROM trn "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("POLYGON ((10 30")
    assert one(
        "SELECT ST_AsText(ST_Scale(geometry, 2, 0.5)) FROM trn "
        "WHERE geometry IS NOT NULL LIMIT 1"
    ).startswith("POLYGON ((60 5")
    # r12: WKB columns no longer refuse — the transform family runs
    # them through the kernel fallback (values pinned in
    # tests/test_sql_fuzz_r12.py::test_wkb_transforms_values)
    s.resolve("SELECT ST_Translate(geometry, 1, 1) FROM trw")


def test_largest_empty_circle_boundary_sql(ssql, spark):
    """('g','s') overload: explicit boundary WKT for the empty-circle
    search, agreeing with the DataFrame path."""
    from datafusion_spatial_spark.functions import accessors as _ac
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    s = SpatialSQL(spark)
    s.register_geoparquet(
        "lecmp", f"{refdata_dir()}/data-multipoint-encoding_native.parquet"
    )
    bnd = "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"
    rows = s.sql(
        f"SELECT ST_LargestEmptyCircle(geometry, '{bnd}').radius AS r "
        "FROM lecmp WHERE geometry IS NOT NULL"
    ).collect()
    df = s._frames["lecmp"]
    meta = s.registry["lecmp"]["geometry"]
    want = (
        df.filter(df.geometry.isNotNull())
        .select(
            _ac.st_largestemptycircle("geometry", meta, None, bnd)
            .getField("radius")
            .alias("r")
        )
        .collect()
    )
    assert [r.r for r in rows] == [w.r for w in want]
    assert any(r.r is not None and r.r > 0 for r in rows)


def test_binning_and_subdivide_sql_registered(ssql, spark):
    """r8 additions resolve from SQL strings: ST_SubDivide explodes via
    LATERAL-style wrapping (array out), ST_SquareCell/ST_HexCell emit
    struct keys usable in GROUP BY."""
    rows = ssql.sql(
        "SELECT ST_SquareCell(geometry, 10) AS sc, "
        "ST_HexCell(geometry, 10) AS hc, "
        "size(ST_Subdivide(geometry, 8)) AS np "
        "FROM point_native WHERE geometry IS NOT NULL"
    ).collect()
    # real points pass through as one piece with a cell; POINT EMPTY
    # (NaN coords, present in the fixture) gets NULL cells and no pieces
    assert rows
    for r in rows:
        if r.sc is None:
            assert r.hc is None and r.np == 0  # the EMPTY row
        else:
            assert r.np == 1
            assert hasattr(r.sc, "i") and hasattr(r.hc, "q")
    assert sum(1 for r in rows if r.sc is not None) >= 2
    # group-by-cell rollup parses and aggregates
    agg = ssql.sql(
        "SELECT ST_HexCell(geometry, 10) AS c, count(*) AS n "
        "FROM point_native WHERE geometry IS NOT NULL GROUP BY c"
    ).collect()
    assert sum(r.n for r in agg) == len(rows)
