"""Tests for relate-family predicates, storage layout ops, lakehouse gating."""

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import geom_ops as G
from datafusion_spatial_spark.wkb import from_wkt as g

from refdata import refdata_dir


SQ = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")


class TestRelateFamily:
    def test_touches(self):
        assert G.touches(SQ, g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"))
        assert G.touches(g("POINT (0 0)"), SQ)
        assert G.touches(g("LINESTRING (10 0, 20 0)"), SQ)
        assert not G.touches(SQ, g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))
        assert not G.touches(g("POINT (5 5)"), SQ)
        assert not G.touches(g("POINT (1 1)"), g("POINT (1 1)"))  # point/point undefined

    def test_crosses(self):
        assert G.crosses(g("LINESTRING (-5 5, 15 5)"), SQ)
        assert not G.crosses(g("LINESTRING (1 1, 2 2)"), SQ)  # within, not cross
        assert G.crosses(g("LINESTRING (0 0, 10 10)"), g("LINESTRING (0 10, 10 0)"))
        assert not G.crosses(
            g("LINESTRING (0 0, 10 10)"), g("LINESTRING (0 0, 10 10)")
        )
        assert not G.crosses(SQ, SQ)

    def test_overlaps(self):
        assert G.overlaps(SQ, g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))
        assert not G.overlaps(SQ, g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"))
        assert not G.overlaps(SQ, g("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"))
        assert G.overlaps(
            g("MULTIPOINT ((1 1), (2 2))"), g("MULTIPOINT ((2 2), (3 3))")
        )
        assert not G.overlaps(SQ, g("LINESTRING (0 0, 5 5)"))  # mixed dims


def test_sql_resolver_relate(spark):
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    ssql = SpatialSQL(spark)
    ssql.register_geoparquet(
        "polyt", f"{refdata_dir()}/data-polygon-encoding_native.parquet"
    )
    rows = ssql.sql(
        "SELECT col, ST_Touches(geometry, geometry) AS t, "
        "ST_Overlaps(geometry, geometry) AS o, "
        "ST_Area(ST_Intersection(geometry, geometry)) AS a "
        "FROM polyt ORDER BY col"
    ).collect()
    assert rows[0].t is False  # self-touch is false (interiors meet)
    assert rows[0].o is False  # equal, not overlapping
    assert rows[0].a == 550.0  # self-intersection area == area


def test_bucketed_write_and_shuffle_free_join(spark, sf_dir, tmp_path):
    from datafusion_spatial_spark.operators import storage

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    storage.write_bucketed(
        orders, "orders_b", ["o_custkey"], num_buckets=8,
        path=str(tmp_path / "orders_b"),
    )
    storage.write_bucketed(
        cust, "cust_b", ["o_custkey"], num_buckets=8,
        path=str(tmp_path / "cust_b"),
    )
    assert storage.bucketed_join_is_shuffle_free(
        spark, "orders_b", "cust_b", "o_custkey"
    )
    # sanity: same sort-merge join on the raw (unbucketed) frames shuffles
    raw = orders.hint("merge").join(cust, "o_custkey")
    raw_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in raw_plan
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS cust_b")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from datafusion_spatial_spark.operators import storage

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "status", F.col("o_orderstatus")
    )
    out = str(tmp_path / "orders_part")
    storage.write_partitioned(orders, out, ["status"])
    df = spark.read.parquet(out).filter(F.col("status") == "O")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(status" in plan or "status#" in plan
    assert df.count() == orders.filter(F.col("o_orderstatus") == "O").count()


def test_lakehouse_gating(spark):
    from datafusion_spatial_spark.sources import lakehouse

    with pytest.raises(NotImplementedError, match="delta"):
        lakehouse.read_table(spark, "delta", "/tmp/nope")


class TestDE9IM:
    def test_relate_patterns(self):
        inner = g("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
        adj = g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")
        far = g("POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))")
        # within: T*F**F***
        assert G.relate_pattern(inner, SQ, "T*F**F***")
        assert not G.relate_pattern(SQ, inner, "T*F**F***")
        # contains: T*****FF*
        assert G.relate_pattern(SQ, inner, "T*****FF*")
        # touches (area/area): F***T****
        assert G.relate_pattern(SQ, adj, "F***T****")
        # disjoint: FF*FF****
        assert G.relate_pattern(SQ, far, "FF*FF****")
        assert not G.relate_pattern(SQ, inner, "FF*FF****")
        # equals: T*F**FFF*
        assert G.relate_pattern(SQ, g("POLYGON ((10 0, 10 10, 0 10, 0 0, 10 0))"), "T*F**FFF*")

    def test_relate_line_polygon(self):
        crossing = g("LINESTRING (-5 5, 15 5)")
        # crosses (line/area): T*T******
        assert G.relate_pattern(crossing, SQ, "T*T******")
        inside = g("LINESTRING (1 1, 2 2)")
        assert G.relate_pattern(inside, SQ, "T*F**F***")  # within

    def test_relate_matrix_polygon_polygon(self):
        # PostGIS-standard matrices
        overlapping = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert G.relate_matrix(SQ, overlapping) == "212101212"
        adj = g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")
        assert G.relate_matrix(SQ, adj) == "FF2F11212"
        inner = g("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
        assert G.relate_matrix(SQ, inner) == "212FF1FF2"
        assert G.relate_matrix(inner, SQ) == "2FF1FF212"
        same = g("POLYGON ((10 0, 10 10, 0 10, 0 0, 10 0))")
        assert G.relate_matrix(SQ, same) == "2FFF1FFF2"
        far = g("POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))")
        assert G.relate_matrix(SQ, far) == "FF2FF1212"
        # corner touch: boundaries meet at a point
        corner = g("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")
        assert G.relate_matrix(SQ, corner) == "FF2F01212"

    def test_relate_matrix_line_polygon(self):
        crossing = g("LINESTRING (-5 5, 15 5)")
        assert G.relate_matrix(SQ, crossing) == "1F20F1102"
        # transpose form (line, polygon)
        assert G.relate_matrix(crossing, SQ) == "101FF0212"
        inside = g("LINESTRING (1 1, 2 2)")
        assert G.relate_matrix(SQ, inside) == "102FF1FF2"
        # line along the square's edge
        edge = g("LINESTRING (2 0, 8 0)")
        assert G.relate_matrix(SQ, edge) == "FF2101FF2"

    def test_relate_matrix_line_line(self):
        x1 = g("LINESTRING (0 0, 10 10)")
        x2 = g("LINESTRING (0 10, 10 0)")
        assert G.relate_matrix(x1, x2) == "0F1FF0102"
        collinear = g("LINESTRING (5 5, 15 15)")
        assert G.relate_matrix(x1, collinear) == "1010F0102"
        same = g("LINESTRING (0 0, 10 10)")
        assert G.relate_matrix(x1, same) == "1FFF0FFF2"

    def test_relate_matrix_points(self):
        p = g("POINT (5 5)")
        assert G.relate_matrix(SQ, p) == "0F2FF1FF2"
        on_edge = g("POINT (0 5)")
        assert G.relate_matrix(SQ, on_edge) == "FF20F1FF2"
        outside = g("POINT (50 50)")
        assert G.relate_matrix(SQ, outside) == "FF2FF10F2"
        assert G.relate_matrix(p, g("POINT (5 5)")) == "0FFFFFFF2"
        assert G.relate_matrix(p, g("POINT (6 6)")) == "FF0FFF0F2"

    def test_relate_dimension_patterns(self):
        # explicit-dimension patterns now supported (VERDICT item 4)
        assert G.relate_pattern(SQ, SQ, "2FFF1FFF2")
        overlapping = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert G.relate_pattern(SQ, overlapping, "212101212")
        assert not G.relate_pattern(SQ, overlapping, "2FFF1FFF2")
        adj = g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")
        assert G.relate_pattern(SQ, adj, "FF2F11212")
        assert G.relate_pattern(SQ, adj, "FF*F1****")  # touch along an edge (1-D)

    def test_relate_matrix_spark_udf(self, spark):
        from datafusion_spatial_spark.functions.predicates import st_relate_matrix
        from datafusion_spatial_spark.functions.scalar import st_geomfromtext
        from datafusion_spatial_spark.meta import GeometryMeta

        W = GeometryMeta(encoding="WKB")
        df = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
              "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")],
            "id long, wa string, wb string",
        ).select("id", st_geomfromtext("wa").alias("a"), st_geomfromtext("wb").alias("b"))
        row = df.select(st_relate_matrix("a", "b", W, W).alias("m")).collect()[0]
        assert row.m == "212101212"

    def test_relate_spark_udf(self, spark):
        from datafusion_spatial_spark.functions.predicates import st_relate
        from datafusion_spatial_spark.functions.scalar import st_geomfromtext
        from datafusion_spatial_spark.meta import GeometryMeta

        W = GeometryMeta(encoding="WKB")
        df = spark.createDataFrame(
            [(1, "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
              "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")],
            "id long, wa string, wb string",
        ).select("id", st_geomfromtext("wa").alias("a"), st_geomfromtext("wb").alias("b"))
        row = df.select(st_relate("a", "b", "T*F**F***", W, W).alias("within")).collect()[0]
        assert row.within is True


class TestHomogeneousCollections:
    """Round-3: GeometryCollections of a single dimension flatten to their
    Multi type for relate/set ops; mixed dimensions still raise."""

    def _g(self, w):
        from datafusion_spatial_spark.wkb import from_wkt
        return from_wkt(w)

    def test_relate_gc_of_polygons(self):
        from datafusion_spatial_spark import geom_ops as G
        gc = self._g(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
            "POLYGON ((10 10, 14 10, 14 14, 10 14, 10 10)))"
        )
        mp = self._g(
            "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
            "((10 10, 14 10, 14 14, 10 14, 10 10)))"
        )
        probe = self._g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
        assert G.relate_matrix(gc, probe) == G.relate_matrix(mp, probe)

    def test_relate_gc_of_lines_and_points(self):
        from datafusion_spatial_spark import geom_ops as G
        gc = self._g(
            "GEOMETRYCOLLECTION (LINESTRING (0 0, 10 0), LINESTRING (0 5, 10 5))"
        )
        line = self._g("LINESTRING (5 -5, 5 10)")
        m = G.relate_matrix(gc, line)
        assert m[0] == "0"  # crossings are 0-D interior meets
        gcp = self._g("GEOMETRYCOLLECTION (POINT (1 1), POINT (2 2))")
        assert G.relate_matrix(gcp, self._g("POINT (1 1)"))[0] == "0"

    def test_setops_gc_of_polygons(self):
        from datafusion_spatial_spark import geom_ops as G
        gc = self._g(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
            "POLYGON ((6 0, 10 0, 10 4, 6 4, 6 0)))"
        )
        sq = self._g("POLYGON ((2 0, 8 0, 8 4, 2 4, 2 0))")
        assert abs(G.area(G.intersection(gc, sq)) - (2 * 4 + 2 * 4)) < 1e-9
        assert abs(G.area(G.union(gc, sq)) - 40.0) < 1e-9

    def test_mixed_dimension_relate_and_setops(self):
        # relate on mixed-dimension collections routes through the
        # arrangement-sampling path (union semantics, GEOS RelateNG);
        # set ops route through the round-3 decompose-and-combine layer
        from datafusion_spatial_spark import geom_ops as G
        gc = self._g(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
            "LINESTRING (5 5, 6 6))"
        )
        sq = self._g("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
        # sq within the GC's polygon; the line is far away:
        # II=2, IB=1 (sq boundary in poly interior), IE=2 (poly + line
        # outside sq), BI/BB F, BE=1, EI F, EB F, EE 2
        assert G.relate_matrix(gc, sq) == "212FF1FF2"
        s = G.sym_difference(gc, sq)
        # 16 - 4 (hole cut by sq) + sq fully inside -> area 12; line kept
        assert G.area(s) == 12.0
        assert G.length(s) == self._line_len((5, 5), (6, 6))

    def test_mixed_dimension_relate_matrices(self):
        # PostGIS/GEOS-RelateNG matrices for poly x GC(line, pt) configs
        from datafusion_spatial_spark import geom_ops as G
        P = self._g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        cases = [
            # line + point both inside
            ("GEOMETRYCOLLECTION (LINESTRING (2 2, 8 8), POINT (5 1))",
             "102FF1FF2"),
            # line crossing out; point outside
            ("GEOMETRYCOLLECTION (LINESTRING (5 5, 15 5), POINT (12 12))",
             "1020F1102"),
            # line inside; point member ON the polygon boundary (the point
            # is INTERIOR of the collection, so BI = 0, not BB)
            ("GEOMETRYCOLLECTION (LINESTRING (2 2, 8 2), POINT (10 5))",
             "1020F1FF2"),
            # everything outside
            ("GEOMETRYCOLLECTION (LINESTRING (12 12, 18 18), POINT (15 1))",
             "FF2FF1102"),
        ]
        for wkt, want in cases:
            got = G.relate_matrix(P, self._g(wkt))
            assert got == want, (wkt, got, want)
            # transpose consistency both directions
            t = "".join(got[3 * c + r] for r in range(3) for c in range(3))
            assert G.relate_matrix(self._g(wkt), P) == t
        # relate_pattern composes: intersects via the mixed path
        gc = self._g("GEOMETRYCOLLECTION (LINESTRING (5 5, 15 5), POINT (1 1))")
        assert G.relate_pattern(P, gc, "T********")

    def test_mixed_path_agrees_with_homogeneous_kernel(self):
        # the sampling path must reproduce the homogeneous kernel exactly
        # on homogeneous operands (it is only ROUTED for mixed ones, but
        # agreement is what makes the generalization trustworthy)
        import itertools
        from datafusion_spatial_spark import geom_ops as G
        shapes = [
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))",
            "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))",
            "LINESTRING (2 2, 8 8)",
            "LINESTRING (5 -5, 5 20)",
            "LINESTRING (0 0, 10 0)",
            "MULTIPOINT (5 5, 12 12)",
            "POINT (10 5)",
        ]
        for wa, wb in itertools.product(shapes, repeat=2):
            ga, gb = self._g(wa), self._g(wb)
            assert G.relate_matrix(ga, gb) == G._relate_mixed(ga, gb), (wa, wb)

    @staticmethod
    def _line_len(a, b):
        import math
        return math.hypot(b[0] - a[0], b[1] - a[1])


def test_geoparquet_remote_scheme_refused(spark):
    # r7 review fix: a remote scheme used to silently skip footer
    # harvest/stamp (driver-side glob sees nothing) — now refuses loudly
    import pytest as _pt

    from datafusion_spatial_spark.sources.geoparquet import (
        read_geo_footer,
        write_geoparquet,
    )
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta
    from datafusion_spatial_spark.functions.scalar import st_point
    from pyspark.sql import functions as F

    with _pt.raises(NotImplementedError, match="s3a"):
        read_geo_footer("s3a://bucket/table")
    df = with_geo_meta(
        spark.range(1).select(st_point(F.lit(1.0), F.lit(2.0)).alias("g")),
        "g", GeometryMeta(encoding="point", geometry_types=("Point",)),
    )
    with _pt.raises(NotImplementedError, match="s3a"):
        write_geoparquet(df, "s3a://bucket/table")


def test_geoparquet_primary_without_meta_actionable(spark, tmp_path):
    import pytest as _pt

    from datafusion_spatial_spark.sources.geoparquet import write_geoparquet

    df = spark.range(3).withColumnRenamed("id", "x")  # no geometry meta
    with _pt.raises(ValueError, match="no GeometryMeta"):
        write_geoparquet(df, str(tmp_path / "t"), primary_column="geom",
                         covering=True)


def test_write_spatial_empty_input(spark, tmp_path):
    # r7 review fix: 0-row input used to crash the post-write half-extent
    # read-back and leave the layout without its sidecar
    import json as _json
    import os as _os

    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.storage import write_spatial
    from pyspark.sql import functions as F

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    df = (
        spark.range(10)
        .select(F.col("id"), st_point(
            F.col("id").cast("double"), F.col("id").cast("double")
        ).alias("g"))
        .filter(F.lit(False))
    )
    out = str(tmp_path / "layout_empty")
    write_spatial(df, out, "g", pm, extent=(0, 0, 10, 10))
    side = [f for f in _os.listdir(out) if f.endswith(".json")]
    assert side, _os.listdir(out)
    meta = _json.load(open(_os.path.join(out, side[0])))
    assert meta["max_half_w"] == 0.0 and meta["max_half_h"] == 0.0
