"""Golden e2e tests on the reference's fixtures (the shipped files when
present, else built by ``refdata`` from FIXTURES.md §1, read-only): 6
geometry types × {native, WKB} parquet + WKT csv. Strategy per SURVEY §5:
exact WKT goldens (oracle formatting), cross-encoding invariance,
null/EMPTY/NaN edge rows, ST_Extent hand-computed values (FIXTURES.md)."""

import csv
import math

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta
from datafusion_spatial_spark.functions import (
    st_astext,
    st_bbox,
    st_dimension,
    st_envelope,
    st_extent,
    st_geometrytype,
    st_isempty,
    st_npoints,
)
from datafusion_spatial_spark.functions.scalar import envelope_astext
from datafusion_spatial_spark import wkb as wkbmod

from refdata import refdata_dir

TYPES = ["point", "linestring", "polygon", "multipoint", "multilinestring", "multipolygon"]

# reference ST_Extent goldens (FIXTURES.md; computable by hand from the CSVs)
EXTENTS = {
    "point": (30.0, 10.0, 40.0, 40.0),
    "linestring": (10.0, 10.0, 40.0, 40.0),
    "polygon": (10.0, 10.0, 45.0, 45.0),
    "multipoint": (10.0, 10.0, 40.0, 40.0),
    "multilinestring": (10.0, 10.0, 40.0, 40.0),
    "multipolygon": (5.0, 5.0, 45.0, 45.0),
}


def csv_wkts(typ: str) -> list[str | None]:
    """Expected WKT per row, from the reference's WKT csv (empty cell = null),
    normalized to oracle float formatting via our parser."""
    out = []
    with open(f"{refdata_dir()}/data-{typ}-wkt.csv") as f:
        for row in csv.DictReader(f):
            t = row["geometry"]
            out.append(wkbmod.to_wkt(wkbmod.from_wkt(t)) if t else None)
    return out


@pytest.fixture(scope="module", params=["native", "wkb"])
def encoding(request):
    return request.param


def load(spark, typ, encoding):
    df = read_geoparquet(
        spark, f"{refdata_dir()}/data-{typ}-encoding_{encoding}.parquet"
    )
    meta = resolve_meta(df, "geometry")
    if encoding == "wkb":
        assert meta.is_wkb
    else:
        assert meta.is_native and meta.native_type.lower() == typ
    return df, meta


@pytest.mark.parametrize("typ", TYPES)
def test_st_astext_golden(spark, typ, encoding):
    df, meta = load(spark, typ, encoding)
    got = [
        r.wkt
        for r in df.select(st_astext("geometry", meta).alias("wkt"))
        .orderBy("col")
        .collect()
    ]
    assert got == csv_wkts(typ)


@pytest.mark.parametrize("typ", TYPES)
def test_st_geometrytype(spark, typ, encoding):
    df, meta = load(spark, typ, encoding)
    rows = (
        df.select("geometry", st_geometrytype("geometry", meta).alias("t"))
        .orderBy("col")
        .collect()
    )
    expected_name = "ST_" + {
        "point": "Point",
        "linestring": "LineString",
        "polygon": "Polygon",
        "multipoint": "MultiPoint",
        "multilinestring": "MultiLineString",
        "multipolygon": "MultiPolygon",
    }[typ]
    for r in rows:
        if r.geometry is None:
            assert r.t is None
        else:
            assert r.t == expected_name


@pytest.mark.parametrize("typ", TYPES)
def test_st_envelope_and_bbox(spark, typ, encoding):
    df, meta = load(spark, typ, encoding)
    rows = (
        df.select(
            "geometry",
            st_envelope("geometry", meta).alias("env"),
            st_bbox("geometry", meta).alias("bbox"),
            st_astext("geometry", meta).alias("wkt"),
        )
        .orderBy("col")
        .collect()
    )
    for r in rows:
        if r.wkt is None:
            assert r.env is None and r.bbox is None
            continue
        g = wkbmod.from_wkt(r.wkt)
        want_ring = wkbmod.envelope_ring(g)
        if not want_ring:
            assert r.env == [] and r.bbox is None
            continue
        got_ring = [(p.x, p.y) for p in r.env[0]]
        assert got_ring == want_ring
        assert (r.bbox.xmin, r.bbox.ymin, r.bbox.xmax, r.bbox.ymax) == wkbmod.bbox(g)


@pytest.mark.parametrize("typ", TYPES)
def test_st_extent_golden(spark, typ, encoding):
    df, meta = load(spark, typ, encoding)
    ext = df.agg(st_extent("geometry", meta).alias("extent")).collect()[0].extent
    assert (ext.xmin, ext.ymin, ext.xmax, ext.ymax) == EXTENTS[typ]


def test_st_extent_all_null(spark):
    df, meta = load(spark, "point", "native")
    ext = (
        df.filter(F.col("geometry").isNull())
        .agg(st_extent("geometry", meta).alias("extent"))
        .collect()[0]
        .extent
    )
    assert ext is None  # NULL struct, not MAX/MIN sentinel (SURVEY §7)


@pytest.mark.parametrize("typ", TYPES)
def test_cross_encoding_invariant(spark, typ):
    """WKB and native encodings of the same table must agree on every
    function (SURVEY §5c)."""
    dfn, mn = load(spark, typ, "native")
    dfw, mw = load(spark, typ, "wkb")

    def snap(df, m):
        return (
            df.select(
                F.col("col"),
                st_astext("geometry", m).alias("wkt"),
                st_geometrytype("geometry", m).alias("t"),
                st_bbox("geometry", m).alias("b"),
                st_isempty("geometry", m).alias("e"),
                st_npoints("geometry", m).alias("np"),
                st_dimension("geometry", m).alias("d"),
            )
            .orderBy("col")
            .collect()
        )

    assert snap(dfn, mn) == snap(dfw, mw)


def test_envelope_astext_fused(spark):
    df, meta = load(spark, "polygon", "native")
    rows = df.select(envelope_astext("geometry", meta).alias("w")).orderBy("col").collect()
    assert rows[0].w == "POLYGON ((10 10, 40 10, 40 40, 10 40, 10 10))"
    assert rows[2].w == "POLYGON EMPTY"
    assert rows[3].w is None


def test_point_empty_nan_handling(spark):
    df, meta = load(spark, "point", "native")
    rows = df.select(
        st_isempty("geometry", meta).alias("e"),
        st_npoints("geometry", meta).alias("np"),
    ).orderBy("col").collect()
    # rows: POINT(30 10), POINT EMPTY, null, POINT(40 40)
    assert [r.e for r in rows] == [False, True, None, False]
    assert [r.np for r in rows] == [1, 0, None, 1]


def test_meta_survives_transformations(spark):
    """SURVEY §7 risk: StructField.metadata must survive common DataFrame
    transformations so resolve_meta keeps working downstream."""
    df = read_geoparquet(spark, f"{refdata_dir()}/data-point-encoding_native.parquet")
    m0 = resolve_meta(df, "geometry")
    # select / filter / limit keep field metadata
    sel = df.select("col", "geometry").filter(F.col("col") >= 0).limit(10)
    assert resolve_meta(sel, "geometry").encoding == m0.encoding
    # withColumn on a different column keeps it
    wc = df.withColumn("extra", F.lit(1))
    assert resolve_meta(wc, "geometry").geometry_types == m0.geometry_types
    # union of two metadata-carrying frames: sniff fallback still resolves
    un = df.union(df)
    mu = resolve_meta(un, "geometry")
    assert mu.native_type == "Point"
    # alias rename drops nothing
    ali = df.select(F.col("geometry").alias("geom2"), "col")
    m2 = resolve_meta(ali, "geom2")
    assert m2.native_type == "Point"  # via metadata or structural sniff


def test_npoints_nested_geometrycollection(spark):
    """Regression: npoints must recurse through a GeometryCollection nested
    inside a GeometryCollection (WKB path)."""
    from datafusion_spatial_spark import wkb as W
    from datafusion_spatial_spark.meta import GeometryMeta

    g = W.from_wkt(
        "GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION ("
        "LINESTRING (0 0, 1 1), GEOMETRYCOLLECTION (POINT (5 5))))"
    )
    df = spark.createDataFrame([(W.dumps(g),)], "geometry binary")
    meta = GeometryMeta(encoding="WKB")
    assert df.select(st_npoints("geometry", meta).alias("np")).collect()[0].np == 4
