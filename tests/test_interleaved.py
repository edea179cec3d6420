"""Interleaved-coordinate native encoding (``fixed_size_list<double>[2]`` →
Spark ``array<double>``): cross-encoding invariance tests.

The reference sniffs both coord layouts structurally (helpers.rs:49-71) and
computes over interleaved buffers (compute.rs:19-44 chunk-by-D fold). Here
interleaved twins of the 6 reference fixture tables are generated with
pyarrow and every core function must agree bit-for-bit across WKB ≡
separated ≡ interleaved.
"""

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta
from datafusion_spatial_spark.functions import st_astext, st_extent
from datafusion_spatial_spark.functions.predicates import st_area
from datafusion_spatial_spark.functions.scalar import st_envelope, st_npoints
from datafusion_spatial_spark.meta import NESTING_DEPTH

from refdata import refdata_dir

TYPES = [
    "point", "linestring", "polygon",
    "multipoint", "multilinestring", "multipolygon",
]
_TYPE_NAME = {
    "point": "Point", "linestring": "LineString", "polygon": "Polygon",
    "multipoint": "MultiPoint", "multilinestring": "MultiLineString",
    "multipolygon": "MultiPolygon",
}


def _interleave(v, depth):
    if v is None:
        return None
    if depth == 0:
        return [v["x"], v["y"]]
    return [_interleave(x, depth - 1) for x in v]


@pytest.fixture(scope="module")
def twin_dir(tmp_path_factory):
    """Interleaved twins of the reference native fixtures, preserving the
    ``geo`` footer metadata."""
    out = tmp_path_factory.mktemp("interleaved")
    for t in TYPES:
        src = f"{refdata_dir()}/data-{t}-encoding_native.parquet"
        tbl = pq.read_table(src)
        depth = NESTING_DEPTH[_TYPE_NAME[t]]
        # plain list rather than fixed_size_list: parquet cannot encode
        # fixed-size lists with null slots, and Spark surfaces both as
        # array<double> — the layout under test is identical
        typ = pa.list_(pa.float64())
        for _ in range(depth):
            typ = pa.list_(typ)
        vals = [_interleave(v, depth) for v in tbl.column("geometry").to_pylist()]
        arr = pa.array(vals, type=typ)
        idx = tbl.schema.get_field_index("geometry")
        tbl = tbl.set_column(idx, pa.field("geometry", typ), arr)
        tbl = tbl.replace_schema_metadata(pq.read_schema(src).metadata)
        pq.write_table(tbl, str(out / f"data-{t}-interleaved.parquet"))
    return out


def _frames(spark, twin_dir, t):
    sep = read_geoparquet(spark, f"{refdata_dir()}/data-{t}-encoding_native.parquet")
    il = read_geoparquet(spark, str(twin_dir / f"data-{t}-interleaved.parquet"))
    wk = read_geoparquet(spark, f"{refdata_dir()}/data-{t}-encoding_wkb.parquet")
    return (
        (sep, resolve_meta(sep, "geometry")),
        (il, resolve_meta(il, "geometry")),
        (wk, resolve_meta(wk, "geometry")),
    )


@pytest.mark.parametrize("t", TYPES)
def test_layout_sniffed(spark, twin_dir, t):
    il = read_geoparquet(spark, str(twin_dir / f"data-{t}-interleaved.parquet"))
    m = resolve_meta(il, "geometry")
    assert m.coord_layout == "interleaved"
    assert m.native_type == _TYPE_NAME[t]


@pytest.mark.parametrize("t", TYPES)
def test_astext_invariance(spark, twin_dir, t):
    (sep, ms), (il, mi), (wk, mw) = _frames(spark, twin_dir, t)

    def wkts(df, m):
        return [r.w for r in
                df.select(st_astext("geometry", m).alias("w")).collect()]

    a, b, c = wkts(sep, ms), wkts(il, mi), wkts(wk, mw)
    assert a == b == c


@pytest.mark.parametrize("t", TYPES)
def test_envelope_extent_invariance(spark, twin_dir, t):
    (sep, ms), (il, mi), (wk, mw) = _frames(spark, twin_dir, t)

    def env(df, m):
        e = st_envelope("geometry", m)
        from datafusion_spatial_spark.functions.scalar import ENVELOPE_META
        return [r.w for r in
                df.select(st_astext(e, ENVELOPE_META).alias("w")).collect()]

    assert env(sep, ms) == env(il, mi) == env(wk, mw)

    def ext(df, m):
        r = df.agg(st_extent("geometry", m).alias("e")).collect()[0].e
        return (r.xmin, r.ymin, r.xmax, r.ymax)

    assert ext(sep, ms) == ext(il, mi) == ext(wk, mw)


@pytest.mark.parametrize("t", ["polygon", "multipolygon"])
def test_area_and_npoints_invariance(spark, twin_dir, t):
    """The flat-offsets UDF transport must normalize interleaved input too."""
    (sep, ms), (il, mi), _ = _frames(spark, twin_dir, t)

    def areas(df, m):
        return [
            None if r.a is None else round(r.a, 9)
            for r in df.select(st_area("geometry", m).alias("a")).collect()
        ]

    def npts(df, m):
        return [r.n for r in
                df.select(st_npoints("geometry", m).alias("n")).collect()]

    assert areas(sep, ms) == areas(il, mi)
    assert npts(sep, ms) == npts(il, mi)
    assert any(a and a > 0 for a in areas(sep, ms))


def test_interleaved_xyz_with_declared_metadata(spark):
    """Interleaved arrays carry no length info in Spark, so XYZ needs
    declared 'Point Z'-style metadata; to_separated must then emit z."""
    from pyspark.sql import functions as F

    from datafusion_spatial_spark.functions import st_astext
    from datafusion_spatial_spark.functions.scalar import st_x, st_y
    from datafusion_spatial_spark.meta import GeometryMeta

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0]), (3, None)],
        "id long, g array<double>",
    )
    meta = GeometryMeta(
        encoding="point", geometry_types=("Point Z",), coord_layout="interleaved"
    )
    rows = df.select(
        "id",
        st_astext("g", meta).alias("w"),
        st_x("g", meta).alias("x"),
        st_y("g", meta).alias("y"),
    ).orderBy("id").collect()
    assert rows[0].w == "POINT Z (1 2 3)"
    assert rows[1].w == "POINT Z (4 5 6)"
    assert rows[2].w is None
    assert (rows[0].x, rows[0].y) == (1.0, 2.0)


def _write_undeclared(path, typ, vals, geom_types=("Point",), encoding="point"):
    """A parquet file whose footer declares ``encoding`` WITHOUT a
    dimension suffix, with interleaved coord data of the given arrow
    type — the shape the reference sniffs structurally (FixedSizeList[3],
    helpers.rs:49-71) but Spark erases."""
    import json

    arr = pa.array(vals, type=typ)
    tbl = pa.table({"id": pa.array(range(len(vals)), pa.int64()), "geometry": arr})
    geo = {
        "version": "1.1.0",
        "primary_column": "geometry",
        "columns": {
            "geometry": {"encoding": encoding, "geometry_types": list(geom_types)}
        },
    }
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(tbl, path)


class TestStructuralZSniff:
    """read_geoparquet recovers the interleaved tuple width the footer
    didn't declare (VERDICT r7 item 5)."""

    def test_fixed_size_list_xyz_schema_only(self, spark, tmp_path):
        # fixed_size_list survives into the parquet/arrow schema: the
        # probe needs zero data IO for this writer shape
        p = str(tmp_path / "fsl_xyz.parquet")
        _write_undeclared(
            p,
            pa.list_(pa.float64(), 3),
            [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]],
        )
        from datafusion_spatial_spark.sources.geoparquet import (
            sniff_interleaved_dims,
        )

        assert sniff_interleaved_dims(p, "geometry") == 3
        df = read_geoparquet(spark, p)
        m = resolve_meta(df, "geometry")
        assert m.has_z and not m.has_m
        w = df.select(st_astext("geometry", m).alias("w")).orderBy("w").collect()
        assert w[0].w == "POINT Z (1 2 3)"

    def test_plain_list_xyz_data_probe(self, spark, tmp_path):
        p = str(tmp_path / "list_xyz.parquet")
        _write_undeclared(
            p,
            pa.list_(pa.float64()),
            [[1.0, 2.0, 3.0], None, [4.0, 5.0, 6.0]],
        )
        df = read_geoparquet(spark, p)
        m = resolve_meta(df, "geometry")
        assert m.has_z and not m.has_m
        rows = df.select(st_astext("geometry", m).alias("w")).orderBy("id").collect()
        assert [r.w for r in rows] == [
            "POINT Z (1 2 3)", None, "POINT Z (4 5 6)",
        ]

    def test_zm_four_wide(self, spark, tmp_path):
        p = str(tmp_path / "fsl_zm.parquet")
        _write_undeclared(
            p, pa.list_(pa.float64(), 4), [[1.0, 2.0, 3.0, 4.0]]
        )
        df = read_geoparquet(spark, p)
        m = resolve_meta(df, "geometry")
        assert m.has_z and m.has_m
        assert (
            df.select(st_astext("geometry", m).alias("w")).first().w
            == "POINT ZM (1 2 3 4)"
        )

    def test_xy_unchanged(self, spark, tmp_path):
        p = str(tmp_path / "list_xy.parquet")
        _write_undeclared(p, pa.list_(pa.float64()), [[1.0, 2.0], [3.0, 4.0]])
        m = resolve_meta(read_geoparquet(spark, p), "geometry")
        assert not m.has_z and not m.has_m
        assert m.geometry_types == ("Point",)

    def test_declared_metadata_wins(self, spark, tmp_path):
        # footer already says M: 3-wide tuples must NOT be re-tagged Z
        p = str(tmp_path / "declared_m.parquet")
        _write_undeclared(
            p,
            pa.list_(pa.float64(), 3),
            [[1.0, 2.0, 9.0]],
            geom_types=("Point M",),
        )
        df = read_geoparquet(spark, p)
        m = resolve_meta(df, "geometry")
        assert m.has_m and not m.has_z
        assert (
            df.select(st_astext("geometry", m).alias("w")).first().w
            == "POINT M (1 2 9)"
        )

    def test_mixed_lengths_left_alone(self, spark, tmp_path):
        from datafusion_spatial_spark.sources.geoparquet import (
            sniff_interleaved_dims,
        )

        p = str(tmp_path / "mixed.parquet")
        _write_undeclared(
            p, pa.list_(pa.float64()), [[1.0, 2.0], [1.0, 2.0, 3.0]]
        )
        assert sniff_interleaved_dims(p, "geometry") is None
        m = resolve_meta(read_geoparquet(spark, p), "geometry")
        assert not m.has_z

    def test_nested_linestring_xyz(self, spark, tmp_path):
        # depth-1 nesting: list<list<double>> with 3-wide leaf tuples
        from datafusion_spatial_spark.functions.scalar import st_npoints

        p = str(tmp_path / "ls_xyz.parquet")
        _write_undeclared(
            p,
            pa.list_(pa.list_(pa.float64(), 3)),
            [[[0.0, 0.0, 1.0], [1.0, 1.0, 2.0]]],
            geom_types=("LineString",),
            encoding="linestring",
        )
        df = read_geoparquet(spark, p)
        m = resolve_meta(df, "geometry")
        assert m.has_z
        out = df.select(
            st_astext("geometry", m).alias("w"),
            st_npoints("geometry", m).alias("n"),
        ).first()
        assert out.w == "LINESTRING Z (0 0 1, 1 1 2)"
        assert out.n == 2
