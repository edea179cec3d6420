"""Scalar ``st_*`` functions.

Each function takes ``(col, meta)`` — the expression-construction-time analog
of the reference's analyzer-injected ``(geom, type_lit, encoding_lit)``
signature (reference src/rules.rs:62-116; declared Any(1)|Any(3) in e.g.
src/udfs/geometry_type.rs:29-35). ``meta`` comes from
:func:`datafusion_spatial_spark.meta.resolve_meta`.

Two execution paths, chosen by ``meta.encoding``:

* **native** (GeoArrow-style nested arrays): pure Catalyst — higher-order
  functions (`transform`/`filter`/`flatten`/`array_min`) run inside
  whole-stage codegen with zero (de)serialization, the Spark analog of the
  reference's zero-copy coord-slice walking (src/udfs/envelope.rs:230-326).
* **WKB** (opaque binary): Arrow-batched pandas UDFs over the clean-room
  codec in :mod:`datafusion_spatial_spark.wkb` — the analog of the
  reference's per-batch ``invoke(ColumnarValue)`` (src/udfs/as_text.rs:73).

Scale note: at 100 TB keep geometry native-encoded; every function below is
then JVM-only. The WKB path exists for interop and costs one JVM→Python Arrow
hop per batch.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_spatial_spark import wkb as _wkb
from datafusion_spatial_spark.exprlit import col_sql
from datafusion_spatial_spark.meta import (
    NESTING_DEPTH,
    GeometryMeta,
    coord_struct_type,
    to_separated,
)

ENVELOPE_META = GeometryMeta(encoding="polygon", geometry_types=("Polygon",))
POINT_META = GeometryMeta(encoding="point", geometry_types=("Point",))

_POLYGON_TYPE = T.ArrayType(T.ArrayType(coord_struct_type(), False), False)
_BBOX_TYPE = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)
_BBOX_SQL_TYPE = "STRUCT<xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# number / WKT formatting (oracle-style: "30" not "30.0" — SURVEY §7)

_FMT_PRECISION = 8


def fmt_coord_num(c: Column) -> Column:
    """Format a double like DuckDB/PostGIS WKT output: fixed precision with
    trailing zeros (and a bare trailing dot) trimmed."""
    return F.regexp_replace(
        F.format_string(f"%.{_FMT_PRECISION}f", c), r"\.?0+$", ""
    )


def _coord_txt(c: Column, has_z: bool = False, has_m: bool = False) -> Column:
    parts = [fmt_coord_num(c["x"]), F.lit(" "), fmt_coord_num(c["y"])]
    if has_z:
        parts += [F.lit(" "), fmt_coord_num(c["z"])]
    if has_m:
        parts += [F.lit(" "), fmt_coord_num(c["m"])]
    return F.concat(*parts)


def _seq_txt(arr: Column, has_z: bool = False, has_m: bool = False) -> Column:
    """array<coord> -> "x y, x y, ..." """
    return F.array_join(
        F.transform(arr, lambda c: _coord_txt(c, has_z, has_m)), ", "
    )


def _ring_txt(arr: Column, has_z: bool = False, has_m: bool = False) -> Column:
    return F.concat(F.lit("("), _seq_txt(arr, has_z, has_m), F.lit(")"))


# ---------------------------------------------------------------------------
# coords normalization (native encodings)


def _native_coords(col: Column, meta: GeometryMeta) -> Column:
    """Flatten a native geometry to array<coord>, NaN coords removed (the
    empty-point convention, reference src/compute.rs:52-65)."""
    depth = NESTING_DEPTH[meta.native_type]
    c = col
    if depth == 0:
        c = F.array(col)
    elif depth == 2:
        c = F.flatten(col)
    elif depth == 3:
        c = F.flatten(F.flatten(col))
    return F.filter(
        c, lambda p: ~(F.isnan(p["x"]) | F.isnan(p["y"]))
    )


def _is_native_empty(col: Column, meta: GeometryMeta) -> Column:
    if meta.native_type == "Point":
        return F.isnan(col["x"]) | F.isnan(col["y"])
    return F.size(col) == 0


# ---------------------------------------------------------------------------
# ST_GeometryType


def st_geometrytype(col: Column | str, meta: GeometryMeta) -> Column:
    """Per-row ``"ST_<Type>"`` string.

    Native path is metadata-only (no row data read) with nulls preserved —
    exactly the reference's native behavior (src/udfs/geometry_type.rs:94-110).
    WKB path decodes each header (geometry_type.rs:119-146).
    """
    col = _c(col)
    if meta.is_wkb:
        return _wkb_geometrytype_udf(col)
    # metadata-supplied name, Z suffix included — "ST_" + type.replace(' ','')
    # exactly as the reference formats it (geometry_type.rs:94-110)
    tname = meta.geometry_type
    if tname in ("Unknown", "Mixed"):
        tname = meta.native_type
    name = "ST_" + tname.replace(" ", "")
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(F.lit(name))


@F.pandas_udf(T.StringType())
def _wkb_geometrytype_udf(s: pd.Series) -> pd.Series:
    def one(b):
        if b is None:
            return None
        return "ST_" + _wkb.header_type_name(bytes(b)).replace(" ", "")

    return s.map(one, na_action="ignore")


# ---------------------------------------------------------------------------
# ST_AsText


def st_astext(col: Column | str, meta: GeometryMeta) -> Column:
    """Geometry → WKT (reference src/udfs/as_text.rs + src/wkt/*). Native
    encodings build the string fully in Catalyst; WKB goes through the codec
    UDF. Formatting matches the DuckDB oracle, not the reference's Rust
    ``{:?}`` quirk (SURVEY §7)."""
    col = _c(col)
    if meta.is_wkb:
        return _wkb_astext_udf(col)
    col, meta = to_separated(col, meta)
    t = meta.native_type
    z, m = meta.has_z, meta.has_m
    ztok = " ZM" if (z and m) else (" Z" if z else (" M" if m else ""))
    upper = t.upper() + ztok
    empty = F.lit(f"{upper} EMPTY")
    if t == "Point":
        body = F.concat(F.lit(f"POINT{ztok} ("), _coord_txt(col, z, m), F.lit(")"))
    elif t in ("LineString",):
        body = F.concat(F.lit(f"{upper} ("), _seq_txt(col, z, m), F.lit(")"))
    elif t == "MultiPoint":
        # parenthesized members: MULTIPOINT ((30 10), (10 40))
        body = F.concat(
            F.lit(f"MULTIPOINT{ztok} ("),
            F.array_join(
                F.transform(
                    col,
                    lambda p: F.concat(F.lit("("), _coord_txt(p, z, m), F.lit(")")),
                ),
                ", ",
            ),
            F.lit(")"),
        )
    elif t in ("Polygon", "MultiLineString"):
        body = F.concat(
            F.lit(f"{upper} ("),
            F.array_join(F.transform(col, lambda r: _ring_txt(r, z, m)), ", "),
            F.lit(")"),
        )
    elif t == "MultiPolygon":
        poly_txt = lambda poly: F.concat(  # noqa: E731
            F.lit("("),
            F.array_join(F.transform(poly, lambda r: _ring_txt(r, z, m)), ", "),
            F.lit(")"),
        )
        body = F.concat(
            F.lit(f"MULTIPOLYGON{ztok} ("),
            F.array_join(F.transform(col, poly_txt), ", "),
            F.lit(")"),
        )
    else:
        raise ValueError(f"unsupported native type {t}")
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(_is_native_empty(col, meta), empty)
        .otherwise(body)
    )


@F.pandas_udf(T.StringType())
def _wkb_astext_udf(s: pd.Series) -> pd.Series:
    def one(b):
        if b is None:
            return None
        return _wkb.to_wkt(_wkb.loads(bytes(b)))

    return s.map(one, na_action="ignore")


# ---------------------------------------------------------------------------
# ST_Envelope


def st_envelope(col: Column | str, meta: GeometryMeta) -> Column:
    """Axis-aligned bounding box as a native separated-coord XY Polygon —
    always a Polygon regardless of input, the reference's return convention
    (src/udfs/envelope.rs:66-80). Ring order: (xmin,ymin),(xmax,ymin),
    (xmax,ymax),(xmin,ymax),(xmin,ymin) (envelope.rs:338-350). Empty (or
    NaN empty-point) input → empty polygon (envelope.rs:235-240,329-336).
    """
    col = _c(col)
    if meta.is_wkb:
        return _wkb_envelope_udf(col)
    col, meta = to_separated(col, meta)
    coords = _native_coords(col, meta)
    xs = F.transform(coords, lambda p: p["x"])
    ys = F.transform(coords, lambda p: p["y"])
    ring = _bbox_ring(
        F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys)
    )
    empty_poly = F.array().cast(_POLYGON_TYPE)
    return (
        F.when(col.isNull(), F.lit(None).cast(_POLYGON_TYPE))
        .when(F.size(coords) == 0, empty_poly)
        .otherwise(F.array(ring))
    )


def _bbox_ring(xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    def pt(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return F.array(
        pt(xmin, ymin), pt(xmax, ymin), pt(xmax, ymax), pt(xmin, ymax), pt(xmin, ymin)
    )


@F.pandas_udf(_POLYGON_TYPE)
def _wkb_envelope_udf(s: pd.Series) -> pd.Series:
    def one(b):
        if b is None:
            return None
        ring = _wkb.envelope_ring(_wkb.loads(bytes(b)))
        if not ring:
            return []
        return [[{"x": x, "y": y} for x, y in ring]]

    return s.map(one, na_action="ignore")


# ---------------------------------------------------------------------------
# ST_Bbox (building block for ST_Extent; also useful standalone)


def st_bbox(col: Column | str, meta: GeometryMeta) -> Column:
    """Per-row ``struct{xmin,ymin,xmax,ymax}``; null for null/empty input.
    The per-row half of the reference's min_max_2d fold (src/compute.rs:11-76).

    A native column given by name is rendered as SQL (:func:`bbox_sql`);
    the Column form below serves computed Column operands (nested
    SpatialSQL calls, ``envelope_astext``)."""
    if isinstance(col, str):
        if meta.is_native:
            # one F.expr: this builder sits on every spatial-join/extent
            # build path, and the Column form costs ~40 ms of py4j calls
            return F.expr(bbox_sql(col_sql(col), meta))
        col = F.col(col)
    if meta.is_wkb:
        # a pandas struct UDF can't emit a NULL struct (only null fields) —
        # normalize all-null rows to a NULL struct here
        b = _wkb_bbox_udf(col)
        return F.when(b["xmax"].isNull(), F.lit(None).cast(_BBOX_TYPE)).otherwise(b)
    col, meta = to_separated(col, meta)
    coords = _native_coords(col, meta)
    xs = F.transform(coords, lambda p: p["x"])
    ys = F.transform(coords, lambda p: p["y"])
    box = F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )
    return F.when(col.isNull() | (F.size(coords) == 0), F.lit(None).cast(_BBOX_TYPE)).otherwise(box)


def _separated_sql(g: str, meta: GeometryMeta) -> str:
    """SQL text of :func:`~datafusion_spatial_spark.meta.to_separated`."""
    if meta.coord_layout != "interleaved":
        return g
    names = ["x", "y"] + (["z"] if meta.has_z else []) + (["m"] if meta.has_m else [])

    def c2s(c: str) -> str:
        return "named_struct(" + ", ".join(
            f"'{n}', {c}[{i}]" for i, n in enumerate(names)
        ) + ")"

    depth = NESTING_DEPTH[meta.native_type]
    if depth == 0:
        fields = ", ".join(f"{n}: DOUBLE" for n in names)
        return f"CASE WHEN {g} IS NULL THEN CAST(NULL AS STRUCT<{fields}>) ELSE {c2s(g)} END"
    lam = f"__c -> {c2s('__c')}"
    for var in ("__r", "__q")[: depth - 1]:
        lam = f"{var} -> transform({var}, {lam})"
    return f"transform({g}, {lam})"


def bbox_sql(operand: str, meta: GeometryMeta) -> str:
    """SQL text of the native :func:`st_bbox` of ``operand`` (SQL text):
    the same expression tree the Column form builds, in one ``F.expr``."""
    g = _separated_sql(f"({operand})", meta)
    depth = NESTING_DEPTH[meta.native_type]
    flat = (f"array({g})", g, f"flatten({g})", f"flatten(flatten({g}))")[depth]
    coords = f"filter({flat}, __p -> NOT (isnan(__p.x) OR isnan(__p.y)))"
    xs = f"transform({coords}, __p -> __p.x)"
    ys = f"transform({coords}, __p -> __p.y)"
    return (
        f"CASE WHEN {g} IS NULL OR size({coords}) = 0 "
        f"THEN CAST(NULL AS {_BBOX_SQL_TYPE}) "
        f"ELSE struct(array_min({xs}) AS xmin, array_min({ys}) AS ymin, "
        f"array_max({xs}) AS xmax, array_max({ys}) AS ymax) END"
    )


@F.pandas_udf(_BBOX_TYPE)
def _wkb_bbox_udf(s: pd.Series) -> pd.DataFrame:
    from datafusion_spatial_spark.functions._fastpath import point_xy_batch

    fast = point_xy_batch(s)
    if fast is not None:
        # uniform 2-D point batch: bbox degenerates to the point itself;
        # invalid rows stay NaN and Arrow maps NaN -> null field (the
        # st_bbox wrapper then nulls the whole struct via xmax IS NULL)
        import numpy as np

        x, y, valid = fast
        x = np.where(valid, x, np.nan)
        y = np.where(valid, y, np.nan)
        return pd.DataFrame({"xmin": x, "ymin": y, "xmax": x, "ymax": y})
    from datafusion_spatial_spark.functions._fastpath import flat_coords_batch

    flat = flat_coords_batch(s)
    if flat is not None:
        # uniform LineString/Polygon/MultiPoint batch: one reduceat per
        # bound over the flat vertex stream instead of a Python parse per
        # row (rows with 0 vertices — null or EMPTY — stay NaN -> null)
        import numpy as np

        xs, ys, counts = flat
        nz = np.flatnonzero(counts > 0)
        out = np.full((len(s), 4), np.nan)
        if nz.size:
            offs = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
            # fmin/fmax (not minimum/maximum): a NaN vertex (EMPTY member
            # inside a multi-geometry) must be EXCLUDED, matching the
            # per-row wkb.bbox slow path — all-NaN rows stay NaN -> null
            out[nz, 0] = np.fmin.reduceat(xs, offs)
            out[nz, 1] = np.fmin.reduceat(ys, offs)
            out[nz, 2] = np.fmax.reduceat(xs, offs)
            out[nz, 3] = np.fmax.reduceat(ys, offs)
        return pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])
    rows = []
    for b in s:
        if b is None or (isinstance(b, float) and pd.isna(b)):
            rows.append((None, None, None, None))
            continue
        bb = _wkb.bbox(_wkb.loads(bytes(b)))
        rows.append(bb if bb else (None, None, None, None))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


# ---------------------------------------------------------------------------
# simple accessors / constructors


def st_point(x: Column | str, y: Column | str) -> Column:
    """Construct a native separated-coord Point from two doubles."""
    return F.struct(
        _c(x).cast("double").alias("x"), _c(y).cast("double").alias("y")
    )


def st_x(col: Column | str, meta: GeometryMeta = POINT_META) -> Column:
    if meta.is_wkb:
        return _wkb_x_udf(_c(col))
    col, meta = to_separated(_c(col), meta)
    return col["x"]


def st_y(col: Column | str, meta: GeometryMeta = POINT_META) -> Column:
    if meta.is_wkb:
        return _wkb_y_udf(_c(col))
    col, meta = to_separated(_c(col), meta)
    return col["y"]


def _pt_xy(b, i: int):
    # non-point / EMPTY -> NULL, mirroring _pt_extra_dim (r12 fuzz: the
    # unguarded coords[i] returned a RING for polygons and crashed the
    # Arrow double cast mid-job)
    g = _wkb.loads(bytes(b))
    if g.type_name != "Point" or g.is_empty:
        return None
    return g.coords[i]


@F.pandas_udf(T.DoubleType())
def _wkb_x_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: _pt_xy(b, 0) if b is not None else None,
        na_action="ignore",
    )


@F.pandas_udf(T.DoubleType())
def _wkb_y_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: _pt_xy(b, 1) if b is not None else None,
        na_action="ignore",
    )


def st_z(col: Column | str, meta: GeometryMeta = POINT_META) -> Column:
    """Z of a point, NULL when the geometry has no Z (PostGIS ST_Z)."""
    if meta.is_wkb:
        return _wkb_z_udf(_c(col))
    col, meta = to_separated(_c(col), meta)
    if not meta.has_z:
        return F.lit(None).cast("double")
    return col["z"]


def st_m(col: Column | str, meta: GeometryMeta = POINT_META) -> Column:
    """M of a point, NULL when the geometry carries no measure (ST_M)."""
    if meta.is_wkb:
        return _wkb_m_udf(_c(col))
    col, meta = to_separated(_c(col), meta)
    if not meta.has_m:
        return F.lit(None).cast("double")
    return col["m"]


def _pt_extra_dim(b, want: str):
    g = _wkb.loads(bytes(b))
    if g.type_name != "Point" or g.is_empty:
        return None
    if want == "z":
        return g.coords[2] if g.has_z else None
    if not g.has_m:
        return None
    return g.coords[3] if g.has_z else g.coords[2]


@F.pandas_udf(T.DoubleType())
def _wkb_z_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: _pt_extra_dim(b, "z") if b is not None else None,
        na_action="ignore",
    )


@F.pandas_udf(T.DoubleType())
def _wkb_m_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: _pt_extra_dim(b, "m") if b is not None else None,
        na_action="ignore",
    )


def st_isempty(col: Column | str, meta: GeometryMeta) -> Column:
    """README.md:13. Native: pure SQL on sizes / NaN; WKB: codec UDF."""
    col = _c(col)
    if meta.is_wkb:
        return _wkb_isempty_udf(col)
    col, meta = to_separated(col, meta)
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
        _is_native_empty(col, meta)
    )


@F.pandas_udf(T.BooleanType())
def _wkb_isempty_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: _wkb.loads(bytes(b)).is_empty if b is not None else None,
        na_action="ignore",
    )


_DIMENSION = {
    "Point": 0,
    "MultiPoint": 0,
    "LineString": 1,
    "MultiLineString": 1,
    "Polygon": 2,
    "MultiPolygon": 2,
    "GeometryCollection": 2,
}


def st_dimension(col: Column | str, meta: GeometryMeta) -> Column:
    """README.md:8 — topological dimension."""
    col = _c(col)
    if meta.is_wkb:
        return _wkb_dimension_udf(col)
    return F.when(col.isNull(), F.lit(None).cast("int")).otherwise(
        F.lit(_DIMENSION[meta.native_type])
    )


@F.pandas_udf(T.IntegerType())
def _wkb_dimension_udf(s: pd.Series) -> pd.Series:
    def one(b):
        if b is None:
            return None
        return _DIMENSION[_wkb.loads(bytes(b)).type_name]

    return s.map(one, na_action="ignore")


def st_srid(col: Column | str, meta: GeometryMeta) -> Column:
    """README.md:12 — SRID from the ``geo`` metadata ``crs`` (0 when
    unset, matching PostGIS's unknown-SRID convention)."""
    srid = 0
    if meta.crs:
        # GeoParquet crs is PROJJSON; accept "EPSG:4326"-style strings too
        s = str(meta.crs)
        if ":" in s and s.split(":")[-1].isdigit():
            srid = int(s.split(":")[-1])
    return F.when(_c(col).isNull(), F.lit(None).cast("int")).otherwise(F.lit(srid))


def st_npoints(col: Column | str, meta: GeometryMeta) -> Column:
    """Total vertex count (PostGIS ST_NPoints)."""
    col = _c(col)
    if meta.is_wkb:
        return _wkb_npoints_udf(col)
    col, meta = to_separated(col, meta)
    if meta.native_type == "Point":
        return F.when(col.isNull(), F.lit(None).cast("int")).otherwise(
            F.when(_is_native_empty(col, meta), F.lit(0)).otherwise(F.lit(1))
        )
    coords = _native_coords(col, meta)
    return F.when(col.isNull(), F.lit(None).cast("int")).otherwise(F.size(coords))


@F.pandas_udf(T.IntegerType())
def _wkb_npoints_udf(s: pd.Series) -> pd.Series:
    def count(coords):
        if coords is None:
            return 0
        if isinstance(coords, tuple):
            return 0 if any(v != v for v in coords) else 1
        if isinstance(coords, _wkb.Geom):  # collection member (arbitrary depth)
            return count(coords.coords)
        return sum(count(c) for c in coords)

    def one(b):
        if b is None:
            return None
        return count(_wkb.loads(bytes(b)).coords)

    return s.map(one, na_action="ignore")


def st_asbinary(col: Column | str, meta: GeometryMeta) -> Column:
    """README.md:11 — geometry → ISO WKB. WKB input is the identity;
    native input crosses to Python via the flat-offsets transport
    (predicates._prep — ragged nested arrays cannot cross the Arrow→pandas
    bridge directly) and is serialized by the codec."""
    col = _c(col)
    if meta.is_wkb:
        return col
    from datafusion_spatial_spark.functions.predicates import _as_rows, _converter, _prep

    conv = _converter(meta)

    @F.pandas_udf(T.BinaryType())
    def to_wkb(s: pd.Series) -> pd.Series:
        out = []
        for v in _as_rows(s):
            g = conv(v)
            out.append(None if g is None else _wkb.dumps(g))
        return pd.Series(out, dtype="object")

    return to_wkb(_prep(col, meta))


def st_geomfromtext(col: Column | str) -> Column:
    """WKT string → ISO WKB binary (pair with GeometryMeta("WKB"))."""
    return _wkt_to_wkb_udf(_c(col))


def st_geomfromgeojson(col: Column | str) -> Column:
    """GeoJSON geometry text → ISO WKB binary (pair with
    GeometryMeta("WKB")). RFC 7946; extension beyond the reference's
    surface (PostGIS ST_GeomFromGeoJSON parity)."""

    @F.pandas_udf(T.BinaryType())
    def conv(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: _wkb.dumps(_wkb.from_geojson(v)) if v is not None else None,
            na_action="ignore",
        )

    return conv(_c(col))


def st_asgeojson(col: Column | str, meta: GeometryMeta) -> Column:
    """Geometry → GeoJSON text (PostGIS ST_AsGeoJSON parity; M dropped)."""
    col = _c(col)
    from datafusion_spatial_spark.functions.predicates import _as_rows, _converter, _prep

    conv = _converter(meta)

    @F.pandas_udf(T.StringType())
    def to_gj(s: pd.Series) -> pd.Series:
        out = []
        for v in _as_rows(s):
            g = conv(v)
            out.append(None if g is None else _wkb.to_geojson(g))
        return pd.Series(out, dtype="object")

    return to_gj(_prep(col, meta))


@F.pandas_udf(T.BinaryType())
def _wkt_to_wkb_udf(s: pd.Series) -> pd.Series:
    def one(t):
        if t is None or (isinstance(t, float) and t != t) or t == "":
            return None
        return _wkb.dumps(_wkb.from_wkt(t))

    return s.map(one, na_action="ignore")


def st_astext_bbox(b: Column) -> Column:
    """bbox struct → 'POLYGON ((...))' WKT (envelope as text), pure SQL."""
    xmin, ymin, xmax, ymax = (fmt_coord_num(b[f]) for f in ("xmin", "ymin", "xmax", "ymax"))
    sp, cm = F.lit(" "), F.lit(", ")
    return F.concat(
        F.lit("POLYGON (("),
        xmin, sp, ymin, cm,
        xmax, sp, ymin, cm,
        xmax, sp, ymax, cm,
        xmin, sp, ymax, cm,
        xmin, sp, ymin,
        F.lit("))"),
    )


def envelope_astext(col: Column | str, meta: GeometryMeta) -> Column:
    """ST_AsText(ST_Envelope(geom)) without materializing the nested ring —
    the fused form used by the demo query (reference examples/main.rs:50)."""
    col = _c(col)
    b = st_bbox(col, meta)
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(b.isNull(), F.lit("POLYGON EMPTY"))
        .otherwise(st_astext_bbox(b))
    )


def st_makeenvelope(
    xmin: float, ymin: float, xmax: float, ymax: float, srid: int | None = None
) -> Column:
    """PostGIS ST_MakeEnvelope: a rectangular Polygon from literal bounds
    (WKB literal — folded at plan time, zero per-row cost)."""
    x0, y0, x1, y1 = (float(v) for v in (xmin, ymin, xmax, ymax))
    geom = _wkb.Geom(
        "Polygon",
        [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]],
        srid=int(srid) if srid is not None else None,
    )
    return F.lit(_wkb.dumps(geom))
