"""The reference's 18 geometry fixture files, for the golden tests.

6 geometry types × {WKT CSV, WKB Parquet, native Parquet}, with the null,
EMPTY and NaN rows of FIXTURES.md §1. ``refdata_dir()`` returns the
reference checkout's shipped ``data/`` directory when it holds all 18
files, and otherwise a temporary directory with the files built here from
the rows of FIXTURES.md. Nothing here imports the library under test: the
WKT strings are copied verbatim from FIXTURES.md (the golden tests read
their expected values from the CSVs), native coordinates are parsed from
them, and WKB is packed by hand.
"""

import atexit
import csv
import functools
import json
import math
import os
import re
import shutil
import struct
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

# the reference repo checked out beside this one (`<parent>/reference/data`)
SHIPPED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
    "data",
)

# FIXTURES.md §1 "Exact WKT row values", in row order (None = null row)
ROWS = {
    "point": [
        "POINT (30 10)",
        "POINT EMPTY",
        None,
        "POINT (40 40)",
    ],
    "linestring": [
        "LINESTRING (30 10, 10 30, 40 40)",
        "LINESTRING EMPTY",
        None,
    ],
    "polygon": [
        "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
        "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))",
        "POLYGON EMPTY",
        None,
    ],
    "multipoint": [
        "MULTIPOINT ((30 10))",
        "MULTIPOINT ((10 40), (40 30), (20 20), (30 10))",
        "MULTIPOINT EMPTY",
        None,
    ],
    "multilinestring": [
        "MULTILINESTRING ((30 10, 10 30, 40 40))",
        "MULTILINESTRING ((10 10, 20 20, 10 40), (40 40, 30 30, 40 20, 30 10))",
        "MULTILINESTRING EMPTY",
        None,
    ],
    "multipolygon": [
        "MULTIPOLYGON (((30 10, 40 40, 20 40, 10 20, 30 10)))",
        "MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)), ((15 5, 40 10, 10 20, 5 10, 15 5)))",
        "MULTIPOLYGON (((40 40, 20 45, 45 30, 40 40)), ((20 35, 10 30, 10 10, 30 5, 45 20, 20 35), (30 20, 20 15, 20 25, 30 20)))",
        "MULTIPOLYGON EMPTY",
        None,
    ],
}
TYPES = tuple(ROWS)
TYPE_NAME = {
    "point": "Point",
    "linestring": "LineString",
    "polygon": "Polygon",
    "multipoint": "MultiPoint",
    "multilinestring": "MultiLineString",
    "multipolygon": "MultiPolygon",
}
# list levels above the coordinate struct in the native encoding
DEPTH = {
    "point": 0,
    "linestring": 1,
    "polygon": 2,
    "multipoint": 1,
    "multilinestring": 2,
    "multipolygon": 3,
}
WKB_CODE = {t: i + 1 for i, t in enumerate(TYPES)}

COORD = pa.struct(
    [
        pa.field("x", pa.float64(), nullable=False),
        pa.field("y", pa.float64(), nullable=False),
    ]
)


def file_names(typ):
    return (
        f"data-{typ}-wkt.csv",
        f"data-{typ}-encoding_wkb.parquet",
        f"data-{typ}-encoding_native.parquet",
    )


ALL_FILES = tuple(n for t in TYPES for n in file_names(t))


def native_type(typ):
    t = COORD
    for _ in range(DEPTH[typ]):
        t = pa.list_(t)
    return t


def parse_wkt(typ, wkt):
    """Native value of one row: ``{"x", "y"}`` dicts nested in lists,
    ``DEPTH[typ]`` levels deep; POINT EMPTY is ``x = y = NaN``."""
    if wkt is None:
        return None
    name, body = wkt.split(" ", 1)
    assert name == typ.upper(), wkt
    if body == "EMPTY":
        return {"x": math.nan, "y": math.nan} if typ == "point" else []
    nested = json.loads(
        re.sub(r"(-?[\d.]+) (-?[\d.]+)", r"[\1, \2]", body)
        .replace("(", "[")
        .replace(")", "]")
    )
    if typ == "multipoint":  # ((x y), ...): one parenthesised coord per point
        nested = [p[0] for p in nested]
    elif typ == "point":
        nested = nested[0]

    def to_native(v, depth):
        if depth == 0:
            return {"x": float(v[0]), "y": float(v[1])}
        return [to_native(c, depth - 1) for c in v]

    return to_native(nested, DEPTH[typ])


def format_wkt(typ, value):
    """WKT of a native value, in FIXTURES.md's formatting (``30``, not
    ``30.0``)."""
    if value is None:
        return None
    name = typ.upper()
    if typ == "point":
        if math.isnan(value["x"]) and math.isnan(value["y"]):
            return f"{name} EMPTY"
    elif not value:
        return f"{name} EMPTY"

    def coord(c):
        return f"{c['x']:g} {c['y']:g}"

    def seq(v, depth):
        if depth == 0:
            return coord(v)
        return "(" + ", ".join(seq(c, depth - 1) for c in v) + ")"

    if typ == "point":
        return f"{name} ({coord(value)})"
    if typ == "multipoint":
        return f"{name} (" + ", ".join(f"({coord(c)})" for c in value) + ")"
    return f"{name} {seq(value, DEPTH[typ])}"


def _wkb_coords(coords):
    return struct.pack("<I", len(coords)) + b"".join(
        struct.pack("<dd", c["x"], c["y"]) for c in coords
    )


def to_wkb(typ, value):
    """ISO little-endian WKB of a non-null native value."""
    head = struct.pack("<BI", 1, WKB_CODE[typ])
    if typ == "point":
        return head + struct.pack("<dd", value["x"], value["y"])
    if typ == "linestring":
        return head + _wkb_coords(value)
    count = struct.pack("<I", len(value))
    if typ == "polygon":
        return head + count + b"".join(map(_wkb_coords, value))
    part = typ[len("multi"):]
    return head + count + b"".join(to_wkb(part, v) for v in value)


def geo_metadata(typ, encoding):
    return {
        b"geo": json.dumps(
            {
                "version": "1.1.0",
                "primary_column": "geometry",
                "columns": {
                    "geometry": {
                        "encoding": encoding,
                        "geometry_types": [TYPE_NAME[typ]],
                    }
                },
            }
        ).encode()
    }


def build(out_dir):
    """Write the 18 fixture files into ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for typ, wkts in ROWS.items():
        csv_name, wkb_name, native_name = file_names(typ)
        with open(os.path.join(out_dir, csv_name), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["col", "geometry"])
            w.writerows((i, "" if s is None else s) for i, s in enumerate(wkts))
        col = pa.array(range(len(wkts)), type=pa.int64())
        values = [parse_wkt(typ, s) for s in wkts]
        wkbs = [None if v is None else to_wkb(typ, v) for v in values]
        for name, encoding, arr in (
            (wkb_name, "WKB", pa.array(wkbs, pa.binary())),
            (native_name, typ, pa.array(values, native_type(typ))),
        ):
            tbl = pa.table({"col": col, "geometry": arr})
            tbl = tbl.replace_schema_metadata(geo_metadata(typ, encoding))
            pq.write_table(tbl, os.path.join(out_dir, name))
    return out_dir


def shipped_complete():
    return all(os.path.isfile(os.path.join(SHIPPED, n)) for n in ALL_FILES)


@functools.cache
def refdata_dir():
    """Directory of the 18 fixture files: the shipped ones when all are
    present, else files built once per process in a temporary directory."""
    if shipped_complete():
        return SHIPPED
    out = tempfile.mkdtemp(prefix="refdata-")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return build(out)
