"""The fixture files built by ``refdata`` stay faithful to FIXTURES.md §1
and, where the reference's shipped ``data/`` directory exists, to the
shipped files. Spark-free."""

import csv
import json
import math
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import refdata

FIXTURES_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "FIXTURES.md"
)


def fixtures_md_rows():
    """{type: [WKT or None]} from FIXTURES.md's "Exact WKT row values"."""
    with open(FIXTURES_MD) as f:
        block = f.read().split("### Exact WKT row values", 1)[1].split("```")[1]
    rows, typ = {}, None
    for line in block.strip("\n").splitlines():
        head, sep, rest = line.partition(":")
        if sep and head.strip() in refdata.TYPES:
            typ, line = head.strip(), rest
            rows[typ] = []
        rows[typ] += [
            None if c == "<null>" else c for c in (x.strip() for x in line.split(" | "))
        ]
    return rows


def read_wkb(buf):
    """(type, native value) of an ISO little-endian XY WKB buffer."""
    pos = 0

    def take(fmt):
        nonlocal pos
        vals = struct.unpack_from(fmt, buf, pos)
        pos += struct.calcsize(fmt)
        return vals

    def coords():
        (n,) = take("<I")
        return [dict(zip("xy", take("<dd"))) for _ in range(n)]

    def geom():
        order, code = take("<BI")
        assert order == 1, "little-endian"
        if code == 1:
            return code, dict(zip("xy", take("<dd")))
        if code == 2:
            return code, coords()
        if code == 3:
            (n,) = take("<I")
            return code, [coords() for _ in range(n)]
        (n,) = take("<I")
        parts = [geom() for _ in range(n)]
        assert all(c == code - 3 for c, _ in parts), "multi-part child type"
        return code, [v for _, v in parts]

    code, value = geom()
    assert pos == len(buf), "trailing bytes"
    return refdata.TYPES[code - 1], value


def canon(v):
    """A row value with NaN spelled out, so equal rows compare equal."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [canon(x) for x in v]
    return v


def read_csv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def item_names_normalised(t):
    """``t`` with every list item field renamed to ``item``."""
    if pa.types.is_list(t):
        f = t.value_field
        return pa.list_(pa.field("item", item_names_normalised(f.type), f.nullable))
    return t


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    return refdata.build(str(tmp_path_factory.mktemp("refdata")))


def test_rows_are_fixtures_md_verbatim():
    md = fixtures_md_rows()
    assert md == refdata.ROWS
    for typ, wkts in md.items():
        values = [refdata.parse_wkt(typ, s) for s in wkts]
        assert [refdata.format_wkt(typ, v) for v in values] == wkts


@pytest.mark.parametrize("typ", refdata.TYPES)
def test_built_files_match_fixtures_md(built, typ):
    expected = fixtures_md_rows()[typ]
    csv_name, wkb_name, native_name = refdata.file_names(typ)

    rows = read_csv(os.path.join(built, csv_name))
    assert [r["col"] for r in rows] == [str(i) for i in range(len(expected))]
    assert [r["geometry"] or None for r in rows] == expected

    for name, encoding in ((wkb_name, "WKB"), (native_name, typ)):
        tbl = pq.read_table(os.path.join(built, name))
        assert tbl.column("col").to_pylist() == list(range(len(expected)))
        assert json.loads(tbl.schema.metadata[b"geo"]) == {
            "version": "1.1.0",
            "primary_column": "geometry",
            "columns": {
                "geometry": {
                    "encoding": encoding,
                    "geometry_types": [refdata.TYPE_NAME[typ]],
                }
            },
        }
        got = []
        for v in tbl.column("geometry").to_pylist():
            if v is not None and encoding == "WKB":
                decoded_typ, v = read_wkb(v)
                assert decoded_typ == typ
            got.append(refdata.format_wkt(typ, v))
        assert got == expected

    geom = pq.read_schema(os.path.join(built, native_name)).field("geometry").type
    for _ in range(refdata.DEPTH[typ]):
        assert pa.types.is_list(geom)
        geom = geom.value_type
    assert [(f.name, f.type, f.nullable) for f in geom] == [
        ("x", pa.float64(), False),
        ("y", pa.float64(), False),
    ]


@pytest.mark.skipif(
    not refdata.shipped_complete(),
    reason=f"shipped fixtures not found in {refdata.SHIPPED}",
)
@pytest.mark.parametrize("name", refdata.ALL_FILES)
def test_built_files_match_shipped(built, name):
    ours, theirs = os.path.join(built, name), os.path.join(refdata.SHIPPED, name)
    if name.endswith(".csv"):
        assert read_csv(ours) == read_csv(theirs)
        return
    a, b = pq.read_table(ours), pq.read_table(theirs)
    # rows, null mask and NaN positions
    assert canon(a.to_pylist()) == canon(b.to_pylist())
    geo_a, geo_b = (json.loads(t.schema.metadata[b"geo"]) for t in (a, b))
    assert geo_a == geo_b

    def fields(t):
        return [(f.name, item_names_normalised(f.type), f.nullable) for f in t.schema]

    assert fields(a) == fields(b)
