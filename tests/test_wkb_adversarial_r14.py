"""Adversarial WKB decoder robustness (r14 fuzz sweep).

Findings pinned:
* every truncation of a valid buffer raises (never a silent partial
  parse),
* random single-bit flips never raise anything outside WKBError /
  struct.error (no hangs, no MemoryError from absurd allocations),
* a nested-GeometryCollection bomb (back-to-back GC headers) is
  rejected with a clean WKBError by the r14 nesting guard instead of
  killing the worker with an uncontrolled RecursionError (the original
  finding: ~1000 levels blew the Python stack),
* honest nesting (a few levels) is untouched.
"""
from __future__ import annotations

import random
import struct

import pytest

from datafusion_spatial_spark import wkb as W

from refdata import refdata_dir


@pytest.fixture(scope="module")
def valid_buf():
    return W.dumps(W.from_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
        "LINESTRING (0 0, 1 1), POINT (2 3))"
    ))


def test_every_truncation_raises(valid_buf):
    for cut in range(len(valid_buf)):
        with pytest.raises(Exception) as ei:
            W.loads(valid_buf[:cut])
        assert isinstance(
            ei.value, (W.WKBError, struct.error, IndexError)
        ), (cut, type(ei.value))


def test_bit_flips_raise_cleanly_or_parse(valid_buf):
    rng = random.Random(14)
    for _ in range(300):
        b = bytearray(valid_buf)
        i = rng.randrange(len(b))
        b[i] ^= 1 << rng.randrange(8)
        try:
            g = W.loads(bytes(b))
            # parsed: must round-trip through the writer without error
            W.dumps(g)
        except (W.WKBError, struct.error, IndexError, ValueError):
            pass  # clean rejection
        except RecursionError:  # pragma: no cover
            pytest.fail("bit flip caused uncontrolled recursion")
        except MemoryError:  # pragma: no cover
            pytest.fail("bit flip caused absurd allocation")


def test_nested_gc_bomb_rejected():
    hdr = struct.pack("<BII", 1, 7, 1)
    bomb = hdr * 5000 + struct.pack("<BII", 1, 7, 0)
    with pytest.raises(W.WKBError, match="nesting exceeds"):
        W.loads(bomb)


def test_honest_nesting_unaffected():
    wkt = "POINT (1 2)"
    for _ in range(10):  # 10 levels — far beyond real data, under guard
        wkt = f"GEOMETRYCOLLECTION ({wkt})"
    g = W.from_wkt(wkt)
    assert W.to_wkt(W.loads(W.dumps(g))) == W.to_wkt(g)


def test_absurd_count_rejected_not_allocated():
    # claims 2^31-1 points but carries 64 bytes — must raise, not hang
    evil = struct.pack("<BII", 1, 2, 0x7FFFFFFF) + b"\x00" * 64
    with pytest.raises((W.WKBError, struct.error, IndexError)):
        W.loads(evil)


def test_wkt_nesting_bomb_rejected():
    bomb = "GEOMETRYCOLLECTION (" * 5000 + "POINT (1 2)" + ")" * 5000
    with pytest.raises(W.WKBError, match="nesting exceeds"):
        W.from_wkt(bomb)


def test_geojson_nesting_bomb_rejected():
    txt = (
        '{"type":"GeometryCollection","geometries":[' * 300
        + '{"type":"Point","coordinates":[1,2]}' + "]}" * 300
    )
    with pytest.raises(W.WKBError, match="nesting exceeds"):
        W.from_geojson(txt)
    gj = cur = {"type": "GeometryCollection", "geometries": []}
    for _ in range(300):
        nxt = {"type": "GeometryCollection", "geometries": []}
        cur["geometries"].append(nxt)
        cur = nxt
    with pytest.raises(W.WKBError, match="nesting exceeds"):
        W.from_geojson(gj)


def test_honest_nesting_all_formats():
    wkt = "POINT (1 2)"
    for _ in range(10):
        wkt = f"GEOMETRYCOLLECTION ({wkt})"
    g = W.from_wkt(wkt)
    assert W.to_wkt(W.loads(W.dumps(g))) == wkt
    assert W.to_wkt(W.from_geojson(W.to_geojson(g))) == wkt


def test_sql_resolver_nesting_bomb_rejected(spark):
    """A pathologically deep ST_ chain OOMed the driver JVM during
    Column-tree construction (tryOrStopSparkContext territory); the
    resolver now rejects >32 levels with a clean ValueError before any
    expression is built."""
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    s = SpatialSQL(spark)
    s.register_geoparquet(
        "adv_polys", f"{refdata_dir()}/data-polygon-encoding_wkb.parquet"
    )
    bomb = "ST_Envelope(" * 1200 + "geometry" + ")" * 1200
    with pytest.raises(ValueError, match="nests 1200 levels"):
        s.sql(f"SELECT {bomb} AS g FROM adv_polys")
    ok = s.sql(
        "SELECT ST_AsText(ST_Envelope(ST_ConvexHull(ST_Boundary("
        "ST_Envelope(geometry))))) AS w FROM adv_polys"
    ).collect()
    assert ok[0]["w"].startswith("POLYGON")


def test_sql_nesting_guard_ignores_string_literal_parens(spark):
    """Parens inside WKT string literals are data, not nesting — a
    MULTIPOLYGON literal with 40+ parenthesized rings must not trip the
    depth guard."""
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    s = SpatialSQL(spark)
    s.register_geoparquet(
        "adv_polys2",
        f"{refdata_dir()}/data-polygon-encoding_wkb.parquet",
    )
    rings = ", ".join(
        f"(({i} 0, {i} 1, {i}.5 1, {i} 0))" for i in range(40)
    )
    wkt = f"MULTIPOLYGON ({rings})"
    out = s.sql(
        f"SELECT ST_NumGeometries(ST_GeomFromText('{wkt}')) AS n "
        "FROM adv_polys2 LIMIT 1"
    ).collect()
    assert out[0]["n"] == 40


# heavy battery file: certification tier only (r15 tiering, VERDICT r14 #9)
pytestmark = pytest.mark.slow
