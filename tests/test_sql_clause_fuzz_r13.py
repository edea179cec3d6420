"""Clause-position fuzz for SQL ST_ resolution (r13, VERDICT r12 #7).

The r12 fuzz swept every signature SHAPE in projection position; this
battery sweeps CLAUSE POSITIONS — WHERE, GROUP BY, HAVING, ORDER BY,
DISTINCT, CASE WHEN — which ride different resolver interactions (the
hidden-column rewrite must behave like textual SQL there).

It found and pinned two real defects:
1. The same call text in SELECT and GROUP BY/HAVING became two DISTINCT
   hidden columns, so Spark rejected the ungrouped SELECT one
   (MISSING_AGGREGATION). Fixed by sharing one rewrite per unique call
   text (plans/sql.py repl_cache).
2. The pandas GROUP-AGG UDF behind aggregate ST_Union/ST_Collect could
   not share an Aggregate with builtin aggregates (count/sum/avg —
   INVALID_PANDAS_UDF_PLACEMENT). Fixed by rewriting the aggregate as
   <scalar udf>(collect_list(col)).
"""
from __future__ import annotations

import pytest

from datafusion_spatial_spark.plans.sql import SpatialSQL

from refdata import refdata_dir


# (value-returning 1-geom scalar, SQL literal it compares against) —
# chosen to span return types: double, int, bool, string
_SCALARS = [
    ("ST_Area({g})", "> -1"),
    ("ST_Length({g})", ">= 0"),
    ("ST_NPoints({g})", ">= 0"),
    ("ST_NumGeometries({g})", ">= 0"),
    ("ST_IsEmpty({g})", "= FALSE"),
    ("ST_IsValid({g})", "= TRUE"),
    ("ST_GeometryType({g})", "IS NOT NULL"),
    ("ST_XMin({g})", "IS NOT NULL"),
    ("ST_YMax({g})", "IS NOT NULL"),
    ("ST_Dimension({g})", ">= 0"),
    ("ST_NPoints(ST_ConvexHull({g}))", ">= 0"),  # nested in-clause
    ("ST_Area(ST_Buffer({g}, 1.0))", "> 0"),
]


@pytest.fixture(scope="module")
def ssql(spark):
    s = SpatialSQL(spark)
    s.register_geoparquet(
        "fz", f"{refdata_dir()}/data-polygon-encoding_wkb.parquet"
    )
    return s


@pytest.mark.parametrize("expr,cmp", _SCALARS)
def test_where_position(ssql, expr, cmp):
    e = expr.format(g="geometry")
    rows = ssql.sql(f"SELECT 1 AS one FROM fz WHERE {e} {cmp}").collect()
    assert len(rows) >= 1  # non-null rows satisfy every chosen predicate


@pytest.mark.parametrize("expr,cmp", _SCALARS)
def test_group_by_same_expr_in_select(ssql, expr, cmp):
    e = expr.format(g="geometry")
    rows = ssql.sql(
        f"SELECT {e} AS k, count(*) AS n FROM fz GROUP BY {e}"
    ).collect()
    assert sum(r["n"] for r in rows) == 4
    # and HAVING over the same grouped expression
    rows2 = ssql.sql(
        f"SELECT {e} AS k FROM fz GROUP BY {e} HAVING count(*) >= 1"
    ).collect()
    assert len(rows2) == len(rows)


@pytest.mark.parametrize("expr,cmp", _SCALARS)
def test_order_by_with_where_same_expr(ssql, expr, cmp):
    e = expr.format(g="geometry")
    rows = ssql.sql(
        f"SELECT {e} AS v FROM fz WHERE {e} {cmp} ORDER BY {e}"
    ).collect()
    assert len(rows) >= 1
    vals = [r["v"] for r in rows]
    assert vals == sorted(vals, key=lambda x: (x is None, x))


def test_distinct_and_case_when(ssql):
    rows = ssql.sql(
        "SELECT DISTINCT CASE WHEN ST_IsEmpty(geometry) THEN 'empty' "
        "ELSE ST_GeometryType(geometry) END AS c FROM fz"
    ).collect()
    assert {r["c"] for r in rows} >= {"ST_Polygon", "empty"}


def test_builtin_aggs_mix_with_geometry_aggregate(ssql):
    """count/sum/avg alongside aggregate ST_Union/ST_Collect and chains,
    grouped and ungrouped — the INVALID_PANDAS_UDF_PLACEMENT pin."""
    r = ssql.sql(
        "SELECT count(*) AS n, avg(ST_NPoints(geometry)) AS anp, "
        "ST_AsText(ST_Union(geometry)) AS u, "
        "ST_NPoints(ST_ConvexHull(ST_Collect(geometry))) AS hn "
        "FROM fz GROUP BY ST_GeometryType(geometry)"
    ).collect()
    assert len(r) == 2 and all(row["n"] >= 1 for row in r)
    r2 = ssql.sql(
        "SELECT count(*) AS n, ST_Area(ST_Union(geometry)) AS a FROM fz"
    ).collect()
    assert r2[0]["n"] == 4 and r2[0]["a"] > 0


def test_having_with_aggregate_chain(ssql):
    rows = ssql.sql(
        "SELECT ST_GeometryType(geometry) AS gt FROM fz "
        "GROUP BY ST_GeometryType(geometry) "
        "HAVING ST_Area(ST_Union(geometry)) >= 0"
    ).collect()
    assert len(rows) >= 1


def test_where_two_geometry_args_and_between(ssql):
    rows = ssql.sql(
        "SELECT 1 AS one FROM fz "
        "WHERE ST_Intersects(geometry, ST_Buffer(geometry, 1.0)) "
        "AND ST_Area(geometry) BETWEEN 0 AND 1e9"
    ).collect()
    assert len(rows) >= 1


def test_string_literal_st_text_untouched(ssql):
    rows = ssql.sql(
        "SELECT 'ST_Area(geometry)' AS s FROM fz WHERE ST_NPoints(geometry) > 0"
    ).collect()
    assert rows[0]["s"] == "ST_Area(geometry)"


def test_cte_subquery_union_window_positions(ssql):
    """ST_ calls inside CTEs, derived tables, UNION ALL branches, scalar
    subqueries, and window ORDER BY all resolve (the FROM-rewrite hits
    the registered view wherever it appears)."""
    m = ssql.sql(
        "WITH c AS (SELECT ST_Area(geometry) AS a FROM fz) "
        "SELECT max(a) AS m FROM c"
    ).collect()[0]["m"]
    m2 = ssql.sql(
        "SELECT max(a) AS m FROM (SELECT ST_Area(geometry) AS a FROM fz) q"
    ).collect()[0]["m"]
    m3 = ssql.sql(
        "SELECT (SELECT max(ST_Area(geometry)) FROM fz) AS m"
    ).collect()[0]["m"]
    assert m == m2 == m3 and m > 0
    u = ssql.sql(
        "SELECT ST_Area(geometry) AS a FROM fz "
        "UNION ALL SELECT ST_Length(geometry) AS a FROM fz"
    ).collect()
    assert len(u) == 8
    w = ssql.sql(
        "SELECT row_number() OVER (ORDER BY ST_Area(geometry)) AS rn FROM fz"
    ).collect()
    assert sorted(r["rn"] for r in w) == [1, 2, 3, 4]


def test_non_spatial_join_predicate_raises_clearly(ssql):
    """A scalar-equality ON condition starting with ST_ is NOT silently
    mis-planned as a spatial join — it raises the documented
    unsupported-predicate error naming the supported set."""
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported join predicate"):
        ssql.sql(
            "SELECT count(*) AS n FROM fz x JOIN fz y "
            "ON ST_NPoints(x.geometry) = ST_NPoints(y.geometry)"
        )


def test_generator_positions_over_array_st_functions(ssql):
    """Array-returning ST_ functions drive explode / posexplode /
    LATERAL VIEW / size positions; nesting an ST_ scalar AROUND a
    generator raises the documented argument error (Spark itself
    forbids generators nested in expressions)."""
    import pytest as _pt

    r1 = ssql.sql(
        "SELECT explode(ST_DumpSegments(geometry)) AS seg FROM fz "
        "WHERE ST_NPoints(geometry) > 0"
    ).collect()
    assert len(r1) >= 8  # per-segment rows
    r2 = ssql.sql(
        "SELECT ST_GeometryType(geometry) AS gt, s.seg FROM fz "
        "LATERAL VIEW explode(ST_DumpRings(geometry)) s AS seg"
    ).collect()
    assert len(r2) >= 3
    r3 = ssql.sql(
        "SELECT size(ST_DumpSegments(geometry)) AS n FROM fz"
    ).collect()
    assert sum(x["n"] for x in r3 if x["n"] and x["n"] > 0) == len(r1)
    with _pt.raises(ValueError, match="ST_ argument must be"):
        ssql.sql(
            "SELECT ST_AsText(explode(ST_DumpRings(geometry))) FROM fz"
        )


def test_literal_constructors_in_where_and_group_by(ssql):
    """The everyday PostGIS filter idiom — a literal geometry built
    in-query and compared against the column — across WHERE, SELECT,
    ORDER BY and GROUP BY positions."""
    box = "ST_GeomFromText('POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))')"
    r = ssql.sql(
        f"SELECT 1 AS one FROM fz WHERE ST_Intersects(geometry, {box})"
    ).collect()
    assert len(r) == 2
    r2 = ssql.sql(
        "SELECT count(*) AS n FROM fz "
        "WHERE ST_DWithin(geometry, ST_Point(30, 10), 5)"
    ).collect()
    assert r2[0]["n"] >= 1
    r3 = ssql.sql(
        "SELECT ST_Distance(geometry, ST_GeomFromText('POINT (0 0)')) "
        "AS d FROM fz ORDER BY d"
    ).collect()
    vals = [x["d"] for x in r3 if x["d"] is not None]
    assert vals == sorted(vals)
    r4 = ssql.sql(
        f"SELECT ST_Intersects(geometry, {box}) AS hit, count(*) AS n "
        f"FROM fz GROUP BY ST_Intersects(geometry, {box})"
    ).collect()
    assert sum(x["n"] for x in r4) == 4


# heavy battery file: certification tier only (r15 tiering, VERDICT r14 #9)
pytestmark = pytest.mark.slow
