"""Skew operators equivalence + GeoParquet write round-trip."""

from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta
from datafusion_spatial_spark.functions import st_astext
from datafusion_spatial_spark.operators import skew
from datafusion_spatial_spark.sources.geoparquet import write_geoparquet

from refdata import refdata_dir


def test_salted_count_sum_equivalence(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        (r.l_returnflag,): (r.c, round(r.s, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("c"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r.l_returnflag,): (r["count"], round(r["sum_l_quantity"], 2))
        for r in skew.salted_count_sum(
            li, ["l_returnflag"], ["l_quantity"], salt_buckets=8
        ).collect()
    }
    assert plain == salted


def test_salted_join_equivalence(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").count()
    salted = skew.salted_join_skewed_left(orders, cust, "o_custkey", 8).count()
    assert plain == salted


def test_write_geoparquet_roundtrip(spark, tmp_path):
    src = read_geoparquet(
        spark, f"{refdata_dir()}/data-multipolygon-encoding_native.parquet"
    )
    meta = resolve_meta(src, "geometry")
    out = str(tmp_path / "mp_out")
    write_geoparquet(src, out)
    back = read_geoparquet(spark, out)
    meta2 = resolve_meta(back, "geometry")
    assert meta2.encoding == meta.encoding
    assert meta2.geometry_types == meta.geometry_types
    a = [r.w for r in src.select(st_astext("geometry", meta).alias("w")).orderBy("col").collect()]
    b = [r.w for r in back.select(st_astext("geometry", meta2).alias("w")).orderBy("col").collect()]
    assert a == b


def test_write_geoparquet_footer_stamp_is_distributed(spark, tmp_path, monkeypatch):
    """Multi-file write: every file gets the geo footer, row groups are
    preserved, and the DRIVER never reads a data file — the per-file
    rewrite happens inside tasks (driver-side pyarrow read_table /
    ParquetFile are poisoned for the duration)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta

    PT = GeometryMeta(encoding="point", geometry_types=("Point",))
    pts = (
        spark.range(5000)
        .repartition(7)
        .select(
            "id",
            st_point(
                (F.col("id") % 100).cast("double"),
                (F.col("id") % 91).cast("double"),
            ).alias("geometry"),
        )
    )
    out = str(tmp_path / "dist")

    def _boom(*a, **k):
        raise AssertionError("driver-side data read during footer stamp")

    monkeypatch.setattr(pq, "read_table", _boom)
    monkeypatch.setattr(pq, "ParquetFile", _boom)
    write_geoparquet(pts, out, {"geometry": PT})
    monkeypatch.undo()

    files = _glob.glob(f"{out}/*.parquet")
    assert len(files) == 7
    for f in files:
        md = pq.read_schema(f).metadata or {}
        assert b"geo" in md
    back = read_geoparquet(spark, out)
    assert back.count() == 5000
    assert resolve_meta(back, "geometry").encoding == "point"


def test_write_geoparquet_covering_window_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta
    from datafusion_spatial_spark.sources.geoparquet import (
        read_geoparquet_covering,
    )

    PT = GeometryMeta(encoding="point", geometry_types=("Point",))
    pts = spark.range(2000).select(
        "id",
        ((F.col("id") * 13 % 100).cast("double")).alias("x"),
        ((F.col("id") * 29 % 100).cast("double")).alias("y"),
    ).withColumn("geometry", st_point(F.col("x"), F.col("y")))
    out = str(tmp_path / "cov")
    write_geoparquet(with_geo_meta(pts, "geometry", PT), out, covering=True)

    # footer declares the 1.1 covering; reading with window= prunes on it
    cov = read_geoparquet_covering(out)
    assert cov == {
        "geometry": {
            "xmin": ["bbox", "xmin"], "ymin": ["bbox", "ymin"],
            "xmax": ["bbox", "xmax"], "ymax": ["bbox", "ymax"],
        }
    }
    win = (10.0, 10.0, 30.0, 30.0)
    got = read_geoparquet(spark, out, window=win)
    exp = {
        r.id
        for r in pts.filter(
            (F.col("x") >= 10) & (F.col("x") <= 30)
            & (F.col("y") >= 10) & (F.col("y") <= 30)
        ).collect()
    }
    assert {r.id for r in got.collect()} == exp and exp
    # the window reaches the scan as pushed nested-field filters
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox.xmin" in plan
