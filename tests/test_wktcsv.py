"""WKT-CSV source: third fixture encoding must agree with WKB/native."""

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import read_geoparquet, resolve_meta
from datafusion_spatial_spark.functions import st_astext, st_extent
from datafusion_spatial_spark.sources.wktcsv import read_wkt_csv

from refdata import refdata_dir

TYPES = ["point", "linestring", "polygon", "multipoint", "multilinestring", "multipolygon"]


@pytest.mark.parametrize("typ", TYPES)
def test_csv_matches_parquet(spark, typ):
    csv = read_wkt_csv(spark, f"{refdata_dir()}/data-{typ}-wkt.csv")
    meta_csv = resolve_meta(csv, "geometry")
    assert meta_csv.is_wkb
    pq = read_geoparquet(spark, f"{refdata_dir()}/data-{typ}-encoding_wkb.parquet")
    meta_pq = resolve_meta(pq, "geometry")
    a = [
        r.w
        for r in csv.select(st_astext("geometry", meta_csv).alias("w"))
        .orderBy("col")
        .collect()
    ]
    b = [
        r.w
        for r in pq.select(st_astext("geometry", meta_pq).alias("w"))
        .orderBy("col")
        .collect()
    ]
    assert a == b
    ea = csv.agg(st_extent("geometry", meta_csv).alias("e")).collect()[0].e
    eb = pq.agg(st_extent("geometry", meta_pq).alias("e")).collect()[0].e
    assert ea == eb
