"""Aggregate spatial functions.

``st_extent`` reproduces the reference UDAF (src/udafs/extent.rs) as a
composition of built-in min/max aggregates over a per-row bbox expression.
Catalyst plans the partial/final (map-side combine + merge) protocol itself,
which both distributes correctly at any scale and fixes the reference's two
merge bugs by construction: its ``state()`` emits ``[xmin,xmax,ymin,ymax]``
but ``merge_batch`` reads ``[xmin,ymin,xmax,ymax]`` (extent.rs:98-103 vs
211-222), and the merge takes ``min`` of the maxes (extent.rs:217-222). It
also implements the WKB input path the reference left ``todo!()``
(extent.rs:131-142).

Zero matching rows → NULL struct (documented deviation from the reference's
``f64::MAX/MIN`` sentinel leak, extent.rs:85-94; SURVEY §7 risk list).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_spatial_spark import geom_ops, wkb
from datafusion_spatial_spark.functions.scalar import _BBOX_TYPE, st_bbox
from datafusion_spatial_spark.meta import GeometryMeta


def st_extent(col: Column | str, meta: GeometryMeta) -> Column:
    """Aggregate bbox over all rows → ``struct{xmin,ymin,xmax,ymax}``.

    Use inside ``df.agg(...)`` / ``groupBy(...).agg(...)``. NaN empty-point
    coords are already excluded by ``st_bbox`` (the reference's
    ``empty_point_check``, extent.rs:159-164); nulls are ignored by min/max.
    """
    b = st_bbox(col, meta)
    agg = F.struct(
        F.min(b["xmin"]).alias("xmin"),
        F.min(b["ymin"]).alias("ymin"),
        F.max(b["xmax"]).alias("xmax"),
        F.max(b["ymax"]).alias("ymax"),
    )
    # all-null/empty input -> NULL struct, not a struct of nulls
    return F.when(F.max(b["xmax"]).isNull(), F.lit(None).cast(_BBOX_TYPE)).otherwise(
        agg
    )


def _wkb_series_to_geoms(s: pd.Series):
    return [wkb.loads(bytes(v)) for v in s if v is not None]


@F.pandas_udf(T.BinaryType())
def _union_agg_wkb(s: pd.Series) -> bytes:
    geoms = _wkb_series_to_geoms(s)
    if not geoms:
        return None
    return wkb.dumps(geom_ops.union_many(geoms))


@F.pandas_udf(T.BinaryType())
def _collect_agg_wkb(s: pd.Series) -> bytes:
    geoms = _wkb_series_to_geoms(s)
    if not geoms:
        return None
    return wkb.dumps(geom_ops.collect_geoms(geoms))


def st_union_agg(col: Column | str, meta: GeometryMeta) -> Column:
    """Cascaded-union aggregate (PostGIS ``ST_Union(geometry)`` agg form):
    dissolves all input geometries per group into one regularized geometry
    (WKB out). Series-to-scalar pandas UDF, so Catalyst shuffles raw WKB to
    one reducer per group — for very large groups use
    :func:`datafusion_spatial_spark.operators.spatial_agg.dissolve`, which
    adds a partition-local partial union (map-side combine) first."""
    from datafusion_spatial_spark.functions.scalar import st_asbinary

    return _union_agg_wkb(st_asbinary(col, meta))


def st_collect_agg(col: Column | str, meta: GeometryMeta) -> Column:
    """PostGIS ``ST_Collect`` aggregate: assembles group members into a
    Multi*/GeometryCollection without dissolving (WKB out)."""
    from datafusion_spatial_spark.functions.scalar import st_asbinary

    return _collect_agg_wkb(st_asbinary(col, meta))
