"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator surface (SURVEY.md §2 + the
extension ops) to a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()``
gives the DuckDB-equivalent SQL. Where the semantics are pure ANSI SQL the
two sides share one query text (zero drift); where dialects diverge
(date formatting, json, list lambdas) each side gets its own text built from
shared literals so values still match bit-for-bit.

Cross-engine determinism rules used throughout:
* money sums rounded to 2 decimals, ratios/scores to 6;
* every LIMIT is preceded by a total ORDER BY with an id tie-break;
* timestamps leave the engine as formatted strings (never raw timestamps);
* integer outputs cast to bigint on both sides;
* hashes use the polynomial scheme in operators/hashing.py, reproducible in
  DuckDB (Spark xxhash64 and DuckDB hash are different algorithms).
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_spatial_spark.operators.dedup import let, word_shingles_duckdb
from datafusion_spatial_spark.operators.hashing import (
    P,
    minhash_affine_params,
    poly_hash_str_duckdb,
)
from datafusion_spatial_spark.operators.text import STOPWORDS
from datafusion_spatial_spark.exprcache import cached_columns as _cached_cols
from datafusion_spatial_spark.sources.tables import load_table, register_views

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared SQL texts (identical in Spark SQL and DuckDB)

Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

Q03_CORE = """
SELECT o.o_orderkey                                              AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)     AS revenue,
       {datestr}                                                 AS orderdate,
       o.o_orderpriority                                         AS priority
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '2000-03-15'
  AND l.l_shipdate  > TIMESTAMP '2000-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT 10
"""

Q04_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q05_SQL = """
SELECT n.n_name                                                  AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)     AS revenue
FROM region r
JOIN nation n    ON n.n_regionkey = r.r_regionkey
JOIN customer c  ON c.c_nationkey = n.n_nationkey
JOIN orders o    ON o.o_custkey   = c.c_custkey
JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
JOIN supplier s  ON s.s_suppkey   = l.l_suppkey
                AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""

Q06_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*)                                    AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""

Q_TOP_CUSTOMERS_SQL = """
SELECT c.c_custkey AS custkey, c.c_name AS name,
       round(sum(o.o_totalprice), 2) AS total_spent,
       count(*) AS n_orders
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spent DESC, custkey
LIMIT 25
"""

Q_NO_ORDERS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

Q_ROLLUP_CUBE_SQL = """
SELECT 'rollup' AS grp,
       coalesce(c_mktsegment, 'ALL') AS dim1,
       coalesce(o_orderstatus, 'ALL') AS dim2,
       round(sum(o_totalprice), 2) AS measure,
       count(*) AS n
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY ROLLUP (c_mktsegment, o_orderstatus)
UNION ALL
SELECT 'cube' AS grp,
       coalesce(l_returnflag, 'ALL') AS dim1,
       coalesce(l_linestatus, 'ALL') AS dim2,
       round(sum(l_quantity), 2) AS measure,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY grp, dim1, dim2
"""

Q_MONTHLY_CORE = """
SELECT {month} AS month,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY {month}
ORDER BY month
"""

Q_WINDOW_TOP3_SQL = """
SELECT custkey, orderkey, totalprice, rk FROM (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
         round(o_totalprice, 2) AS totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) t WHERE rk <= 3
ORDER BY custkey, rk
"""

Q_DISTINCT_SQL = """
SELECT l_returnflag,
       cast(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       cast(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       cast(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

Q_SETOP_SQL = """
SELECT l_suppkey AS suppkey FROM lineitem
INTERSECT
SELECT s_suppkey FROM supplier WHERE s_acctbal > 0
ORDER BY suppkey
"""

Q_EVENTS_HOURLY_CORE = """
SELECT {hour} AS hour, event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY {hour}, event_type
ORDER BY hour, event_type
"""

# streaming gate: 'complete' = full batch rollup; 'append' = windows the
# final watermark (max ts - 10 min) closed; 'append_suppressed' = the rest;
# 'join' = the stream-stream interval self-join's eager inner emissions,
# whose closed form for a finite one-batch source is the batch join (r10);
# 'fence' = the stream-static geofence broadcast join (stateless), whose
# closed form is the batch point-in-box join
GEOFENCE_A = (50.005, 200.005, -0.5, 60.5)    # x1, x2, y1, y2
GEOFENCE_B = (150.005, 400.005, 40.5, 149.5)  # overlaps A: multi-fence hits

_Q_STREAM_HOURLY_ORACLE = f"""
WITH fences(fid, x1, x2, y1, y2) AS (
  VALUES ('A', {GEOFENCE_A[0]!r}, {GEOFENCE_A[1]!r},
               {GEOFENCE_A[2]!r}, {GEOFENCE_A[3]!r}),
         ('B', {GEOFENCE_B[0]!r}, {GEOFENCE_B[1]!r},
               {GEOFENCE_B[2]!r}, {GEOFENCE_B[3]!r})
), fence_hits AS (
  SELECT fid, event_type, count(*) AS n, round(sum(value), 2) AS total_value
  FROM events e JOIN fences f
    ON e.value BETWEEN f.x1 AND f.x2
   AND cast(e.user_id AS DOUBLE) BETWEEN f.y1 AND f.y2
  GROUP BY fid, event_type
), b AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         count(*) AS n, round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2
), wm AS (
  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events
), j AS (
  SELECT date_trunc('hour', a.ts) AS ws, a.event_type,
         count(*) AS n, round(sum(b2.value), 2) AS total_value
  FROM events a JOIN events b2
    ON a.user_id = b2.user_id
   AND b2.ts >= a.ts AND b2.ts <= a.ts + INTERVAL 15 MINUTE
  GROUP BY 1, 2
)
SELECT part, strftime(ws, '%Y-%m-%d %H:%M') AS hour, event_type, n, total_value
FROM (
  SELECT 'complete' AS part, ws, event_type, n, total_value FROM b
  UNION ALL
  SELECT 'append' AS part, ws, event_type, n, total_value
  FROM b, wm WHERE ws + INTERVAL 1 HOUR <= wm.w
  UNION ALL
  SELECT 'append_suppressed' AS part, ws, event_type, n, total_value
  FROM b, wm WHERE ws + INTERVAL 1 HOUR > wm.w
  UNION ALL
  SELECT 'join' AS part, ws, event_type, n, total_value FROM j
)
UNION ALL
SELECT 'fence' AS part, fid AS hour, event_type, n, total_value
FROM fence_hits
ORDER BY part, hour, event_type
"""

Q_EVENTS_JSON_CORE = """
SELECT event_type,
       round(avg(cast({k} AS BIGINT)), 6) AS avg_k,
       cast(max(cast({k} AS BIGINT)) AS BIGINT) AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

Q_SESSIONIZE_CORE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       cast(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id ORDER BY user_id
"""

Q10_RETURNED_SQL = """
SELECT c.c_custkey AS custkey, c.c_name AS name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, custkey
LIMIT 20
"""

Q13_DISTRIBUTION_SQL = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c.c_custkey, cast(count(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
) t
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""

Q14_PROMO_SQL = """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1996-07-01'
"""

Q18_LARGE_ORDERS_SQL = """
SELECT o.o_orderkey AS orderkey, round(o.o_totalprice, 2) AS totalprice,
       round(sum(l.l_quantity), 2) AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_totalprice
HAVING sum(l.l_quantity) > 120
ORDER BY total_qty DESC, orderkey
LIMIT 20
"""


def _q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue by market segment × order status (Spark .pivot API;
    oracle is the equivalent conditional aggregation)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(orders, orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .orderBy("segment")
    )


_Q_PIVOT_ORACLE = """
SELECT c_mktsegment AS segment,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment ORDER BY segment
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase event annotated with
    the user's most recent prior click. Oracle: DuckDB native ASOF JOIN."""
    from datafusion_spatial_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["click_event_id", "click_value"], suffix="",
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    ).orderBy("event_id")


_Q_ASOF_ORACLE = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       c.event_id AS click_event_id,
       round(c.value, 2) AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


def _q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal content dedup: documents' leading bytes as a binary media
    payload, deduped by JVM-side sha2 (operators/multimodal.py). Oracle:
    sha256 over the same prefix."""
    from datafusion_spatial_spark.operators.multimodal import media_content_dedup

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", F.encode(F.substring("text", 1, 40), "UTF-8").alias("media")
    )
    dd = media_content_dedup(media, "media", "doc_id")
    return (
        dd.groupBy("copies")
        .agg(F.count("*").alias("n_payloads"))
        .orderBy("copies")
    )


_Q_MEDIA_DEDUP_ORACLE = """
SELECT copies, count(*) AS n_payloads
FROM (
  SELECT sha256(substr(text, 1, 40)) AS h, count(*) AS copies
  FROM documents GROUP BY 1
) t
GROUP BY copies ORDER BY copies
"""


Q15_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_rev
FROM supplier s JOIN rev r ON r.suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY suppkey
"""

# one pass over orders exercising the full window-function surface:
# ntile / percent_rank / first_value / lead / partition count (the original
# suite), row_number ranking + top-3 flag (absorbed q_window_top3_orders)
# and running sum + lag date gap (absorbed q_window_running_total) — merged
# round 8 to free gate slots under the 50-query cap. {gap} is the only
# dialect-split term (Spark datediff vs DuckDB date_diff).
Q_WINDOW_SUITE_CORE = """
SELECT orderkey, custkey, quartile, pct_rank, cheapest, next_price,
       cust_orders, rk_desc, (rk_desc <= 3) AS is_top3, running_total,
       {gap} AS gap_days
FROM (
  SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderdate,
         ntile(4)       OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         first_value(o_totalprice) OVER w AS cheapest,
         lead(o_totalprice, 1) OVER w AS next_price,
         cast(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_orders,
         cast(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey)
              AS BIGINT) AS rk_desc,
         round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_total,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_date
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
) t
ORDER BY custkey, orderkey
"""

Q_QUANTILES_CORE = """
SELECT o_orderstatus AS status,
       round({p50}, 4) AS p50,
       round({p90}, 4) AS p90,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""

Q_STRING_FUNCS_SQL = """
SELECT c_custkey AS custkey,
       upper(c_name) AS upname,
       substr(c_name, 1, 9) AS prefix,
       length(c_name) AS name_len,
       replace(c_mktsegment, 'A', '_') AS seg_repl,
       concat_ws('|', c_mktsegment, {tostr}) AS joined
FROM customer
ORDER BY custkey
"""

Q_DATE_ARITH_CORE = """
SELECT year(o_orderdate) AS yr,
       round(avg({days_since}), 4) AS avg_days_since_95,
       count(*) AS n
FROM orders
GROUP BY year(o_orderdate)
ORDER BY yr
"""

Q_REGR_CORE = """
SELECT event_type,
       round(regr_slope(value, {epoch}) * 86400, 4) AS slope_per_day,
       round(regr_intercept(value, {epoch}), 4) AS intercept,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# dialect helpers

_FMT_SPARK = "regexp_replace(format_string('%.8f', {x}), '\\\\.?0+$', '')"
_FMT_DUCK = "regexp_replace(printf('%.8f', {x}), '\\.?0+$', '')"


def _wkt_point(fmt: str, x: str, y: str) -> str:
    fx, fy = fmt.format(x=x), fmt.format(x=y)
    return f"concat('POINT (', {fx}, ' ', {fy}, ')')"


def _wkt_bbox(fmt: str, xmin: str, ymin: str, xmax: str, ymax: str) -> str:
    f = {k: fmt.format(x=v) for k, v in
         dict(xmin=xmin, ymin=ymin, xmax=xmax, ymax=ymax).items()}
    return (
        "concat('POLYGON ((', "
        f"{f['xmin']}, ' ', {f['ymin']}, ', ', "
        f"{f['xmax']}, ' ', {f['ymin']}, ', ', "
        f"{f['xmax']}, ' ', {f['ymax']}, ', ', "
        f"{f['xmin']}, ' ', {f['ymax']}, ', ', "
        f"{f['xmin']}, ' ', {f['ymin']}, '))')"
    )


def _sql_query(sql: str, tables: tuple[str, ...]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, *tables)
        return spark.sql(sql)

    return run


# ---------------------------------------------------------------------------
# spatial queries on synthetic geometry (points built from numeric columns;
# the geometry fixture tables are not among the driver's oracle views, so
# spatial semantics are exercised on testdata-derived points with plain-SQL
# oracles — full fixture goldens live in tests/test_spatial_functions.py)


def _q_st_extent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_spatial_spark.functions import st_extent, st_point
    from datafusion_spatial_spark.meta import GeometryMeta

    cust = load_table(spark, sf_dir, "customer")
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    pt_col, ext_col, out_cols = _cached_cols(
        ("q_st_extent_customers",),
        lambda: (
            st_point(
                F.col("c_acctbal"), F.col("c_custkey").cast("double")
            ).alias("geom"),
            st_extent("geom", meta).alias("e"),
            (
                F.col("e.xmin").alias("xmin"),
                F.col("e.ymin").alias("ymin"),
                F.col("e.xmax").alias("xmax"),
                F.col("e.ymax").alias("ymax"),
            ),
        ),
    )
    return cust.select(pt_col).agg(ext_col).select(*out_cols)


_Q_ST_EXTENT_ORACLE = """
SELECT min(c_acctbal) AS xmin, min(cast(c_custkey AS DOUBLE)) AS ymin,
       max(c_acctbal) AS xmax, max(cast(c_custkey AS DOUBLE)) AS ymax
FROM customer
"""


def _q_st_astext_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_AsText over the native point encoding (pure-Catalyst path) AND the
    full Python WKB codec round-trip (WKT text -> st_geomfromtext -> WKB ->
    st_astext) in one query; the oracle builds the same WKT string directly,
    so any drift in either serialization path breaks the match."""
    from datafusion_spatial_spark.functions import (
        st_astext,
        st_geomfromtext,
        st_geometrytype,
        st_point,
    )
    from datafusion_spatial_spark.meta import GeometryMeta

    sup = load_table(spark, sf_dir, "supplier")
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    wkb_meta = GeometryMeta(encoding="WKB", geometry_types=("Point",))
    wkt_in = F.expr(
        "concat('POINT (', "
        f"{_FMT_SPARK.format(x='s_acctbal')}, ' ', "
        f"{_FMT_SPARK.format(x='cast(s_suppkey AS DOUBLE)')}, ')')"
    )
    return sup.select(
        F.col("s_suppkey").alias("suppkey"),
        st_astext(
            st_point(F.col("s_acctbal"), F.col("s_suppkey").cast("double")), meta
        ).alias("wkt"),
        st_astext(st_geomfromtext(wkt_in), wkb_meta).alias("rt_wkt"),
        # ST_GeometryType via the WKB header-decode path (per-row, not
        # metadata-only — reference geometry_type.rs:119-146)
        st_geometrytype(st_geomfromtext(wkt_in), wkb_meta).alias("gtype"),
    ).orderBy("suppkey")


_Q_ST_ASTEXT_ORACLE = f"""
SELECT s_suppkey AS suppkey,
       {_wkt_point(_FMT_DUCK, 's_acctbal', 'cast(s_suppkey AS DOUBLE)')} AS wkt,
       {_wkt_point(_FMT_DUCK, 's_acctbal', 'cast(s_suppkey AS DOUBLE)')} AS rt_wkt,
       'ST_Point' AS gtype
FROM supplier ORDER BY suppkey
"""


def _q_st_envelope_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ST_Extent envelope (WKT) plus a bbox-containment count in
    the same per-nation aggregation (formerly the separate q_st_bbox_contains
    query — merged to keep the driver gate under its 50-query cap)."""
    from datafusion_spatial_spark.functions import st_extent, st_point
    from datafusion_spatial_spark.functions.scalar import st_astext_bbox
    from datafusion_spatial_spark.meta import GeometryMeta

    cust = load_table(spark, sf_dir, "customer")
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))

    def _build():
        ckey = F.col("c_custkey").cast("double")
        inside = (
            (F.col("c_acctbal") >= 0) & (F.col("c_acctbal") <= 5000)
            & (ckey >= 0) & (ckey <= 7500)
        )
        return (
            (
                F.col("c_nationkey").alias("nationkey"),
                st_point(F.col("c_acctbal"), ckey).alias("geom"),
                F.when(inside, F.lit(1)).otherwise(F.lit(0)).alias("inside"),
            ),
            (
                st_extent("geom", meta).alias("e"),
                F.sum("inside").cast("bigint").alias("n_inside"),
            ),
            st_astext_bbox(F.col("e")).alias("envelope_wkt"),
        )

    pt_cols, agg_cols, wkt_col = _cached_cols(("q_st_envelope_by_nation",), _build)
    pts = cust.select(*pt_cols)
    ext = pts.groupBy("nationkey").agg(*agg_cols)
    return ext.select("nationkey", wkt_col, "n_inside").orderBy("nationkey")


_Q_ST_ENVELOPE_ORACLE = f"""
SELECT c_nationkey AS nationkey,
       {_wkt_bbox(_FMT_DUCK, 'min(c_acctbal)', 'min(cast(c_custkey AS DOUBLE))',
                  'max(c_acctbal)', 'max(cast(c_custkey AS DOUBLE))')} AS envelope_wkt,
       cast(sum(CASE WHEN c_acctbal >= 0 AND c_acctbal <= 5000
                      AND cast(c_custkey AS DOUBLE) >= 0
                      AND cast(c_custkey AS DOUBLE) <= 7500
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
FROM customer GROUP BY c_nationkey ORDER BY nationkey
"""


_Q_GRID_JOIN_SPARK = """
WITH c AS (
  SELECT c_mktsegment,
         cast(floor(c_acctbal / 500.0) AS BIGINT) AS cx,
         cast(floor(cast(c_custkey AS DOUBLE) / 50.0) AS BIGINT) AS cy
  FROM customer
), s AS (
  SELECT DISTINCT
         cast(floor(s_acctbal / 500.0) AS BIGINT) AS cx,
         cast(floor(cast(s_suppkey AS DOUBLE) / 50.0) AS BIGINT) AS cy
  FROM supplier
)
SELECT c.c_mktsegment AS segment, count(*) AS n_customers
FROM c JOIN s ON c.cx = s.cx AND c.cy = s.cy
GROUP BY c.c_mktsegment ORDER BY segment
"""

# triangle for the exact point-in-polygon predicate query (CCW)
_TRI = [(0.0, 0.0), (9000.0, 1000.0), (1000.0, 9000.0)]


def _q_st_contains_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geometry predicate (geom_ops ray casting) against a literal
    triangle PLUS a per-segment ST_Union aggregate over unit grid cells
    (round-3 cascaded-union kernel, functions/aggregates.st_union_agg).
    Unit-cell construction keeps the union area closed-form: adjacent
    squares dissolve along shared edges and duplicates vanish, so
    union_area == count of DISTINCT occupied cells. The oracle reproduces
    the predicate with half-plane sign tests and the union area with
    COUNT(DISTINCT cell)."""
    from datafusion_spatial_spark.functions import st_area, st_union_agg
    from datafusion_spatial_spark.functions.predicates import st_contains
    from datafusion_spatial_spark.functions.scalar import st_geomfromtext, st_point
    from datafusion_spatial_spark.meta import GeometryMeta

    cust = load_table(spark, sf_dir, "customer")
    ring = ", ".join(f"{x:g} {y:g}" for x, y in (_TRI + _TRI[:1]))
    tri = F.lit(f"POLYGON (({ring}))")
    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    wkb_meta = GeometryMeta(encoding="WKB")
    pts = cust.select(
        F.col("c_mktsegment").alias("segment"),
        st_point(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias("geom"),
        st_geomfromtext(tri).alias("tri"),
    )
    inside = (
        pts.filter(st_contains("tri", "geom", wkb_meta, point_meta))
        .groupBy("segment")
        .agg(F.count("*").alias("n_inside"))
    )
    # distinct occupied cells first (Catalyst dedupe — the scalable shape:
    # the Python union kernel sees each cell once, not each customer)
    cells = cust.select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).alias("cx"),
        F.floor(F.col("c_custkey").cast("double") / 100.0).alias("cy"),
    ).distinct()
    cell_geom = cells.select(
        "segment",
        st_geomfromtext(
            F.format_string(
                "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
                "cx", "cy",
                F.col("cx") + 1, "cy",
                F.col("cx") + 1, F.col("cy") + 1,
                "cx", F.col("cy") + 1,
                "cx", "cy",
            )
        ).alias("cellg"),
    )
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — count in a separate aggregation
    n_cells = cells.groupBy("segment").agg(F.count("*").alias("n_cells"))
    uni = (
        cell_geom.groupBy("segment")
        .agg(st_union_agg("cellg", wkb_meta).alias("u"))
        .select(
            "segment",
            F.round(st_area("u", wkb_meta), 6).alias("union_area"),
        )
    )
    return (
        inside.join(n_cells, "segment")
        .join(uni, "segment")
        .select("segment", "n_inside", "n_cells", "union_area")
        .orderBy("segment")
    )


def _q_st_contains_triangle_oracle() -> str:
    # half-plane test: point strictly inside iff all three edge cross
    # products share the triangle's orientation (CCW -> all > 0); boundary
    # (== 0) is NOT contained, matching OGC contains semantics in geom_ops
    (ax, ay), (bx, by), (cx, cy) = _TRI
    px, py = "c_acctbal", "cast(c_custkey AS DOUBLE)"
    e1 = f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"
    e2 = f"(({cx} - {bx}) * ({py} - {by}) - ({cy} - {by}) * ({px} - {bx}))"
    e3 = f"(({ax} - {cx}) * ({py} - {cy}) - ({ay} - {cy}) * ({px} - {cx}))"
    return f"""
WITH inside AS (
  SELECT c_mktsegment AS segment, count(*) AS n_inside
  FROM customer
  WHERE {e1} > 0 AND {e2} > 0 AND {e3} > 0
  GROUP BY c_mktsegment
), cells AS (
  SELECT DISTINCT c_mktsegment AS segment,
         cast(floor(c_acctbal / 1000.0) AS BIGINT) AS cx,
         cast(floor(cast(c_custkey AS DOUBLE) / 100.0) AS BIGINT) AS cy
  FROM customer
), u AS (
  SELECT segment, count(*) AS n_cells,
         cast(count(*) AS DOUBLE) AS union_area
  FROM cells GROUP BY segment
)
SELECT i.segment, i.n_inside, u.n_cells, u.union_area
FROM inside i JOIN u ON i.segment = u.segment
ORDER BY i.segment
"""


def _q_st_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 nearest customer points to a probe point, computed by the
    distributed k-NN spatial join (operators/spatial_knn.knn_join:
    radius-doubling over the grid join, exact within guarantee) — the
    single-probe degenerate case doubles as its oracle check. The oracle
    is the euclidean formula + row_number."""
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.spatial_knn import knn_join

    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    cust = load_table(spark, sf_dir, "customer")
    right = cust.select(
        F.col("c_custkey").alias("custkey"),
        st_point(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias("geom"),
    )
    left = spark.createDataFrame([(0, 5000.0, 75.0)], "pid bigint, x double, y double").select(
        "pid", st_point("x", "y").alias("geom")
    )
    knn = knn_join(
        left, right, "geom", "geom", point_meta, point_meta,
        "pid", "custkey", k=10, radius=500.0, max_rounds=8,
    )
    # geodesic columns (functions/geodesic.py, all pure Catalyst): a synthetic
    # lon/lat derived from custkey, checked value-exact against the DuckDB
    # closed forms — verifies haversine, Web-Mercator forward, quadkey tiles,
    # and the Hilbert layout key (functions/indexing.py — the oracle mirrors
    # the rotate/flip fold with a recursive CTE).
    from datafusion_spatial_spark.functions.geodesic import (
        st_distancesphere, st_quadkey, st_transform_point,
    )
    from datafusion_spatial_spark.functions.indexing import st_hilbert

    lon = (F.col("custkey") % 360 - 180).cast("double") + F.lit(0.5)
    lat = (F.col("custkey") % 170 - 85).cast("double") + F.lit(0.25)
    cpt = st_point(lon, lat)
    probe = st_point(F.lit(2.3522), F.lit(48.8566))
    planar = (
        knn.select(
            "custkey",
            F.round(F.col("distance"), 6).alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
        .withColumn("dist_sphere_km", F.round(st_distancesphere(probe, cpt) / 1000.0, 3))
        .withColumn("merc_x", F.round(st_transform_point(cpt, 4326, 3857)["x"], 3))
        .withColumn("quadkey", st_quadkey(cpt, 5))
        .withColumn(
            "hkey",
            st_hilbert(cpt, point_meta, (-180.0, -90.0, 180.0, 90.0), level=8),
        )
        .select(
            F.lit("planar").alias("part"),
            "custkey",
            F.lit(None).cast("bigint").alias("nbr"),
            "dist", "rank", "dist_sphere_km", "merc_x", "quadkey", "hkey",
        )
    )
    # geography k-NN leg (r15) — see _geo_knn_rows
    gknn = _geo_knn_rows(spark, sf_dir).select(
        F.lit("gknn").alias("part"),
        "custkey",
        "nbr",
        F.col("dist_m").alias("dist"),
        "rank",
        F.lit(None).cast("double").alias("dist_sphere_km"),
        F.lit(None).cast("double").alias("merc_x"),
        F.lit(None).cast("string").alias("quadkey"),
        F.lit(None).cast("long").alias("hkey"),
    )
    return planar.unionByName(gknn).orderBy("part", "custkey", "rank")


_Q_ST_DISTANCE_PLANAR = """
WITH RECURSIVE topk AS (
  SELECT c_custkey AS custkey,
         round(sqrt((c_acctbal - 5000) * (c_acctbal - 5000)
                    + (cast(c_custkey AS DOUBLE) - 75) * (cast(c_custkey AS DOUBLE) - 75)), 6) AS dist,
         cast(row_number() OVER (
             ORDER BY sqrt((c_acctbal - 5000) * (c_acctbal - 5000)
                    + (cast(c_custkey AS DOUBLE) - 75) * (cast(c_custkey AS DOUBLE) - 75)),
                    c_custkey) AS INT) AS rank
  FROM customer
), geo AS (
  SELECT *,
         cast(custkey % 360 - 180 AS DOUBLE) + 0.5 AS lon,
         cast(custkey % 170 - 85 AS DOUBLE) + 0.25 AS lat
  FROM topk
), tiles AS (
  SELECT *,
         greatest(0, least(cast(floor(32.0 * (lon + 180.0) / 360.0) AS BIGINT), 31)) AS tx,
         greatest(0, least(cast(floor(32.0 * (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0) AS BIGINT), 31)) AS ty
  FROM geo
), hseed AS (
  -- level-8 Hilbert key over extent (-180,-90,180,90): quantize to the
  -- 256x256 grid, then the canonical rotate/flip fold as a recursive CTE
  -- (mirrors functions/indexing.py hilbert_xy2d exactly)
  SELECT custkey,
         greatest(0, least(cast(floor((lon + 180.0) / 360.0 * 256.0) AS BIGINT), 255)) AS x,
         greatest(0, least(cast(floor((lat + 90.0) / 180.0 * 256.0) AS BIGINT), 255)) AS y
  FROM tiles
), hfold AS (
  SELECT custkey, x, y, CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s FROM hseed
  UNION ALL
  SELECT custkey,
    CASE WHEN (y // s) % 2 = 0
         THEN CASE WHEN (x // s) % 2 = 1 THEN 255 - y ELSE y END
         ELSE x END,
    CASE WHEN (y // s) % 2 = 0
         THEN CASE WHEN (x // s) % 2 = 1 THEN 255 - x ELSE x END
         ELSE y END,
    d + s * s * (CASE WHEN (x // s) % 2 = 1
                      THEN CASE WHEN (y // s) % 2 = 1 THEN 2 ELSE 3 END
                      ELSE (y // s) % 2 END),
    s // 2
  FROM hfold WHERE s > 0
), hkeys AS (
  SELECT custkey, d AS hkey FROM hfold WHERE s = 0
)
SELECT custkey, dist, rank,
       round(2.0 * 6371008.8 * asin(least(1.0, sqrt(
           pow(sin(radians(lat - 48.8566) / 2.0), 2)
           + cos(radians(48.8566)) * cos(radians(lat))
             * pow(sin(radians(lon - 2.3522) / 2.0), 2)
       ))) / 1000.0, 3) AS dist_sphere_km,
       round(6378137.0 * radians(lon), 3) AS merc_x,
       cast((tx >> 4) % 2 + 2 * ((ty >> 4) % 2) AS VARCHAR)
       || cast((tx >> 3) % 2 + 2 * ((ty >> 3) % 2) AS VARCHAR)
       || cast((tx >> 2) % 2 + 2 * ((ty >> 2) % 2) AS VARCHAR)
       || cast((tx >> 1) % 2 + 2 * ((ty >> 1) % 2) AS VARCHAR)
       || cast(tx % 2 + 2 * (ty % 2) AS VARCHAR) AS quadkey,
       hkey
FROM tiles JOIN hkeys USING (custkey)
ORDER BY rank
LIMIT 10
"""


def _geo_knn_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography k-NN gate leg (r15, VERDICT r14 #3): top-4 nearest
    customers per customer in METERS on lon/lat points, via the
    distributed radius-doubling kNN join over the geography grid
    (operators/spatial_knn.knn_join_geography). The synthetic points live
    in a 20°×20° patch straddling the antimeridian, so true nearest
    neighbors routinely sit across ±180° — a planar degree grid (or a
    seam-leg bug) would rank the wrong neighbors. Oracle: naive all-pairs
    haversine cross join + row_number. Self-join on the same underlying
    frame also pins the r15 direction-flag fix (identity-based leg
    routing duplicated east-west seam pairs in self-joins). Folded into
    q_st_distance_topk as part='gknn' (the driver gate caps at 50
    queries)."""
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.spatial_knn import (
        knn_join_geography,
    )

    pm = GeometryMeta(encoding="point", geometry_types=("Point",))
    cust = load_table(spark, sf_dir, "customer")
    # deterministic patch around the dateline; mod/div order mirrors the
    # oracle SQL token for token so the doubles are identical
    raw = (
        F.lit(170.0)
        + ((F.col("c_custkey") * 37) % 991).cast("double") / 991.0 * 20.0
    )
    lat = (
        F.lit(30.0)
        + ((F.col("c_custkey") * 53) % 983).cast("double") / 983.0 * 20.0
    )
    lon = F.when(raw >= 180.0, raw - 360.0).otherwise(raw)
    pts = cust.select(
        F.col("c_custkey").alias("k"), st_point(lon, lat).alias("geom")
    )
    knn = knn_join_geography(
        pts.select(F.col("k").alias("custkey"), "geom"),
        pts.select(F.col("k").alias("nbr"), "geom"),
        "geom", "geom", pm, pm, "custkey", "nbr", k=4, radius_m=60_000.0,
        max_rounds=8,
    )
    return knn.select(
        "custkey",
        "nbr",
        F.round(F.col("distance_m"), 3).alias("dist_m"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("custkey", "rank")


_Q_GEO_KNN_SQL = """
WITH pts AS (
  SELECT c_custkey AS id,
         CASE WHEN raw >= 180.0 THEN raw - 360.0 ELSE raw END AS lon,
         lat
  FROM (
    SELECT c_custkey,
           170.0 + cast((c_custkey * 37) % 991 AS DOUBLE) / 991.0 * 20.0 AS raw,
           30.0 + cast((c_custkey * 53) % 983 AS DOUBLE) / 983.0 * 20.0 AS lat
    FROM customer
  )
), ranked AS (
  SELECT a.id AS custkey, b.id AS nbr,
         2 * 6371008.8 * asin(least(1.0, sqrt(
           pow(sin((radians(b.lat) - radians(a.lat)) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS d
  FROM pts a CROSS JOIN pts b
), topk AS (
  SELECT custkey, nbr, d,
         cast(row_number() OVER (
             PARTITION BY custkey ORDER BY d, nbr) AS INT) AS rank
  FROM ranked
)
SELECT custkey, nbr, round(d, 3) AS dist_m, rank
FROM topk WHERE rank <= 4
ORDER BY custkey, rank
"""

# composite: the original planar-knn+geodesic rows (part='planar') UNION
# the geography-knn rows (part='gknn') — one gate, two knn engines
_Q_ST_DISTANCE_ORACLE = f"""
SELECT 'planar' AS part, custkey, cast(NULL AS BIGINT) AS nbr,
       dist, rank, dist_sphere_km, merc_x, quadkey, hkey
FROM ({_Q_ST_DISTANCE_PLANAR}) p
UNION ALL
SELECT 'gknn' AS part, custkey, nbr, dist_m AS dist, rank,
       cast(NULL AS DOUBLE) AS dist_sphere_km,
       cast(NULL AS DOUBLE) AS merc_x,
       cast(NULL AS VARCHAR) AS quadkey,
       cast(NULL AS BIGINT) AS hkey
FROM ({_Q_GEO_KNN_SQL}) g
ORDER BY part, custkey, rank
"""


CLUSTER_DIST = 500.0


def _dwithin_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original dwithin-join pair query — shared by the gate's 'pairs'
    part and bench.py (which keeps timing exactly this frame so the
    cross-round series stays comparable after the r10 composite fold)."""
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.spatial_join import spatial_join

    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    cust_cols, sup_cols, out_cols = _cached_cols(
        ("dwithin_pairs_cols",),
        lambda: (
            (
                F.col("c_custkey"),
                st_point(
                    F.col("c_acctbal"), F.col("c_custkey").cast("double")
                ).alias("geom"),
            ),
            (
                F.col("s_suppkey"),
                st_point(
                    F.col("s_acctbal"), F.col("s_suppkey").cast("double")
                ).alias("geom"),
            ),
            (
                F.col("c_custkey").alias("custkey"),
                F.col("s_suppkey").alias("suppkey"),
            ),
        ),
    )
    cust = load_table(spark, sf_dir, "customer").select(*cust_cols)
    sup = load_table(spark, sf_dir, "supplier").select(*sup_cols)
    pairs = spatial_join(
        cust, sup, "geom", "geom", point_meta, point_meta,
        "c_custkey", "s_suppkey", cell_size=200.0, predicate="dwithin",
        distance=100.0,
    )
    return pairs.select(*out_cols).orderBy("custkey", "suppkey")


GEO_METERS = 150000.0  # geography-leg dwithin radius (150 km)


def _geo_lonlat_exprs(key: str, kind: str):
    """Deterministic synthetic lon/lat from an integer key, mirrored
    verbatim in the DuckDB oracle. The fixture engineers the hard rows:
    dateline-straddling pairs (customer %97 at lon 179.95 vs supplier
    %13 at −179.97, matched lats 40..46) and polar-cap rows (customer
    %83 at lat 84.6, supplier %11 at 84.7 — beyond the 80° mid-band
    contract, routing through the stereographic cap legs)."""
    k = F.col(key)
    if kind == "customer":
        lon = F.when(k % 97 == 0, F.lit(179.95)).otherwise(
            ((k * 37) % 3600) / F.lit(10.0) - F.lit(180.0)
        )
        lat = (
            F.when(k % 83 == 0, F.lit(84.6))
            .when(k % 97 == 0, F.lit(40.0) + (k % 7).cast("double"))
            .otherwise(((k * 53) % 1500) / F.lit(10.0) - F.lit(75.0))
        )
    else:
        lon = F.when(k % 13 == 0, F.lit(-179.97)).otherwise(
            ((k * 41) % 3600) / F.lit(10.0) - F.lit(180.0)
        )
        lat = (
            F.when(k % 11 == 0, F.lit(84.7))
            .when(k % 13 == 0, F.lit(40.0) + (k % 7).cast("double"))
            .otherwise(((k * 59) % 1500) / F.lit(10.0) - F.lit(75.0))
        )
    return lon, lat


def _q_spatial_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (r10 folds spatial clustering in, VERDICT r9 #5; r14
    adds the geography leg, VERDICT r13 #3):
    part 'pairs' = the grid-bucketed distance join (customer points within
    100 units of any supplier point; oracle = naive cross-join + distance
    filter); part 'cluster' = operators/spatial_cluster.cluster_within
    over the supplier points (PostGIS ST_ClusterWithin: chains of hops
    <= CLUSTER_DIST share the component's min id) — the oracle recomputes
    the naive pair list and resolves components with the same
    reachability recursive CTE the corpus-dedup gate uses; part 'geo' =
    operators/spatial_join.spatial_join_geography — the meter-radius
    haversine dwithin join real lon/lat users hit first — on synthetic
    lon/lat derived deterministically from the keys, with engineered
    dateline-straddling and polar-cap (>80°) rows so the antimeridian
    seam legs and the stereographic cap routing are oracle-gated, vs a
    naive DuckDB haversine cross join."""
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.spatial_cluster import cluster_within
    from datafusion_spatial_spark.operators.spatial_join import (
        spatial_join_geography,
    )

    pairs = _dwithin_pairs_df(spark, sf_dir)
    pair_part = pairs.select(
        F.lit("pairs").alias("part"),
        F.col("custkey").cast("long").alias("k1"),
        F.col("suppkey").cast("long").alias("k2"),
    )
    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"),
        st_point(F.col("s_acctbal"), F.col("s_suppkey").cast("double")).alias("geom"),
    )
    clustered = cluster_within(
        sup, "geom", point_meta, distance=CLUSTER_DIST,
        cell_size=2.0 * CLUSTER_DIST, id_col="s_suppkey",
    )
    clus_part = clustered.select(
        F.lit("cluster").alias("part"),
        F.col("s_suppkey").cast("long").alias("k1"),
        F.col("cluster_id").cast("long").alias("k2"),
    )
    c_lon, c_lat = _geo_lonlat_exprs("c_custkey", "customer")
    s_lon, s_lat = _geo_lonlat_exprs("s_suppkey", "supplier")
    cust_geo = load_table(spark, sf_dir, "customer").select(
        "c_custkey", st_point(c_lon, c_lat).alias("geom")
    )
    sup_geo = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", st_point(s_lon, s_lat).alias("geom")
    )
    geo = spatial_join_geography(
        cust_geo, sup_geo, "geom", "geom", point_meta, point_meta,
        "c_custkey", "s_suppkey", GEO_METERS,
    )
    geo_part = geo.select(
        F.lit("geo").alias("part"),
        F.col("c_custkey").cast("long").alias("k1"),
        F.col("s_suppkey").cast("long").alias("k2"),
    )
    return (
        pair_part.unionAll(clus_part).unionAll(geo_part)
        .orderBy("part", "k1", "k2")
    )


_Q_DWITHIN_ORACLE = """
SELECT c_custkey AS custkey, s_suppkey AS suppkey
FROM customer, supplier
WHERE sqrt((c_acctbal - s_acctbal) * (c_acctbal - s_acctbal)
           + (cast(c_custkey AS DOUBLE) - cast(s_suppkey AS DOUBLE))
             * (cast(c_custkey AS DOUBLE) - cast(s_suppkey AS DOUBLE))) <= 100.0
ORDER BY custkey, suppkey
"""

# geo part mirror: the same key-derived lon/lat, naive cross join +
# haversine (term order mirrors functions/geodesic._haversine_expr:
# dp = radians(lat2) - radians(lat1), dl = radians(lon2 - lon1),
# 2·R·asin(least(1, sqrt(...))) with R = 6371008.8)
_GEO_HAV = (
    "2 * 6371008.8 * asin(least(1.0, sqrt("
    "pow(sin((radians(s.lat) - radians(c.lat)) / 2), 2)"
    " + cos(radians(c.lat)) * cos(radians(s.lat))"
    " * pow(sin(radians(s.lon - c.lon) / 2), 2))))"
)

_GEO_PTS_SQL = """
geo_c AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 97 = 0 THEN 179.95
              ELSE ((c_custkey * 37) % 3600) / 10.0 - 180.0 END AS lon,
         CASE WHEN c_custkey % 83 = 0 THEN 84.6
              WHEN c_custkey % 97 = 0
                THEN 40.0 + cast(c_custkey % 7 AS DOUBLE)
              ELSE ((c_custkey * 53) % 1500) / 10.0 - 75.0 END AS lat
  FROM customer
), geo_s AS (
  SELECT s_suppkey AS k,
         CASE WHEN s_suppkey % 13 = 0 THEN -179.97
              ELSE ((s_suppkey * 41) % 3600) / 10.0 - 180.0 END AS lon,
         CASE WHEN s_suppkey % 11 = 0 THEN 84.7
              WHEN s_suppkey % 13 = 0
                THEN 40.0 + cast(s_suppkey % 7 AS DOUBLE)
              ELSE ((s_suppkey * 59) % 1500) / 10.0 - 75.0 END AS lat
  FROM supplier
)"""

# cluster part mirror: naive supplier self-join dwithin pair list (same
# sqrt form as the pair oracle), full-reachability recursive CTE (the
# q_dedup_corpus pattern), component = min reachable id, singletons keep
# their own id
_Q_DWITHIN_COMPOSITE_ORACLE = f"""
WITH RECURSIVE spairs AS (
  SELECT a.s_suppkey AS ida, b.s_suppkey AS idb
  FROM supplier a, supplier b
  WHERE a.s_suppkey < b.s_suppkey
    AND sqrt((a.s_acctbal - b.s_acctbal) * (a.s_acctbal - b.s_acctbal)
             + (cast(a.s_suppkey AS DOUBLE) - cast(b.s_suppkey AS DOUBLE))
               * (cast(a.s_suppkey AS DOUBLE) - cast(b.s_suppkey AS DOUBLE)))
        <= {CLUSTER_DIST!r}
), edges AS (
  SELECT ida AS a, idb AS b FROM spairs
  UNION ALL
  SELECT idb AS a, ida AS b FROM spairs
), reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
), {_GEO_PTS_SQL.lstrip()}
SELECT 'pairs' AS part, cast(custkey AS BIGINT) AS k1,
       cast(suppkey AS BIGINT) AS k2
FROM ({_Q_DWITHIN_ORACLE}) p
UNION ALL
SELECT 'cluster' AS part, cast(s.s_suppkey AS BIGINT) AS k1,
       cast(coalesce(c.component, s.s_suppkey) AS BIGINT) AS k2
FROM supplier s LEFT JOIN comp c ON c.id = s.s_suppkey
UNION ALL
SELECT 'geo' AS part, cast(c.k AS BIGINT) AS k1, cast(s.k AS BIGINT) AS k2
FROM geo_c c CROSS JOIN geo_s s
WHERE {_GEO_HAV} <= {GEO_METERS!r}
ORDER BY part, k1, k2
"""

# hexbin oracle: the axial cube-rounding closed form re-expressed in
# DuckDB SQL, IEEE-op-for-op identical to functions/binning.st_hexcell
# (sqrt(3)/3 and 2/3 are the same doubles; round() is HALF_UP away from
# zero in both engines; the irrational scale factors make exact .5
# rounding ties unreachable from the decimal source data)
_Q_HEXBIN_ORACLE = """
WITH h AS (
  SELECT (sqrt(3)/3) * (c_acctbal / 500.0)
           - (cast(c_custkey AS DOUBLE) / 500.0) / 3.0 AS qf,
         (cast(c_custkey AS DOUBLE) / 500.0) * (2.0/3.0) AS rf
  FROM customer
), rr AS (
  SELECT qf, rf, -qf - rf AS yf,
         round(qf) AS rx, round(-qf - rf) AS ry, round(rf) AS rz
  FROM h
), fixed AS (
  SELECT
    cast(CASE WHEN abs(rx - qf) > abs(ry - yf) AND abs(rx - qf) > abs(rz - rf)
              THEN -ry - rz ELSE rx END AS BIGINT) AS q,
    cast(CASE WHEN abs(rx - qf) > abs(ry - yf) AND abs(rx - qf) > abs(rz - rf)
              THEN rz
              WHEN abs(ry - yf) > abs(rz - rf) THEN rz
              ELSE -rx - ry END AS BIGINT) AS r
  FROM rr
)
SELECT concat(cast(q AS VARCHAR), ',', cast(r AS VARCHAR)) AS k,
       cast(count(*) AS BIGINT) AS v
FROM fixed GROUP BY 1
"""

# composite oracle for q_sql_spatial_join: naive distance cross-join pairs
# UNION ALL the (dual-dialect) grid equi-join rollup UNION ALL the hexbin
_Q_SQL_SPATIAL_ORACLE = f"""
SELECT 'dwithin' AS part, cast(custkey AS STRING) AS k,
       cast(suppkey AS BIGINT) AS v
FROM ({_Q_DWITHIN_ORACLE}) d
UNION ALL
SELECT 'grid' AS part, segment AS k, cast(n_customers AS BIGINT) AS v
FROM ({_Q_GRID_JOIN_SPARK}) g
UNION ALL
SELECT 'hex' AS part, k, v FROM ({_Q_HEXBIN_ORACLE}) x
UNION ALL
SELECT 'chain' AS part, k, v FROM (
  SELECT 'xmin' AS k,
         cast(round(min(c_acctbal) * 100) AS BIGINT) AS v FROM customer
  UNION ALL
  SELECT 'ymax', cast(max(c_custkey) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'npoints', cast(count(*) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'ST_MultiPoint', 0
) c
ORDER BY part, k, v
"""


def _q_sql_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-view spatial SQL: two registered geometry views joined in ONE
    SQL string via ST_DWithin, routed by plans/sql.py to the grid-bucketed
    spatial join (no UDF join condition reaches Catalyst). Reference analog:
    the analyzer rule's per-table metadata maps (rules.rs:30-59).

    Composite (round 8): UNION ALL with the plain-SQL grid equi-join
    rollup that used to be its own gate (q_spatial_grid_join) — merged to
    free a slot under the 50-query cap. Common schema
    (part, k, v): dwithin pairs as ('dwithin', custkey, suppkey), grid
    segment counts as ('grid', segment, n_customers).

    r13 leg ('chain' part): multi-level scalar-over-aggregate SQL chains
    (plans/sql.py, VERDICT r12 #3) with closed-form DuckDB mirrors —
    ST_XMin(ST_ConvexHull(ST_Union(g))) = min(x) (hull vertices are
    input points), ST_YMax(ST_ConvexHull(ST_Collect(g))) = max(y),
    ST_NPoints(ST_Union(g)) = count(*) (all points distinct by custkey
    ordinate), ST_GeometryType(ST_MakeValid(ST_Union(g))) =
    'ST_MultiPoint'. xmin scales by 100 into the BIGINT v column
    (acctbal carries cents; ties at .5 cannot occur)."""
    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta, with_geo_meta
    from datafusion_spatial_spark.plans.sql import SpatialSQL

    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        st_point(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias("geom"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"),
        st_point(F.col("s_acctbal"), F.col("s_suppkey").cast("double")).alias("geom"),
    )
    ssql = SpatialSQL(spark, join_cell_size=200.0)
    ssql.register_view("cust_pts", with_geo_meta(cust, "geom", meta))
    ssql.register_view("supp_pts", with_geo_meta(sup, "geom", meta))
    dwithin = ssql.sql(
        "SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey "
        "FROM cust_pts c JOIN supp_pts s ON ST_DWithin(c.geom, s.geom, 100)"
    ).select(
        F.lit("dwithin").alias("part"),
        F.col("custkey").cast("string").alias("k"),
        F.col("suppkey").cast("long").alias("v"),
    )
    register_views(spark, sf_dir, "customer", "supplier")
    grid = spark.sql(_Q_GRID_JOIN_SPARK).select(
        F.lit("grid").alias("part"),
        F.col("segment").alias("k"),
        F.col("n_customers").cast("long").alias("v"),
    )
    # hexbin rollup (r8): pure-Catalyst axial hex assignment + one
    # groupBy on the small (q, r) pair — the 100 TB map-aggregation
    # shape (functions/binning.py), oracle = the same cube-rounding
    # closed form in DuckDB SQL
    from datafusion_spatial_spark.functions.binning import st_hexcell

    hexbin = (
        cust.select(st_hexcell("geom", meta, 500.0).alias("c"))
        .groupBy("c")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("hex").alias("part"),
            F.concat_ws(",", F.col("c.q"), F.col("c.r")).alias("k"),
            F.col("n").cast("long").alias("v"),
        )
    )
    ch = ssql.sql(
        "SELECT ST_XMin(ST_ConvexHull(ST_Union(geom))) AS xmin, "
        "ST_YMax(ST_ConvexHull(ST_Collect(geom))) AS ymax, "
        "ST_NPoints(ST_Union(geom)) AS np, "
        "ST_GeometryType(ST_MakeValid(ST_Union(geom))) AS gt "
        "FROM cust_pts"
    )
    chain = ch.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("xmin").alias("k"),
                    F.round(F.col("xmin") * 100)
                    .cast("long")
                    .alias("v"),
                ),
                F.struct(
                    F.lit("ymax").alias("k"),
                    F.col("ymax").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("npoints").alias("k"),
                    F.col("np").cast("long").alias("v"),
                ),
                F.struct(
                    F.col("gt").alias("k"),
                    F.lit(0).cast("long").alias("v"),
                ),
            )
        ).alias("s")
    ).select(
        F.lit("chain").alias("part"),
        F.col("s.k").alias("k"),
        F.col("s.v").alias("v"),
    )
    return (
        dwithin.unionAll(grid).unionAll(hexbin).unionAll(chain)
        .orderBy("part", "k", "v")
    )


# degenerate / holed / concave / multi-part polygon pairs with
# hand-computed set-operation areas — exercises the regularized overlay
# kernel (overlay.py) end-to-end; reference README.md:34-39 lists these
# routines as unimplemented roadmap items, so the oracle is closed-form.
_OVERLAY_CASES = [
    # (pair_id, wkt_a, wkt_b, inter, union, diff, sym)
    (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))", 25.0, 175.0, 75.0, 150.0),
    (2, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))", 0.0, 200.0, 100.0, 200.0),
    (3, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", 100.0, 100.0, 0.0, 0.0),
    (4, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
        "POLYGON ((-2 3, 12 3, 12 7, -2 7, -2 3))", 36.0, 116.0, 60.0, 80.0),
    (5, "POLYGON ((0 0, 10 0, 10 3, 3 3, 3 7, 10 7, 10 10, 0 10, 0 0))",
        "POLYGON ((8 2, 12 2, 12 8, 8 8, 8 2))", 4.0, 92.0, 68.0, 88.0),
    (6, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((10 5, 14 3, 14 7, 10 5))", 0.0, 108.0, 100.0, 108.0),
    (7, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "MULTIPOLYGON (((2 2, 4 2, 4 4, 2 4, 2 2)), ((12 2, 14 2, 14 4, 12 4, 12 2)))",
        4.0, 104.0, 96.0, 100.0),
]

# line×line pairs with hand-computed set-operation LENGTHS (collinear
# overlap, containment, proper crossing, mixed 0-D/1-D, endpoint touch) —
# exercises the round-3 noding kernel (geom_ops._line_line_setop)
_LINE_CASES = [
    # (pair_id, wkt_a, wkt_b, inter_len, union_len, diff_len, sym_len)
    (101, "LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)",
     5.0, 15.0, 5.0, 10.0),
    (102, "LINESTRING (0 0, 10 0)", "LINESTRING (2 0, 8 0)",
     6.0, 10.0, 4.0, 4.0),
    (103, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)",
     0.0, 20.0, 10.0, 20.0),
    (104, "LINESTRING (0 0, 10 0)", "MULTILINESTRING ((2 0, 4 0), (7 -1, 7 1))",
     2.0, 12.0, 8.0, 10.0),
    (105, "LINESTRING (0 0, 5 0)", "LINESTRING (5 0, 10 0)",
     0.0, 10.0, 5.0, 10.0),
]

# mixed-dimension pairs (polygon×line, GeometryCollection operands) with
# hand-computed set-operation AREAS and LENGTHS — exercises the round-3
# decompose-and-combine layer (geom_ops._mixed_setop): union absorbs
# lower-dim pieces covered by higher-dim closure, difference subtracts the
# closure of the subtrahend, per GEOS OverlayNG.
_MIXED_CASES = [
    # (pair_id, wkt_a, wkt_b,
    #  inter_area, union_area, diff_area, sym_area,
    #  inter_len, union_len, diff_len, sym_len)
    (201, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "LINESTRING (-1 2, 5 2)",
     0.0, 16.0, 16.0, 16.0, 4.0, 2.0, 0.0, 2.0),
    (202, "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
          "LINESTRING (6 0, 8 0), POINT (10 10))",
          "POLYGON ((-1 -1, 7 -1, 7 5, -1 5, -1 -1))",
     16.0, 48.0, 0.0, 32.0, 1.0, 1.0, 1.0, 1.0),
    (203, "GEOMETRYCOLLECTION (LINESTRING (0 10, 4 10), POINT (10 10))",
          "POLYGON ((2 9, 6 9, 6 11, 2 11, 2 9))",
     0.0, 8.0, 0.0, 8.0, 2.0, 2.0, 2.0, 2.0),
    (204, "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), "
          "POINT (6 6))",
          "GEOMETRYCOLLECTION (LINESTRING (2 -1, 2 5), POINT (6 6))",
     0.0, 16.0, 16.0, 16.0, 4.0, 2.0, 0.0, 2.0),
    (205, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "LINESTRING (0 0, 4 0)",
     0.0, 16.0, 16.0, 16.0, 4.0, 0.0, 0.0, 0.0),
    (206, "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
          "POLYGON ((3 0, 5 0, 5 2, 3 2, 3 0)), LINESTRING (0 5, 10 5))",
          "GEOMETRYCOLLECTION (POLYGON ((1 1, 4 1, 4 3, 1 3, 1 1)), "
          "POINT (0 5))",
     2.0, 12.0, 6.0, 10.0, 0.0, 10.0, 10.0, 10.0),
]


def _q_st_intersection_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection/Union/Difference/SymDifference over polygon pairs
    (areas — shared edges, vertex-on-edge contact, holes, concave rings,
    multipolygons; round-2 overlay kernel) AND line pairs (lengths —
    collinear overlap/containment, crossings, mixed-dimension results,
    endpoint touch; round-3 noding kernel) AND mixed-dimension pairs
    (polygon×line, GeometryCollection operands; decompose-and-combine
    layer, areas and lengths both closed-form). Length columns are NULL
    for polygon pairs (they'd be result perimeters — not closed-form
    here); st_length itself is linear-members-only per PostGIS."""
    from datafusion_spatial_spark.functions.predicates import (
        st_area,
        st_difference,
        st_intersection,
        st_length,
        st_symdifference,
        st_union,
    )
    from datafusion_spatial_spark.functions.scalar import st_geomfromtext
    from datafusion_spatial_spark.meta import GeometryMeta

    w = GeometryMeta(encoding="WKB")
    df = spark.createDataFrame(
        [(c[0], c[1], c[2]) for c in _OVERLAY_CASES]
        + [(c[0], c[1], c[2]) for c in _LINE_CASES]
        + [(c[0], c[1], c[2]) for c in _MIXED_CASES],
        "pair_id int, wkt_a string, wkt_b string",
    ).select(
        "pair_id",
        st_geomfromtext("wkt_a").alias("a"),
        st_geomfromtext("wkt_b").alias("b"),
    )
    def _build_cols():
        # line and mixed-dimension pairs have meaningful lengths
        has_len = F.col("pair_id") >= 100

        def _len(col: F.Column) -> F.Column:
            return F.when(has_len, F.round(st_length(col, w), 6)).cast("double")

        inter = st_intersection("a", "b", w, w)
        uni = st_union("a", "b", w, w)
        diff = st_difference("a", "b", w, w)
        sym = st_symdifference("a", "b", w, w)
        return (
            F.round(st_area(inter, w), 6).alias("inter_area"),
            F.round(st_area(uni, w), 6).alias("union_area"),
            F.round(st_area(diff, w), 6).alias("diff_area"),
            F.round(st_area(sym, w), 6).alias("sym_area"),
            _len(inter).alias("inter_len"),
            _len(uni).alias("union_len"),
            _len(diff).alias("diff_len"),
            _len(sym).alias("sym_len"),
        )

    # memoized: fresh pandas-UDF objects per build force re-pickling and
    # re-shipping the overlay kernels every run (exprcache)
    cols = _cached_cols(("q_st_intersection_area",), _build_cols)
    return df.select("pair_id", *cols).orderBy("pair_id")


def _q_st_intersection_area_oracle() -> str:
    rows = [
        f"  ({c[0]}, {c[3]}, {c[4]}, {c[5]}, {c[6]}, NULL, NULL, NULL, NULL)"
        for c in _OVERLAY_CASES
    ] + [
        f"  ({c[0]}, 0.0, 0.0, 0.0, 0.0, {c[3]}, {c[4]}, {c[5]}, {c[6]})"
        for c in _LINE_CASES
    ] + [
        f"  ({c[0]}, {c[3]}, {c[4]}, {c[5]}, {c[6]},"
        f" {c[7]}, {c[8]}, {c[9]}, {c[10]})"
        for c in _MIXED_CASES
    ]
    cols = [
        "inter_area", "union_area", "diff_area", "sym_area",
        "inter_len", "union_len", "diff_len", "sym_len",
    ]
    casts = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in cols)
    return (
        f"SELECT pair_id, {casts} FROM (VALUES\n" + ",\n".join(rows) +
        "\n) AS t(pair_id, " + ", ".join(cols) + ") ORDER BY pair_id"
    )


# ---------------------------------------------------------------------------
# round-8 composite gates: oracle coverage for the previously pytest-only
# SURVEY §2 routines (VERDICT r7 top item). Geometries are constructed from
# customer/nation columns so every expected value is computable by DuckDB
# with plain arithmetic / CASE — the same closed-form-oracle pattern as
# q_st_intersection_area.


def _q_st_predicate_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary predicate battery over data-derived point/box/line pairs:
    ST_Within / ST_Touches / ST_Contains / ST_Disjoint / ST_Equals /
    ST_Crosses / ST_Overlaps / ST_Relate (matrix + pattern forms) /
    ST_IsSimple / ST_Boundary+ST_Length — reference README.md roadmap rows
    (README.md:20-33), all previously verified by pytest only.

    Constructions per sampled customer (P the customer point, fx=floor(x)):
    A = unit box [fx,fx+1]x[y-.5,y+.5] around P; B = A shifted +key%3 in x
    (0 covers P, >=1 disjoint from P); O = A shifted +(key%3)*0.5 (equal /
    proper overlap / edge touch); L1,L2 diagonal vs anti-diagonal shifted
    +2*(key%2) (proper crossing / disjoint); LS a simple-vs-bowtie
    linestring; AB a box of width 1+(key%4)*0.5 (boundary perimeter
    4+key%4). The oracle reproduces every cell with interval arithmetic on
    the same columns (half-offsets are exactly representable doubles, so
    the comparisons are bit-identical across engines)."""
    from datafusion_spatial_spark.functions.accessors import (
        st_addmeasure,
        st_boundingdiagonal,
        st_chaikinsmoothing,
        st_clipbybox2d,
        st_closestpointofapproach,
        st_distancecpa,
        st_dumprings,
        st_dumpsegments,
        st_forcepolygoncw,
        st_frechetdistance,
        st_geometricmedian,
        st_interpolatepoint,
        st_isclosed,
        st_ispolygoncw,
        st_isring,
        st_isvaliddetail,
        st_maxdistance,
        st_minimumrotatedrectangle,
        st_ndims,
        st_numpoints,
        st_reduceprecision,
        st_simplifyvw,
        st_swapordinates,
        st_triangulatepolygon,
        st_xmin,
        st_ymax,
        st_zmflag,
    )
    from datafusion_spatial_spark.functions.predicates import (
        st_area,
        st_boundary,
        st_contains,
        st_coveredby,
        st_covers,
        st_crosses,
        st_disjoint,
        st_equals,
        st_issimple,
        st_length,
        st_overlaps,
        st_relate,
        st_relate_matrix,
        st_lineinterpolatepoint,
        st_touches,
        st_within,
    )
    from datafusion_spatial_spark.functions.scalar import (
        st_geomfromtext,
        st_point,
        st_x,
    )
    from datafusion_spatial_spark.meta import GeometryMeta

    P = GeometryMeta(encoding="point", geometry_types=("Point",))
    W = GeometryMeta(encoding="WKB")

    def s(c: F.Column) -> F.Column:
        return c.cast("string")

    def pt(x: F.Column, y: F.Column) -> F.Column:
        return F.concat(F.lit("POINT ("), s(x), F.lit(" "), s(y), F.lit(")"))

    def box(x0, y0, x1, y1) -> F.Column:
        return F.concat(
            F.lit("POLYGON (("),
            s(x0), F.lit(" "), s(y0), F.lit(", "),
            s(x1), F.lit(" "), s(y0), F.lit(", "),
            s(x1), F.lit(" "), s(y1), F.lit(", "),
            s(x0), F.lit(" "), s(y1), F.lit(", "),
            s(x0), F.lit(" "), s(y0), F.lit("))"),
        )

    def line(x0, y0, x1, y1) -> F.Column:
        return F.concat(
            F.lit("LINESTRING ("),
            s(x0), F.lit(" "), s(y0), F.lit(", "),
            s(x1), F.lit(" "), s(y1), F.lit(")"),
        )

    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("x"),
            F.col("c_custkey").cast("double").alias("y"),
            F.floor("c_acctbal").cast("double").alias("fx"),
            (F.col("c_custkey") % 3).cast("double").alias("s3"),
            (F.col("c_custkey") % 2).cast("double").alias("s2"),
            (F.col("c_custkey") % 4).cast("double").alias("s4"),
        )
    )
    g = base.select(
        "custkey",
        st_point(F.col("x"), F.col("y")).alias("p"),
        st_point(F.col("fx") + 0.5, F.col("y")).alias("q"),
        st_geomfromtext(
            box(F.col("fx"), F.col("y") - 0.5, F.col("fx") + 1, F.col("y") + 0.5)
        ).alias("a"),
        st_geomfromtext(
            box(
                F.col("fx") + F.col("s3"), F.col("y") - 0.5,
                F.col("fx") + F.col("s3") + 1, F.col("y") + 0.5,
            )
        ).alias("b"),
        st_geomfromtext(
            box(
                F.col("fx") + F.col("s3") * 0.5, F.col("y") - 0.5,
                F.col("fx") + F.col("s3") * 0.5 + 1, F.col("y") + 0.5,
            )
        ).alias("o"),
        st_geomfromtext(
            line(F.col("fx"), F.col("y") - 1, F.col("fx") + 1, F.col("y") + 1)
        ).alias("l1"),
        st_geomfromtext(
            line(
                F.col("fx") + 2 * F.col("s2"), F.col("y") + 1,
                F.col("fx") + 2 * F.col("s2") + 1, F.col("y") - 1,
            )
        ).alias("l2"),
        st_geomfromtext(
            F.when(
                F.col("s2") == 0, F.lit("LINESTRING (0 0, 1 1, 2 0)")
            ).otherwise(F.lit("LINESTRING (0 0, 2 2, 2 0, 0 2)"))
        ).alias("ls"),
        st_geomfromtext(
            box(
                F.col("fx"), F.col("y"),
                F.col("fx") + 1 + F.col("s4") * 0.5, F.col("y") + 1,
            )
        ).alias("ab"),
        # r11 rows: a closed-vs-open triangle line, an optionally-Z point,
        # an origin-anchored box (for the constant-bounds clip), an
        # L-shaped path with a varying leg (smoothing), and a 2.3-long
        # horizontal line off the raw acctbal (precision reduction)
        st_geomfromtext(
            F.when(
                F.col("s2") == 0,
                F.concat(
                    F.lit("LINESTRING ("),
                    s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit(", "),
                    s(F.col("fx") + 1), F.lit(" "), s(F.col("y")), F.lit(", "),
                    s(F.col("fx")), F.lit(" "), s(F.col("y") + 1), F.lit(", "),
                    s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit(")"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("LINESTRING ("),
                    s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit(", "),
                    s(F.col("fx") + 1), F.lit(" "), s(F.col("y")), F.lit(", "),
                    s(F.col("fx")), F.lit(" "), s(F.col("y") + 1), F.lit(")"),
                )
            )
        ).alias("lc"),
        st_geomfromtext(
            F.when(
                F.col("s2") == 0,
                F.concat(
                    F.lit("POINT Z ("), s(F.col("x")), F.lit(" "),
                    s(F.col("y")), F.lit(" 1)"),
                ),
            ).otherwise(pt(F.col("x"), F.col("y")))
        ).alias("pz"),
        st_geomfromtext(
            box(
                F.col("s3") * 0.5, F.lit(-0.5),
                F.col("s3") * 0.5 + 1, F.lit(0.5),
            )
        ).alias("a0"),
        st_geomfromtext(
            F.concat(
                F.lit("LINESTRING (0 0, 1 0, 1 "), s(F.col("s4") + 1),
                F.lit(")"),
            )
        ).alias("lr"),
        st_geomfromtext(
            F.concat(
                F.lit("LINESTRING ("), s(F.col("x")), F.lit(" 0, "),
                s(F.col("x") + 2.3), F.lit(" 0)"),
            )
        ).alias("lp"),
        st_point(F.col("x") + F.col("s3"), F.lit(1.0)).alias("pm"),
        # trajectories (M = time): ta runs fx -> fx+2 over t in [0, 2];
        # tb runs back fx+2 -> fx at lateral offset 1 + s3, delayed by s2
        st_geomfromtext(
            F.concat(
                F.lit("LINESTRING M ("),
                s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit(" 0, "),
                s(F.col("fx") + 2), F.lit(" "), s(F.col("y")), F.lit(" 2)"),
            )
        ).alias("ta"),
        st_geomfromtext(
            F.concat(
                F.lit("LINESTRING M ("),
                s(F.col("fx") + 2), F.lit(" "),
                s(F.col("y") + 1 + F.col("s3")), F.lit(" "),
                s(F.col("s2")), F.lit(", "),
                s(F.col("fx")), F.lit(" "),
                s(F.col("y") + 1 + F.col("s3")), F.lit(" "),
                s(F.col("s2") + 2), F.lit(")"),
            )
        ).alias("tb"),
        # r13 wave-5/6/7 gate geometries (VERDICT r12 #6): vp is a valid
        # unit box (s2=0) or a bowtie whose ring self-intersects at the
        # exact center (s2=1) — the ST_IsValidDetail probe; mp4 is the
        # four corners of the ab box as a MultiPoint, whose geometric
        # median is the exact center by symmetry (equal corner distances
        # make the centroid Weiszfeld's fixed point).
        st_geomfromtext(
            F.when(
                F.col("s2") == 1,
                F.concat(
                    F.lit("POLYGON (("),
                    s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit(", "),
                    s(F.col("fx") + 1), F.lit(" "), s(F.col("y") + 1),
                    F.lit(", "),
                    s(F.col("fx") + 1), F.lit(" "), s(F.col("y")),
                    F.lit(", "),
                    s(F.col("fx")), F.lit(" "), s(F.col("y") + 1),
                    F.lit(", "),
                    s(F.col("fx")), F.lit(" "), s(F.col("y")), F.lit("))"),
                ),
            ).otherwise(
                box(F.col("fx"), F.col("y"), F.col("fx") + 1, F.col("y") + 1)
            )
        ).alias("vp"),
        st_geomfromtext(
            F.concat(
                F.lit("MULTIPOINT (("),
                s(F.col("fx")), F.lit(" "), s(F.col("y") - 0.5),
                F.lit("), ("),
                s(F.col("fx") + 1 + F.col("s4") * 0.5), F.lit(" "),
                s(F.col("y") - 0.5), F.lit("), ("),
                s(F.col("fx") + 1 + F.col("s4") * 0.5), F.lit(" "),
                s(F.col("y") + 0.5), F.lit("), ("),
                s(F.col("fx")), F.lit(" "), s(F.col("y") + 0.5),
                F.lit("))"),
            )
        ).alias("mp4"),
    )
    return g.select(
        "custkey",
        st_within("p", "a", P, W).alias("within_pa"),
        st_touches("p", "a", P, W).alias("touches_pa"),
        st_contains("a", "p", W, P).alias("contains_ap"),
        st_disjoint("p", "b", P, W).alias("disjoint_pb"),
        st_equals("p", "q", P, P).alias("equals_pq"),
        st_crosses("l1", "l2", W, W).alias("crosses_l"),
        st_overlaps("a", "o", W, W).alias("overlaps_ao"),
        st_relate_matrix("a", "o", W, W).alias("relate_ao"),
        st_relate("a", "o", "T********", W, W).alias("relate_hit"),
        st_issimple("ls", W).alias("simple_ls"),
        F.round(st_length(st_boundary("ab", W), W), 6).alias("blen"),
        # r11 family (each with a closed-form oracle mirror):
        # covers admits boundary contact (x = fx rows) where contains won't
        st_covers("b", "p", W, P).alias("covers_bp"),
        st_coveredby("a", "o", W, W).alias("cby_ao"),
        F.round(st_maxdistance("a", "b", W, W), 6).alias("maxd_ab"),
        F.round(st_frechetdistance("l1", "l2", W, W), 6).alias("frechet_l"),
        st_isclosed("lc", W).alias("closed_lc"),
        st_isring("lc", W).alias("ring_lc"),
        st_numpoints("lc", W).alias("npts_lc"),
        st_zmflag("pz", W).alias("zm_pz"),
        st_ndims("pz", W).alias("nd_pz"),
        F.round(
            st_area(st_clipbybox2d("a0", 0.75, -0.25, 10.0, 10.0, W), W), 6
        ).alias("clip_area"),
        F.round(st_area(st_triangulatepolygon("ab", W), W), 6).alias("tri_area"),
        F.round(st_length(st_chaikinsmoothing("lr", W), W), 6).alias("chk_len"),
        F.round(st_length(st_reduceprecision("lp", 1.0, W), W), 6).alias("rp_len"),
        # LRS: measure lp over [0, 10], interpolate at x + s3 (t = s3/2.3)
        F.round(
            st_interpolatepoint(
                st_addmeasure("lp", 0.0, 10.0, W), "pm", W, P
            ),
            6,
        ).alias("lrs_m"),
        # bounding diagonal of the (1 + s4/2) x 1 box; its MRR is itself
        F.round(st_length(st_boundingdiagonal("ab", W), W), 6).alias("bd_len"),
        F.round(
            st_area(st_minimumrotatedrectangle("ab", W), W), 6
        ).alias("mrr_area"),
        # CPA: relative x gap 2t - 2 - s2 -> zero at t = 1 + s2/2 (inside
        # the overlap [s2, 2] for s2 in {0, 1}); lateral gap 1 + s3
        F.round(
            st_closestpointofapproach("ta", "tb", W, W), 6
        ).alias("cpa_t"),
        F.round(st_distancecpa("ta", "tb", W, W), 6).alias("cpa_d"),
        # r12 (VERDICT r11 #6): fraction-along-line interpolation on the
        # data-derived lp (x 0) -> (x+2.3, 0); at f=0.5 the point's x is
        # x + half the parsed span — the mirror repeats the identical
        # double arithmetic ((x+2.3)-x), so the 6-dp round matches
        F.round(
            st_x(st_lineinterpolatepoint("lp", 0.5, W)), 6
        ).alias("lip_x"),
        # r13 (VERDICT r12 #6): the previously pytest-only wave-5/6/7
        # families, each with a closed-form mirror. ST_IsValidDetail over
        # vp (valid box vs center-crossing bowtie: flag, reason string,
        # failure-location x); ST_SwapOrdinates('xy') + ordinate extrema
        # (ymax of the swapped ab = xmax of ab; xmin of ab = fx);
        # polygon orientation (ab is built CCW, ForcePolygonCW flips it);
        # dump cardinalities (lc segments, ab rings); Weiszfeld geometric
        # median of the mp4 corner set (= exact center); SimplifyVW at
        # tolerance 1 (the lr elbow's effective area is (s4+1)/2, so the
        # middle vertex drops only at s4=0).
        st_isvaliddetail("vp", W)["valid"].alias("vd_ok"),
        F.coalesce(
            st_isvaliddetail("vp", W)["reason"], F.lit("ok")
        ).alias("vd_reason"),
        F.round(
            st_x(st_isvaliddetail("vp", W)["location"], W), 6
        ).alias("vd_x"),
        F.round(
            st_ymax(st_swapordinates("ab", "xy", W), W), 6
        ).alias("swap_ymax"),
        F.round(st_xmin("ab", W), 6).alias("xmin_ab"),
        (
            st_ispolygoncw(st_forcepolygoncw("ab", W), W)
            & ~st_ispolygoncw("ab", W)
        ).alias("cw_flip"),
        F.round(st_area(st_forcepolygoncw("ab", W), W), 6).alias("cw_area"),
        (
            F.size(st_dumpsegments("lc", W)) * 10
            + F.size(st_dumprings("ab", W))
        ).alias("dump_counts"),
        F.round(st_x(st_geometricmedian("mp4", W), W), 6).alias("gmed_x"),
        st_numpoints(st_simplifyvw("lr", 1.0, W), W).alias("vw_n"),
    ).orderBy("custkey")


_Q_ST_PREDICATE_ORACLE = """
WITH b AS (
  SELECT c_custkey AS custkey, c_acctbal AS x, floor(c_acctbal) AS fx,
         c_custkey % 3 AS s3, c_custkey % 2 AS s2, c_custkey % 4 AS s4
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT custkey,
       (x > fx)       AS within_pa,
       (x = fx)       AS touches_pa,
       (x > fx)       AS contains_ap,
       (s3 >= 1)      AS disjoint_pb,
       (x - fx = 0.5) AS equals_pq,
       (s2 = 0)       AS crosses_l,
       (s3 = 1)       AS overlaps_ao,
       CASE s3 WHEN 0 THEN '2FFF1FFF2' WHEN 1 THEN '212111212'
               ELSE 'FF2F11212' END AS relate_ao,
       (s3 <= 1)      AS relate_hit,
       (s2 = 0)       AS simple_ls,
       cast(4 + s4 AS DOUBLE) AS blen,
       -- r11 family mirrors (same interval arithmetic; all half-offsets
       -- and the sqrt operands are exactly representable doubles)
       (s3 = 0)       AS covers_bp,
       (s3 = 0)       AS cby_ao,
       round(sqrt((s3 + 1) * (s3 + 1) + 1.0), 6) AS maxd_ab,
       round(sqrt(4.0 * s2 * s2 + 4.0), 6)       AS frechet_l,
       (s2 = 0)       AS closed_lc,
       (s2 = 0)       AS ring_lc,
       CAST(4 - s2 AS INTEGER)     AS npts_lc,
       CAST(2 - 2 * s2 AS INTEGER) AS zm_pz,
       CAST(3 - s2 AS INTEGER)     AS nd_pz,
       round(0.75 * (s3 * 0.5 + 1 - greatest(s3 * 0.5, 0.75)), 6) AS clip_area,
       round(1.0 + s4 * 0.5, 6)    AS tri_area,
       round(0.5 + sqrt(0.0625 + 0.0625 * (s4 + 1) * (s4 + 1))
             + 0.5 * (s4 + 1), 6)  AS chk_len,
       round(abs(floor(x + 2.3 + 0.5) - floor(x + 0.5)), 6) AS rp_len,
       round(10.0 * s3 / 2.3, 6) AS lrs_m,
       round(sqrt((1.0 + s4 * 0.5) * (1.0 + s4 * 0.5) + 1.0), 6) AS bd_len,
       round(1.0 + s4 * 0.5, 6) AS mrr_area,
       round(1.0 + s2 * 0.5, 6) AS cpa_t,
       round(1.0 + s3, 6) AS cpa_d,
       round(x + 0.5 * ((x + 2.3) - x), 6) AS lip_x,
       (s2 = 0) AS vd_ok,
       CASE WHEN s2 = 1 THEN 'self-intersecting ring'
            ELSE 'ok' END AS vd_reason,
       CASE WHEN s2 = 1 THEN round(fx + 0.5, 6) END AS vd_x,
       round(fx + 1 + s4 * 0.5, 6) AS swap_ymax,
       round(fx, 6) AS xmin_ab,
       TRUE AS cw_flip,
       round(1.0 + s4 * 0.5, 6) AS cw_area,
       CAST((3 - s2) * 10 + 1 AS INTEGER) AS dump_counts,
       round(fx + 0.5 + 0.25 * s4, 6) AS gmed_x,
       CAST(CASE WHEN s4 = 0 THEN 2 ELSE 3 END AS INTEGER) AS vw_n
FROM b ORDER BY custkey
"""


def _q_st_construct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unary accessor + constructive suite: ST_GeometryType / ST_Dimension /
    ST_IsEmpty / ST_SRID / ST_NPoints / ST_AsBinary (WKB length + full
    text-binary-text round-trip) / ST_ConvexHull / ST_Buffer (flat, square
    and round endcaps) — the remaining pytest-only SURVEY §2 rows.

    Per nation: a typed geometry cycling point/linestring/polygon/multipoint
    by key%4, overridden to the typed EMPTY when key%5==0 (so the EMPTY
    conventions are oracle-checked too); the convex hull of the nation's
    customer-bbox corners plus the mean point (hull area == bbox area, and
    the interior mean point proves hull pruning); buffers of a length-
    (1+key%3) horizontal segment at radius 1.25 (flat: area 2rL exactly;
    square: 2rL+4r^2) and of a point at radius 2 with quad_segs=8 (round:
    inscribed 32-gon, area 64*sin(pi/16))."""
    from datafusion_spatial_spark.functions.predicates import (
        st_area,
        st_buffer,
        st_convexhull,
    )
    from datafusion_spatial_spark.functions.scalar import (
        st_asbinary,
        st_astext,
        st_dimension,
        st_geomfromtext,
        st_geometrytype,
        st_isempty,
        st_npoints,
        st_srid,
    )
    from datafusion_spatial_spark.meta import GeometryMeta

    W = GeometryMeta(encoding="WKB")

    def s(c: F.Column) -> F.Column:
        return c.cast("string")

    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_nationkey").cast("double").alias("nx"),
        (F.col("n_nationkey") % 4).alias("t4"),
        (F.col("n_nationkey") % 3).cast("double").alias("t3"),
        (F.col("n_nationkey") % 5 == 0).alias("mk_empty"),
    )
    typed_wkt = (
        F.when(F.col("t4") == 0, F.concat(F.lit("POINT ("), s(F.col("nx")), F.lit(" 1)")))
        .when(
            F.col("t4") == 1,
            F.concat(
                F.lit("LINESTRING ("), s(F.col("nx")), F.lit(" 0, "),
                s(F.col("nx") + 2), F.lit(" 0, "), s(F.col("nx") + 2), F.lit(" 3)"),
            ),
        )
        .when(
            F.col("t4") == 2,
            F.concat(
                F.lit("POLYGON (("), s(F.col("nx")), F.lit(" 0, "),
                s(F.col("nx") + 1 + F.col("t3") * 0.5), F.lit(" 0, "),
                s(F.col("nx") + 1 + F.col("t3") * 0.5), F.lit(" 1, "),
                s(F.col("nx")), F.lit(" 1, "), s(F.col("nx")), F.lit(" 0))"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("MULTIPOINT (("), s(F.col("nx")), F.lit(" 0), ("),
                s(F.col("nx") + 1), F.lit(" 1))"),
            )
        )
    )
    empty_wkt = (
        F.when(F.col("t4") == 0, F.lit("POINT EMPTY"))
        .when(F.col("t4") == 1, F.lit("LINESTRING EMPTY"))
        .when(F.col("t4") == 2, F.lit("POLYGON EMPTY"))
        .otherwise(F.lit("MULTIPOINT EMPTY"))
    )
    g = nat.select(
        "nationkey", "t3",
        st_geomfromtext(
            F.when(F.col("mk_empty"), empty_wkt).otherwise(typed_wkt)
        ).alias("g"),
        st_geomfromtext(
            F.concat(
                F.lit("LINESTRING ("), s(F.col("nx") * 10), F.lit(" 0, "),
                s(F.col("nx") * 10 + 1 + F.col("t3")), F.lit(" 0)"),
            )
        ).alias("seg"),
        st_geomfromtext(
            F.concat(F.lit("POINT ("), s(F.col("t3")), F.lit(" "),
                     s(F.col("nationkey") % 7), F.lit(")"))
        ).alias("bpt"),
    )
    unary = g.select(
        "nationkey",
        st_geometrytype("g", W).alias("gtype"),
        st_dimension("g", W).alias("dim"),
        st_isempty("g", W).alias("emp"),
        st_srid("g", W).alias("srid"),
        st_npoints("g", W).alias("npts"),
        F.length(st_asbinary("g", W)).cast("long").alias("wkb_len"),
        (st_astext(st_asbinary("g", W), W) == st_astext("g", W)).alias("rt_ok"),
        F.round(
            st_area(st_buffer("seg", 1.25, W, params="quad_segs=8 endcap=flat"), W), 6
        ).alias("buf_flat"),
        F.round(
            st_area(st_buffer("seg", 1.25, W, params="quad_segs=8 endcap=square"), W),
            6,
        ).alias("buf_square"),
        F.round(st_area(st_buffer("bpt", 2.0, W, params="quad_segs=8"), W), 6).alias(
            "buf_round"
        ),
    )
    corners = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.min("c_acctbal").alias("x0"),
            F.max("c_acctbal").alias("x1"),
            F.min(F.col("c_custkey").cast("double")).alias("y0"),
            F.max(F.col("c_custkey").cast("double")).alias("y1"),
            F.avg("c_acctbal").alias("cx"),
            F.avg(F.col("c_custkey").cast("double")).alias("cy"),
        )
    )

    def s2(c):
        return c.cast("string")

    mp = corners.select(
        "nationkey",
        st_geomfromtext(
            F.concat(
                F.lit("MULTIPOINT (("),
                s2(F.col("x0")), F.lit(" "), s2(F.col("y0")), F.lit("), ("),
                s2(F.col("x1")), F.lit(" "), s2(F.col("y0")), F.lit("), ("),
                s2(F.col("x1")), F.lit(" "), s2(F.col("y1")), F.lit("), ("),
                s2(F.col("x0")), F.lit(" "), s2(F.col("y1")), F.lit("), ("),
                s2(F.col("cx")), F.lit(" "), s2(F.col("cy")), F.lit("))"),
            )
        ).alias("mp"),
    )
    hull = mp.select(
        "nationkey",
        F.round(st_area(st_convexhull("mp", W), W), 6).alias("hull_area"),
    )
    return unary.join(hull, "nationkey").orderBy("nationkey")


_Q_ST_CONSTRUCT_ORACLE = """
WITH n AS (
  SELECT n_nationkey AS nationkey, n_nationkey % 4 AS t4,
         cast(n_nationkey % 3 AS DOUBLE) AS t3,
         (n_nationkey % 5 = 0) AS mk_empty
  FROM nation
), hull AS (
  SELECT c_nationkey AS nationkey,
         round((max(c_acctbal) - min(c_acctbal))
               * (max(cast(c_custkey AS DOUBLE))
                  - min(cast(c_custkey AS DOUBLE))), 6) AS hull_area
  FROM customer GROUP BY c_nationkey
)
SELECT n.nationkey,
       CASE t4 WHEN 0 THEN 'ST_Point' WHEN 1 THEN 'ST_LineString'
               WHEN 2 THEN 'ST_Polygon' ELSE 'ST_MultiPoint' END AS gtype,
       CASE t4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END AS dim,
       mk_empty AS emp,
       0 AS srid,
       CASE WHEN mk_empty THEN 0
            ELSE CASE t4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5 ELSE 2 END
       END AS npts,
       cast(CASE WHEN mk_empty THEN CASE t4 WHEN 0 THEN 21 ELSE 9 END
                 ELSE CASE t4 WHEN 0 THEN 21 WHEN 1 THEN 57
                              WHEN 2 THEN 93 ELSE 51 END
            END AS BIGINT) AS wkb_len,
       TRUE AS rt_ok,
       round(2.5 * (1 + t3), 6) AS buf_flat,
       round(2.5 * (1 + t3) + 6.25, 6) AS buf_square,
       round(64 * sin(pi() / 16), 6) AS buf_round,
       hull.hull_area
FROM n JOIN hull ON n.nationkey = hull.nationkey
ORDER BY n.nationkey
"""


def _q_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink gate (VERDICT r7 item 4): write orders directory-partitioned by
    status (operators/storage.write_partitioned), read it back and
    aggregate; write customer points as a Hilbert-clustered spatial layout
    (write_spatial) and window-scan it back (spatial_scan: directory prune
    + bbox prune, exact for points). Both read-back aggregates must equal
    DuckDB aggregating the SOURCE tables — any row lost/duplicated/mangled
    by the write or by layout pruning breaks the hash."""
    import tempfile

    from datafusion_spatial_spark.functions.scalar import st_point
    from datafusion_spatial_spark.meta import GeometryMeta
    from datafusion_spatial_spark.operators.storage import (
        spatial_scan,
        write_partitioned,
        write_spatial,
    )

    # key the scratch dir by the FULL sf_dir and this process: basename
    # alone collides for same-named datasets, and two concurrent replays
    # sharing one dir race the overwrite against the read-back scan
    import hashlib

    base = os.path.join(
        tempfile.gettempdir(), "spark_graft_gates",
        "%s-%s-%d" % (
            os.path.basename(os.path.normpath(sf_dir)),
            hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:8],
            os.getpid(),
        ),
    )
    orders = load_table(spark, sf_dir, "orders")
    p_part = os.path.join(base, "orders_by_status")
    write_partitioned(orders, p_part, ["o_orderstatus"])
    part = (
        spark.read.parquet(p_part)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("v"),
        )
        .select(
            F.lit("partitioned").alias("part"),
            F.col("o_orderstatus").alias("k"),
            "n",
            "v",
        )
    )
    point_meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        st_point(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias("geom"),
    )
    p_spat = os.path.join(base, "cust_spatial")
    write_spatial(
        cust, p_spat, "geom", point_meta,
        extent=(-1000.0, 0.0, 10000.0, 200000.0),
        level=12, coarse_level=2, num_files=4,
    )
    spat = (
        spatial_scan(spark, p_spat, (0.0, 0.0, 5000.0, 400.0))
        .agg(
            F.count("*").alias("n"),
            F.sum("c_custkey").cast("double").alias("v"),
        )
        .select(F.lit("spatial").alias("part"), F.lit("window").alias("k"), "n", "v")
    )
    out = part.unionAll(spat).orderBy("part", "k")
    # materialize the (tiny, O(#statuses)) aggregate now so the scratch
    # data can be deleted before returning — repeated gate/bench replays
    # previously accumulated unbounded pid-keyed copies under /tmp (r9
    # advice fix). The caller still gets a lazy DataFrame, but one backed
    # by local rows instead of the on-disk write.
    rows = out.collect()
    result = spark.createDataFrame(rows, out.schema).orderBy("part", "k")
    shutil.rmtree(base, ignore_errors=True)
    _sweep_dead_scratch(os.path.dirname(base))
    return result


def _sweep_dead_scratch(root: str, max_age_sec: float = 86400.0) -> None:
    """Remove sibling scratch dirs whose creating process is gone (crashed
    or interrupted replays — their success-path cleanup never ran).

    Signals (r11 advice fix — the age sweep must never fire on a
    verifiably-alive owner): a dead PID sweeps immediately; an old dir
    (> ``max_age_sec``) sweeps ONLY when the PID probe is inconclusive —
    ``os.kill`` raised EPERM (exists, not ours) or ``/proc/<pid>``'s
    creation time postdates the scratch dir (the PID was recycled by an
    unrelated process). A PID that is alive AND started before the dir
    existed is treated as the legitimate owner and its scratch is kept,
    however old — a >24h replay keeps its scratch for its whole run."""
    try:
        entries = os.listdir(root)
    except OSError:
        return
    now = time.time()
    for name in entries:
        pid_s = name.rsplit("-", 1)[-1]
        if not pid_s.isdigit():
            continue
        pid = int(pid_s)
        if pid == os.getpid():
            continue
        path = os.path.join(root, name)
        try:
            os.kill(pid, 0)
            verifiable = True  # alive and signalable (same uid)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
            continue
        except OSError:
            verifiable = False  # EPERM: some process exists, not ours
        try:
            st = os.stat(path)
            age = now - max(st.st_mtime, st.st_ctime)
        except OSError:
            continue  # raced away
        if age <= max_age_sec:
            continue
        if verifiable:
            # PID-recycling check: /proc/<pid> is created at process
            # start; a start time AFTER the dir's creation means the
            # original owner died and the PID was reused.
            try:
                proc_start = os.stat("/proc/%d" % pid).st_ctime
            except OSError:
                proc_start = None  # no /proc: unverifiable ownership
            if proc_start is not None and proc_start <= st.st_ctime + 5.0:
                continue  # plausibly the real owner, however old: keep
        shutil.rmtree(path, ignore_errors=True)


_Q_WRITE_ROUNDTRIP_ORACLE = """
SELECT 'partitioned' AS part, o_orderstatus AS k,
       count(*) AS n, round(sum(o_totalprice), 2) AS v
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'spatial' AS part, 'window' AS k,
       count(*) AS n, cast(sum(c_custkey) AS DOUBLE) AS v
FROM customer
WHERE c_acctbal BETWEEN 0 AND 5000 AND c_custkey BETWEEN 0 AND 400
ORDER BY part, k
"""


# ---------------------------------------------------------------------------
# extension: dedup / text / similarity

SHINGLE_K = 3
N_MINHASH = 16
N_BANDS = 4
JACCARD_T = 0.2
N_PLANES = 6
PLANES_SEED = 7
EMB_DIMS = 64


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5(F.col("text")))).alias("n_dupes"),
    )


_Q_DEDUP_EXACT_ORACLE = """
SELECT count(*) AS n_total,
       cast(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       cast(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes
FROM documents
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_spatial_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=SHINGLE_K, threshold=JACCARD_T,
        hash_fn="poly",
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _duckdb_shingles(text_expr: str, k: int) -> str:
    w = f"regexp_split_to_array(trim({text_expr}), '\\s+')"
    return (
        f"list_transform(range(1, greatest(len({w}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({w}, i, i + {k - 1}), ' '))"
    )


def _q_ngram_jaccard_oracle() -> str:
    sh = _duckdb_shingles("text", SHINGLE_K)
    ph = poly_hash_str_duckdb("s")
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform({sh}, s -> {ph})) AS hs
  FROM documents
), posting AS (
  SELECT doc_id, unnest(hs) AS h FROM sh
), sizes AS (
  SELECT doc_id, len(hs) AS n FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(common / (na.n + nb.n - common), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE common / (na.n + nb.n - common) >= {JACCARD_T}
ORDER BY id_a, id_b
"""


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_spatial_spark.operators.dedup import minhash_lsh_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_dedup_pairs(
        docs, "text", "doc_id", num_hashes=N_MINHASH, bands=N_BANDS,
        shingle_k=SHINGLE_K, jaccard_threshold=JACCARD_T, hash_fn="poly",
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _minhash_pair_ctes() -> str:
    """The shared DuckDB CTE chain producing MinHash-LSH candidate pairs
    (``cand``) + signatures (``sig``) — used by both the pair-mining oracle
    and the corpus-dedup (connected components) oracle."""
    rows_per_band = N_MINHASH // N_BANDS
    sh = _duckdb_shingles("text", SHINGLE_K)
    ph = poly_hash_str_duckdb("s")
    params = minhash_affine_params(N_MINHASH)
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {P}))"
        for a, b in params
    )
    band_slice = f"list_slice(sig, band * {rows_per_band} + 1, band * {rows_per_band} + {rows_per_band})"
    band_hash = (
        f"list_reduce(list_prepend(cast(0 AS BIGINT), {band_slice}), "
        f"(acc, x) -> (acc * 131 + x) % {P})"
    )
    return f"""sh AS (
  SELECT doc_id, {sh} AS shingles FROM documents
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles, s -> {ph} % {P})) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, hs, [{sig_items}] AS sig FROM hs
), banded AS (
  SELECT doc_id, band, {band_hash} AS band_hash
  FROM sig, (SELECT unnest(range(0, {N_BANDS})) AS band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
)"""


def _q_minhash_lsh_oracle() -> str:
    return f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b,
       round(len(list_intersect(sa.hs, sb.hs))
             / len(list_distinct(list_cat(sa.hs, sb.hs))), 6) AS jaccard
FROM cand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.hs, sb.hs))
      / len(list_distinct(list_cat(sa.hs, sb.hs))) >= {JACCARD_T}
ORDER BY id_a, id_b
"""


def _q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs + MinHash-LSH pairs in one gate query
    (UNION ALL with a ``method`` discriminator — merged r7 to free a gate
    slot under the 50-query cap; both operators stay fully exercised)."""
    ng = _q_ngram_jaccard(spark, sf_dir).withColumn("method", F.lit("ngram"))
    mh = _q_minhash_lsh(spark, sf_dir).withColumn("method", F.lit("minhash"))
    return ng.unionByName(mh).orderBy("method", "id_a", "id_b")


def _q_near_dup_pairs_oracle() -> str:
    return f"""
SELECT 'ngram' AS method, * FROM ({_q_ngram_jaccard_oracle()})
UNION ALL
SELECT 'minhash' AS method, * FROM ({_q_minhash_lsh_oracle()})
ORDER BY method, id_a, id_b
"""


LINE_WORDS = 8  # gate-side re-chunking: 8-word lines (corpus has no \\n)


def _chunked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with text re-chunked into LINE_WORDS-word lines joined by
    newline — a deterministic line structure for the line-dedup gate
    query, reproduced verbatim by the DuckDB oracle (range semantics:
    start indices 1, 9, ... strictly below ``len(w) - (LINE_WORDS - 1)``,
    matching DuckDB ``range(1, len(w) - 7, 8)`` which is stop-exclusive)."""
    docs = load_table(spark, sf_dir, "documents")

    def lines(w):  # w: the word array, split once per row (dedup.let)
        last_excl = F.size(w) - F.lit(LINE_WORDS - 1)
        starts = F.when(
            last_excl > 1,
            F.sequence(F.lit(1), last_excl - F.lit(1), F.lit(LINE_WORDS)),
        ).otherwise(F.array().cast("array<int>"))
        return F.concat_ws(
            "\n",
            F.transform(
                starts, lambda i: F.concat_ws(" ", F.slice(w, i, LINE_WORDS))
            ),
        )

    content = let(F.split(F.trim(F.col("text")), r"\s+"), lines)
    return docs.select("doc_id", content.alias("content"))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate line removal over the re-chunked
    corpus: lines >= 5 chars occurring in > 1 distinct document are
    dropped everywhere; result is per-doc md5 of the cleaned text plus
    line counts (operators/dedup.line_dedup).

    Part 2 (r12, same rows): ExactSubstr-style duplicate-SPAN columns
    (operators/dedup.duplicate_spans, Lee et al. 2022 class) over the
    same chunked content — 8-token windows repeated in >= 2 distinct
    docs, merged per doc into maximal spans; the gate value-checks the
    FULL span structure via md5 of the sorted "start:end" list plus
    span/window counts, with the DuckDB oracle re-deriving the spans
    through the identical gaps-and-islands construction.

    Part 3 (r13, same rows): the REMOVAL output of
    operators/dedup.remove_duplicate_spans is value-gated too —
    ``removed_md5`` hashes the post-removal token stream (duplicate
    spans excised, survivors re-joined with single spaces) and
    ``n_dropped_tokens`` counts excised tokens; the oracle re-derives
    both from its spans CTE by anti-joining token positions against
    the union of span ranges."""
    from datafusion_spatial_spark.operators.dedup import (
        duplicate_spans,
        line_dedup,
        remove_duplicate_spans,
    )

    docs = _chunked_docs(spark, sf_dir)
    out = line_dedup(
        docs, "content", "doc_id", max_doc_freq=1, min_line_chars=5,
        hash_fn="exact",
    )
    spans = duplicate_spans(
        docs, "content", "doc_id", k=8, min_doc_count=2, hash_fn="exact"
    )
    sp = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("n_windows").cast("long").alias("n_dup_windows"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_start", "span_end"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["span_start"].cast("string"),
                        s["span_end"].cast("string"),
                    ),
                ),
            )
        ).alias("spans_md5"),
    )
    removed = remove_duplicate_spans(
        docs, "content", "doc_id", k=8, min_doc_count=2, hash_fn="exact"
    ).select(
        "doc_id",
        F.md5("clean_text").alias("removed_md5"),
        F.col("n_dropped_tokens").cast("long").alias("n_dropped_tokens"),
    )
    return (
        out.join(sp, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                "n_dup_spans"
            ),
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.coalesce("spans_md5", F.md5(F.lit(""))).alias("spans_md5"),
            F.coalesce("removed_md5", F.md5(F.lit(""))).alias(
                "removed_md5"
            ),
            F.coalesce(
                "n_dropped_tokens", F.lit(0).cast("long")
            ).alias("n_dropped_tokens"),
        )
        .orderBy("doc_id")
    )


_Q_LINE_DEDUP_ORACLE = r"""
WITH docs AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, len(w) - 7, 8),
             i -> array_to_string(list_slice(w, i, i + 7), ' ')), chr(10)) AS content
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
), lines AS (
  SELECT doc_id, u.pos AS pos, u.line AS line
  FROM (SELECT doc_id, string_split(content, chr(10)) AS parts FROM docs),
       UNNEST(list_transform(range(1, len(parts) + 1),
                             i -> {'pos': i - 1, 'line': parts[i]})) AS t(u)
), flagged AS (
  SELECT doc_id, pos, line,
         (len(trim(line)) >= 5) AS eligible, trim(line) AS key
  FROM lines
), hot AS (
  SELECT key FROM (SELECT DISTINCT doc_id, key FROM flagged WHERE eligible)
  GROUP BY key HAVING count(*) > 1
), joined AS (
  SELECT f.doc_id, f.pos, f.line,
         (f.eligible AND h.key IS NOT NULL) AS dropped
  FROM flagged f LEFT JOIN hot h ON f.key = h.key
), base AS (
  SELECT doc_id,
         md5(coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                                 chr(10) ORDER BY pos), '')) AS clean_md5,
         count(*) AS n_lines,
         cast(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
  FROM joined GROUP BY doc_id
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(content), '\s+') AS tk FROM docs
), wins AS (
  -- positions unnest as a plain range; the window string slices in the
  -- OUTER select (DuckDB 1.0's binder rejects list_slice inside a
  -- struct literal under a lateral-UNNEST lambda)
  SELECT doc_id, u AS pos,
         array_to_string(list_slice(tk, u + 1, u + 8), ' ') AS key
  FROM (SELECT doc_id, tk FROM toks WHERE len(tk) >= 8),
       UNNEST(range(0, len(tk) - 7)) AS s(u)
), whot AS (
  SELECT key FROM (SELECT DISTINCT doc_id, key FROM wins)
  GROUP BY key HAVING count(*) >= 2
), dup AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN whot h ON w.key = h.key
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e, count(*) AS nw
  FROM isl GROUP BY doc_id, island
), sp AS (
  SELECT doc_id,
         cast(count(*) AS BIGINT) AS n_dup_spans,
         cast(sum(nw) AS BIGINT) AS n_dup_windows,
         md5(string_agg(cast(s AS VARCHAR) || ':' || cast(e AS VARCHAR),
                        ',' ORDER BY s)) AS spans_md5
  FROM spans GROUP BY doc_id
), alltok AS (
  SELECT doc_id, u AS p, tk[u + 1] AS tok
  FROM toks, UNNEST(range(0, len(tk))) AS s(u)
), droppos AS (
  SELECT doc_id, unnest(range(s, e)) AS p FROM spans
), rm AS (
  SELECT a.doc_id,
         md5(coalesce(string_agg(CASE WHEN d.p IS NULL THEN a.tok END,
                                 ' ' ORDER BY a.p), '')) AS removed_md5,
         cast(sum(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_tokens
  FROM alltok a LEFT JOIN droppos d ON a.doc_id = d.doc_id AND a.p = d.p
  GROUP BY a.doc_id
)
SELECT b.doc_id, b.clean_md5, b.n_lines, b.n_dropped,
       coalesce(sp.n_dup_spans, 0) AS n_dup_spans,
       coalesce(sp.n_dup_windows, 0) AS n_dup_windows,
       coalesce(sp.spans_md5, md5('')) AS spans_md5,
       coalesce(rm.removed_md5, md5('')) AS removed_md5,
       coalesce(rm.n_dropped_tokens, 0) AS n_dropped_tokens
FROM base b LEFT JOIN sp ON b.doc_id = sp.doc_id
             LEFT JOIN rm ON b.doc_id = rm.doc_id
ORDER BY b.doc_id
"""


def _q_dedup_corpus_oracle() -> str:
    """Connected-components mirror: the LSH pair list (same CTEs as the
    pair-mining oracle) becomes a symmetric edge list; a recursive CTE
    computes full reachability (UNION-dedup bounds it at |V|·|component|
    rows — fine at gate scale); component = min reachable id; survivors =
    documents that are not a non-minimum member of any component. Mirrors
    operators/dedup.connected_components + dedup_corpus exactly."""
    return f"""
WITH RECURSIVE {_minhash_pair_ctes()}, pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.hs, sb.hs))
        / len(list_distinct(list_cat(sa.hs, sb.hs))) >= {JACCARD_T}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
), losers AS (
  SELECT id FROM comp WHERE component <> id
), doc_sh AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_duckdb('text', 13)})) AS sh
  FROM documents
), bench_sh AS (
  SELECT DISTINCT unnest(list_distinct({word_shingles_duckdb('text', 13)})) AS sh
  FROM documents WHERE doc_id % 97 = 0
), contaminated AS (
  SELECT DISTINCT d.doc_id FROM doc_sh d JOIN bench_sh b ON d.sh = b.sh
)
SELECT 'cc' AS part, doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM losers)
UNION ALL
SELECT 'decon' AS part, doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY part, doc_id
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_spatial_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "text", "doc_id", hash_fn="poly").orderBy("doc_id")


def _q_simhash_oracle() -> str:
    ph = poly_hash_str_duckdb("wd")
    return f"""
WITH h AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        wd -> {ph}) AS hs
  FROM documents
), votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN cast(floor(h / pow(2, bit)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM (SELECT doc_id, unnest(hs) AS h FROM h),
       (SELECT unnest(range(0, 30)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       cast(sum(CASE WHEN v > 0 THEN pow(2, bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 folds the PII counters and Gopher-style repetition stats in
    (VERDICT r9 #5); r11 adds phone/ssn (VERDICT r10 #6) via the
    lookaround-free split-boundary construction (operators/text.
    _boundary_count) that RE2 can mirror — the old lookaround patterns
    DuckDB rejected are now only used by redact_pii. Plus
    dup_line/2gram/3gram fractions from repetition_stats."""
    from datafusion_spatial_spark.operators.text import (
        pii_counts,
        repetition_cols,
        text_stats,
    )

    docs = load_table(spark, sf_dir, "documents")

    # r16 (VERDICT r15 #7): the PII and repetition legs are per-row
    # projections of the SAME documents scan the stat set reads — the old
    # three-frames-joined-on-doc_id shape re-scanned the corpus twice and
    # paid two joins for rows that line up 1:1 by construction. They now
    # ride the one text_stats projection: ONE scan, zero joins (matches
    # the oracle, which computes every column from a single SELECT).
    def _extras(t):
        return (
            pii_counts(t, ("email", "ipv4", "phone", "ssn")).alias("__pii"),
            *repetition_cols(t, ngram_ks=(2, 3)),
        )

    out = text_stats(
        docs, "text", "doc_id",
        extra_cols=_extras, extra_key=("q_text_stats", "pii4", (2, 3)),
    )
    return out.select(
        "doc_id",
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "punct_ratio",
        "stopword_ratio_en",
        "lang_guess",
        "quality",
        "fingerprint",
        F.col("__pii.email").cast("long").alias("pii_email"),
        F.col("__pii.ipv4").cast("long").alias("pii_ipv4"),
        F.col("__pii.phone").cast("long").alias("pii_phone"),
        F.col("__pii.ssn").cast("long").alias("pii_ssn"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
    ).orderBy("doc_id")


def _q_text_stats_oracle() -> str:
    w = "regexp_split_to_array(trim(text), '\\s+')"
    wl = f"list_transform({w}, wd -> lower(wd))"
    hits = {
        lang: (
            f"len(list_filter({wl}, wd -> wd IN "
            f"({', '.join(repr(s) for s in sw)})))"
        )
        for lang, sw in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)  # alphabetical-first wins ties
    cases = []
    for i, lang in enumerate(langs):
        others = [hits[o] for o in langs[i + 1 :]]
        conds = [f"{hits[lang]} > 0"] + [f"{hits[lang]} >= {o}" for o in others]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_case = "CASE " + " ".join(cases) + " ELSE 'und' END"
    punct = (
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        "length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text) END"
    )
    n = f"len({w})"
    distinct_ratio = f"len(list_distinct({wl})) / {n}"
    quality = (
        f"0.4 * least({n} / 100.0, 1.0) + 0.4 * ({distinct_ratio}) "
        f"+ 0.2 * (1.0 - least(4.0 * ({punct}), 1.0))"
    )
    norm = f"array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')"
    fp = poly_hash_str_duckdb(norm)
    bpe = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
    # PII mirrors (r10): identical pattern strings — both are plain
    # character-class regexes valid in Java regex AND RE2 with the same
    # semantics (\b word boundary, ASCII \d, non-capturing groups).
    # phone/ssn (r11): the split-boundary construction — segments between
    # raw-core matches, a match is valid when the previous segment does
    # not end and the next does not start with a digit (the lookaround
    # guards, without lookaround)
    from datafusion_spatial_spark.operators.dedup import word_shingles_duckdb
    from datafusion_spatial_spark.operators.text import PII_CORES, PII_PATTERNS

    email = PII_PATTERNS["email"].replace("'", "''")
    ipv4 = PII_PATTERNS["ipv4"].replace("'", "''")

    def bcount(kind: str) -> str:
        core = PII_CORES[kind].replace("'", "''")
        segs = f"regexp_split_to_array(text, '{core}')"
        return (
            f"(SELECT CASE WHEN len(s) <= 1 THEN 0 ELSE "
            f"len(list_filter(range(1, len(s)), i -> "
            f"NOT regexp_matches(s[i], '[0-9]$') "
            f"AND NOT regexp_matches(s[i+1], '^[0-9]'))) END "
            f"FROM (SELECT {segs} AS s))"
        )
    # repetition mirrors: dup fraction over newline-split lines / word
    # k-gram shingles — (len - len(list_distinct)) / len, double division
    # in both engines
    lines = "regexp_split_to_array(text, '\\r?\\n')"

    def dup(arr):
        return (
            f"CASE WHEN len({arr}) <= 0 THEN 0.0 "
            f"ELSE (len({arr}) - len(list_distinct({arr}))) "
            f"/ cast(len({arr}) AS DOUBLE) END"
        )

    return f"""
SELECT doc_id,
       cast(length(text) AS BIGINT) AS n_chars_computed,
       cast({n} AS BIGINT) AS n_tokens,
       cast({bpe} AS BIGINT) AS n_bpe_tokens,
       round({punct}, 6) AS punct_ratio,
       round({hits['en']} / {n}, 6) AS stopword_ratio_en,
       {lang_case} AS lang_guess,
       round({quality}, 6) AS quality,
       {fp} AS fingerprint,
       cast(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS pii_email,
       cast(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS pii_ipv4,
       cast({bcount('phone')} AS BIGINT) AS pii_phone,
       cast({bcount('ssn')} AS BIGINT) AS pii_ssn,
       round({dup(lines)}, 6) AS dup_line_frac,
       round({dup(word_shingles_duckdb('text', 2))}, 6) AS dup_2gram_frac,
       round({dup(word_shingles_duckdb('text', 3))}, 6) AS dup_3gram_frac
FROM documents ORDER BY doc_id
"""


# mixture gate weights: four sources get distinct non-trivial keep
# fractions (src0 1.0, src1 2/3, src2 1/3, src3 1/6 at the uniform
# 25-per-source gate corpus), every other source weight-0-drops
MIX_WEIGHTS = {"src0": 3.0, "src1": 2.0, "src2": 1.0, "src3": 0.5}
MIX_SEED = 7


SHARD_SEED = 11
N_SHARDS = 4
PACK_BUDGET = 1024
VOCAB_TOP = 40
BIGRAM_TOP = 20
BPE_TOP = 15


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pipeline composite (r9 folds the mixture gate in; r10 folds
    shuffle_shards + pack_sequences in, VERDICT r9 #5):
    part 'split' = deterministic train/val/test counts by language
    (operators/corpus.hash_split); part 'mixture' = per-source kept
    counts of mixture_sample in its deterministic hash mode — membership
    is a closed-form poly-hash threshold against driver-computed
    per-source fractions, so the oracle reproduces the exact kept SET;
    part 'shards' = shuffle_shards in poly mode, pinned per shard by the
    row count AND the exact-integer checksum sum(shard_pos * doc_id) —
    any transposition of two documents' positions changes it (the oracle
    replays the hash-order window); part 'pack' = pack_sequences' greedy
    fold over the sharded corpus (budget PACK_BUDGET on n_chars), pinned
    per shard by max(seq_id)+1 and sum(seq_id * doc_id + seq_offset) —
    the oracle replays the sequential fold with a recursive CTE; part
    'vocab' (r13) = operators/corpus.vocab's ranked token-frequency
    table (top VOCAB_TOP tokens, count desc / token asc total order),
    re-ranked verbatim by the oracle's window."""
    from datafusion_spatial_spark.operators.corpus import (
        chunk_documents,
        hash_split,
        mixture_sample,
        pack_sequences,
        shuffle_shards,
        vocab,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    split_part = (
        out.groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("split").alias("part"),
            F.col("lang").alias("k1"),
            F.col("split").alias("k2"),
            "n",
        )
    )
    mixed = mixture_sample(
        docs, "source", target_weights=MIX_WEIGHTS, seed=MIX_SEED,
        method="hash", id_col="doc_id",
    )
    mix_part = (
        mixed.groupBy("source")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("mixture").alias("part"),
            F.col("source").alias("k1"),
            F.lit("all").alias("k2"),
            "n",
        )
    )
    sharded = shuffle_shards(
        docs.select("doc_id", "n_chars"), "doc_id", N_SHARDS,
        seed=SHARD_SEED, hash_fn="poly",
    )
    sh = sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("shard_pos") * F.col("doc_id")).cast("long").alias("chk"),
    )
    shard_part = sh.select(
        F.lit("shards").alias("part"),
        F.col("shard").cast("string").alias("k1"),
        F.lit("count").alias("k2"),
        F.col("cnt").alias("n"),
    ).unionAll(
        sh.select(
            F.lit("shards").alias("part"),
            F.col("shard").cast("string").alias("k1"),
            F.lit("poschk").alias("k2"),
            F.col("chk").alias("n"),
        )
    )
    packed = pack_sequences(
        sharded, "doc_id", "n_chars", budget=PACK_BUDGET, shard_col="shard"
    )
    pk = packed.groupBy("shard").agg(
        (F.max("seq_id") + 1).cast("long").alias("nseq"),
        F.sum(
            F.col("seq_id") * F.col("doc_id") + F.col("seq_offset")
        ).cast("long").alias("chk"),
    )
    pack_part = pk.select(
        F.lit("pack").alias("part"),
        F.col("shard").cast("string").alias("k1"),
        F.lit("nseq").alias("k2"),
        F.col("nseq").alias("n"),
    ).unionAll(
        pk.select(
            F.lit("pack").alias("part"),
            F.col("shard").cast("string").alias("k1"),
            F.lit("packchk").alias("k2"),
            F.col("chk").alias("n"),
        )
    )
    # part 'chunk' (r11): token-window chunking (64-token windows, 16
    # overlap -> stride 48), pinned by total chunk count and a
    # boundary-sensitive checksum (any chunk boundary shift changes a
    # chunk's length); the oracle replays the windows with
    # generate_series + list_slice on the same whitespace split
    chunks = chunk_documents(
        docs.select("doc_id", "text"), "text", "doc_id",
        chunk_tokens=64, overlap_tokens=16,
    )
    ck = chunks.agg(
        F.count("*").cast("long").alias("nchunks"),
        F.sum(
            F.col("doc_id") * (F.col("chunk_index") + 1)
            + F.length("chunk")
        ).cast("long").alias("chk"),
    )
    chunk_part = ck.select(
        F.lit("chunk").alias("part"),
        F.lit("all").alias("k1"),
        F.lit("nchunks").alias("k2"),
        F.col("nchunks").alias("n"),
    ).unionAll(
        ck.select(
            F.lit("chunk").alias("part"),
            F.lit("all").alias("k1"),
            F.lit("chunkchk").alias("k2"),
            F.col("chk").alias("n"),
        )
    )
    # part 'vocab' (r13): ranked token-frequency table
    # (operators/corpus.vocab — tokenizer-training preprocessing): the
    # top VOCAB_TOP whitespace tokens with the deterministic
    # (count desc, token asc) total order; the oracle re-ranks with the
    # identical window. One groupBy + TakeOrderedAndProject.
    voc = vocab(docs.select("text"), "text", size=VOCAB_TOP)
    vocab_part = voc.select(
        F.lit("vocab").alias("part"),
        F.col("token").alias("k1"),
        F.col("rank").cast("string").alias("k2"),
        F.col("count").cast("long").alias("n"),
    )
    # part 'bigram' (r13): adjacent token-PAIR counts — the BPE merge
    # statistic (operators/corpus.pair_counts: one zip_with shift, one
    # map-side-combined groupBy); top BIGRAM_TOP with the same
    # deterministic total order, oracle re-derived from the token array
    from pyspark.sql import Window as _W

    from datafusion_spatial_spark.operators.corpus import pair_counts

    pc = pair_counts(docs.select("text"), "text")
    top_pairs = pc.orderBy(F.desc("count"), F.col("pair")).limit(BIGRAM_TOP)
    wb = _W.orderBy(F.desc("count"), F.col("pair"))
    bigram_part = top_pairs.withColumn(
        "rank", F.row_number().over(wb)
    ).select(
        F.lit("bigram").alias("part"),
        F.col("pair").alias("k1"),
        F.col("rank").cast("string").alias("k2"),
        F.col("count").cast("long").alias("n"),
    )
    # part 'bpe' (r14, VERDICT r13 #4): the round-1 BPE merge statistic
    # (operators/corpus.bpe_initial_pair_stats — weighted adjacent
    # CHARACTER pairs over the distinct-word symbol table, chars +
    # '</w>'); top BPE_TOP under the training loop's own deterministic
    # (cnt desc, a, b) order — the first row IS bpe_train's first
    # merge, so the iterative loop's statistic machinery (symbol table
    # build + weighted pair aggregation + tiebreak) is oracle-gated
    # even though the full loop itself is checked by pytest golden.
    from datafusion_spatial_spark.operators.corpus import (
        bpe_initial_pair_stats,
    )

    bpe_part = (
        bpe_initial_pair_stats(docs.select("text"), "text")
        .orderBy(F.desc("cnt"), F.col("a"), F.col("b"))
        .limit(BPE_TOP)
        .select(
            F.lit("bpe").alias("part"),
            F.col("a").alias("k1"),
            F.col("b").alias("k2"),
            F.col("cnt").alias("n"),
        )
    )
    return (
        split_part.unionAll(mix_part)
        .unionAll(shard_part)
        .unionAll(pack_part)
        .unionAll(chunk_part)
        .unionAll(vocab_part)
        .unionAll(bigram_part)
        .unionAll(bpe_part)
        .orderBy("part", "k1", "k2")
    )


def _q_hash_split_oracle() -> str:
    ph = poly_hash_str_duckdb("concat(cast(doc_id AS VARCHAR), ':split')")
    # mixture mirror: same weight literals, same arithmetic shape as
    # mixture_sample (scale = min over matched sources of
    # cnt/(w/total_w); frac = least(1, (w/total_w)*scale/cnt)) — every
    # step is IEEE division/multiplication in the same order, so the
    # fractions are bit-identical to the Spark driver's
    # DuckDB parses bare 3.0 as DECIMAL — whose arithmetic rounds
    # differently from IEEE doubles — so every weight literal is cast;
    # the total is embedded as the Python-computed double (exact here)
    wsum = f"CAST({sum(MIX_WEIGHTS.values())!r} AS DOUBLE)"
    wvalues = ", ".join(
        f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in MIX_WEIGHTS.items()
    )
    # length-prefixed source mirrors the injective key in
    # corpus.mixture_sample (r10 advice fix)
    mph = poly_hash_str_duckdb(
        "concat(cast(length(source) AS VARCHAR), ':', source, ':', "
        f"cast(doc_id AS VARCHAR), ':mix:{MIX_SEED}')"
    )
    # shuffle_shards mirror (r10): h = poly(concat(id, '#seed')) in [0, P),
    # shard = h % n, shard_pos = hash-order rank (ties by id)
    shh = poly_hash_str_duckdb(
        f"concat(cast(doc_id AS VARCHAR), '#{SHARD_SEED}')"
    )
    return f"""
WITH RECURSIVE h AS (
  SELECT lang, {ph} / {float(P)} AS u FROM documents
), split_part AS (
  SELECT 'split' AS part, lang AS k1,
         CASE WHEN u < 0.8 THEN 'train'
              WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS k2,
         count(*) AS n
  FROM h GROUP BY 1, 2, 3
), w(src, wt) AS (
  VALUES {wvalues}
), cnts AS (
  SELECT source, cast(count(*) AS DOUBLE) AS cnt FROM documents
  WHERE source IS NOT NULL GROUP BY source
), scale AS (
  SELECT min(cnt / (wt / ({wsum}))) AS sc
  FROM cnts JOIN w ON cnts.source = w.src WHERE wt > 0
), fracs AS (
  SELECT cnts.source AS fsrc,
         least(1.0, (coalesce(wt, 0.0) / ({wsum})) * sc / cnt) AS frac
  FROM cnts LEFT JOIN w ON cnts.source = w.src CROSS JOIN scale
), mix_part AS (
  SELECT 'mixture' AS part, d.source AS k1, 'all' AS k2, count(*) AS n
  FROM documents d JOIN fracs f ON d.source = f.fsrc
  WHERE {mph} / {float(P)} < f.frac
  GROUP BY d.source
), positioned AS (
  SELECT doc_id, n_chars,
         CAST(sh_h % {N_SHARDS} AS INT) AS shard,
         row_number() OVER (
           PARTITION BY CAST(sh_h % {N_SHARDS} AS INT)
           ORDER BY sh_h, doc_id
         ) - 1 AS pos
  FROM (SELECT doc_id, n_chars, {shh} AS sh_h FROM documents) s
), shard_part AS (
  SELECT 'shards' AS part, cast(shard AS VARCHAR) AS k1, 'count' AS k2,
         count(*) AS n
  FROM positioned GROUP BY shard
  UNION ALL
  SELECT 'shards', cast(shard AS VARCHAR), 'poschk',
         cast(sum(pos * doc_id) AS BIGINT)
  FROM positioned GROUP BY shard
), pk_ordered AS (
  SELECT shard, doc_id, n_chars,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM positioned
), pk_walk AS (
  SELECT shard, doc_id, rn, 0 AS seq, CAST(0 AS BIGINT) AS off,
         CAST(n_chars AS BIGINT) AS total
  FROM pk_ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.rn,
         CASE WHEN w.total + o.n_chars > {PACK_BUDGET}
              THEN w.seq + 1 ELSE w.seq END,
         CASE WHEN w.total + o.n_chars > {PACK_BUDGET}
              THEN CAST(0 AS BIGINT) ELSE w.total END,
         CASE WHEN w.total + o.n_chars > {PACK_BUDGET}
              THEN CAST(o.n_chars AS BIGINT) ELSE w.total + o.n_chars END
  FROM pk_walk w JOIN pk_ordered o
    ON o.shard = w.shard AND o.rn = w.rn + 1
), pack_part AS (
  SELECT 'pack' AS part, cast(shard AS VARCHAR) AS k1, 'nseq' AS k2,
         cast(max(seq) + 1 AS BIGINT) AS n
  FROM pk_walk GROUP BY shard
  UNION ALL
  SELECT 'pack', cast(shard AS VARCHAR), 'packchk',
         cast(sum(seq * doc_id + off) AS BIGINT)
  FROM pk_walk GROUP BY shard
), toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
  FROM documents
), chunk_rows AS (
  SELECT doc_id,
         s.generate_series / 48 AS cidx,
         length(array_to_string(
           list_slice(tk, s.generate_series + 1, s.generate_series + 64),
           ' '
         )) AS clen
  FROM toks,
       LATERAL unnest(generate_series(
         0, CAST(greatest(len(tk) - 1, 0) AS BIGINT), 48
       )) AS s(generate_series)
), chunk_part AS (
  SELECT 'chunk' AS part, 'all' AS k1, 'nchunks' AS k2,
         cast(count(*) AS BIGINT) AS n
  FROM chunk_rows
  UNION ALL
  SELECT 'chunk', 'all', 'chunkchk',
         cast(sum(doc_id * (cidx + 1) + clen) AS BIGINT)
  FROM chunk_rows
), vocab_toks AS (
  SELECT unnest(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
         AS token
  FROM documents
), vocab_counts AS (
  SELECT token, cast(count(*) AS BIGINT) AS cnt
  FROM vocab_toks WHERE token <> '' GROUP BY token
), vocab_part AS (
  SELECT 'vocab' AS part, token AS k1, cast(rk AS VARCHAR) AS k2, cnt AS n
  FROM (SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rk
        FROM vocab_counts) r
  WHERE rk <= {VOCAB_TOP}
), bigram_rows AS (
  SELECT t.tk[s.i] || ' ' || t.tk[s.i + 1] AS pair
  FROM (SELECT regexp_split_to_array(trim(coalesce(text, '')), '\\s+')
        AS tk FROM documents) t,
       UNNEST(range(1, len(t.tk))) AS s(i)
  WHERE len(t.tk) >= 2
), bigram_part AS (
  SELECT 'bigram' AS part, pair AS k1, cast(rk AS VARCHAR) AS k2, cnt AS n
  FROM (SELECT pair, cast(count(*) AS BIGINT) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
        FROM bigram_rows GROUP BY pair) b
  WHERE rk <= {BIGRAM_TOP}
), bpe_syms AS (
  SELECT cnt, list_append(regexp_split_to_array(token, ''), '</w>') AS s
  FROM vocab_counts
), bpe_pairs AS (
  SELECT s[i.i] AS a, s[i.i + 1] AS b, cnt
  FROM bpe_syms, UNNEST(range(1, len(s))) AS i(i)
), bpe_part AS (
  SELECT 'bpe' AS part, a AS k1, b AS k2, cast(sum(cnt) AS BIGINT) AS n
  FROM bpe_pairs GROUP BY a, b
  ORDER BY n DESC, a, b
  LIMIT {BPE_TOP}
)
SELECT part, k1, k2, n FROM split_part
UNION ALL
SELECT part, k1, k2, n FROM mix_part
UNION ALL
SELECT part, k1, k2, n FROM shard_part
UNION ALL
SELECT part, k1, k2, n FROM pack_part
UNION ALL
SELECT part, k1, k2, n FROM chunk_part
UNION ALL
SELECT part, k1, k2, n FROM vocab_part
UNION ALL
SELECT part, k1, k2, n FROM bigram_part
UNION ALL
SELECT part, k1, k2, n FROM bpe_part
ORDER BY part, k1, k2
"""


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_spatial_spark.exprlit import cosine_sql, vec_sql

    emb = load_table(spark, sf_dir, "embeddings")
    qfilter, qe, score = _cached_cols(
        ("q_cosine_topk",),
        lambda: (
            F.col("vec_id") == 0,
            F.col("embedding").alias("qe"),
            F.round(
                F.expr(cosine_sql(vec_sql("embedding"), vec_sql("qe"))), 6
            ).alias("score"),
        ),
    )
    q = emb.filter(qfilter).select(qe)
    scored = emb.crossJoin(F.broadcast(q)).select("vec_id", score)
    return scored.orderBy(F.desc("score"), F.col("vec_id")).limit(10)


def _duckdb_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(cast(0.0 AS DOUBLE), "
        f"list_transform(range(1, {EMB_DIMS} + 1), "
        f"i -> cast({a}[i] AS DOUBLE) * cast({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


_Q_COSINE_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round({_duckdb_dot('e.embedding', 'q.qe')}
             / (sqrt({_duckdb_dot('e.embedding', 'e.embedding')})
                * sqrt({_duckdb_dot('q.qe', 'q.qe')})), 6) AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, vec_id
LIMIT 10
"""


def _q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN top-k composite (r14 adds the 'recall' leg, VERDICT r13 #1).

    Part 'ann': hyperplane-bucketed candidate set (Hamming radius 1
    around the query's bucket) → exact cosine top-10. Value-exact vs
    the oracle's identical bucketing.

    Part 'recall': retrieval QUALITY — recall@10 of the ANN top-10
    against the exact brute-force cosine top-10 over the full table.
    The oracle recomputes both sets and the overlap itself, so a
    pruning bug that silently drops true neighbors now breaks the gate
    even though the 'ann' leg would still match its own mirror."""
    from datafusion_spatial_spark.exprlit import cosine_sql, vec_sql
    from datafusion_spatial_spark.operators.simsearch import (
        lsh_bucket,
        random_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = random_hyperplanes(EMB_DIMS, N_PLANES, seed=PLANES_SEED)
    bucketed = lsh_bucket(emb, "embedding", "vec_id", planes)
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cand = bucketed.crossJoin(F.broadcast(q)).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1
    )
    ann10 = (
        cand.select(
            "vec_id",
            F.round(
                F.expr(cosine_sql(vec_sql("embedding"), vec_sql("qe"))), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(10)
    )
    exact10 = (
        emb.crossJoin(F.broadcast(q.select("qe")))
        .select(
            "vec_id",
            F.round(
                F.expr(cosine_sql(vec_sql("embedding"), vec_sql("qe"))), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    recall = (
        ann10.select("vec_id")
        .join(exact10, "vec_id")
        .agg((F.count("*") / F.lit(10.0)).alias("score"))
        .select(
            F.lit("recall").alias("part"),
            F.lit(-1).cast("long").alias("vec_id"),
            F.round("score", 6).alias("score"),
        )
    )
    return (
        ann10.select(F.lit("ann").alias("part"), "vec_id", "score")
        .unionAll(recall)
        .orderBy("part", F.desc("score"), "vec_id")
    )


def _q_lsh_ann_oracle() -> str:
    from datafusion_spatial_spark.operators.simsearch import random_hyperplanes

    planes = random_hyperplanes(EMB_DIMS, N_PLANES, seed=PLANES_SEED)
    bucket_terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        d = (
            f"list_reduce(list_prepend(cast(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIMS} + 1), "
            f"i -> cast(embedding[i] AS DOUBLE) * ([{lits}])[i])), "
            f"(acc, x) -> acc + x)"
        )
        bucket_terms.append(f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    cos_b = (
        f"{_duckdb_dot('b.embedding', 'q.qe')}"
        f" / (sqrt({_duckdb_dot('b.embedding', 'b.embedding')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    cos_e = (
        f"{_duckdb_dot('e.embedding', 'q.qe')}"
        f" / (sqrt({_duckdb_dot('e.embedding', 'e.embedding')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, cast({bucket} AS INT) AS bucket FROM embeddings
), q AS (
  SELECT embedding AS qe, bucket AS qbucket FROM b WHERE vec_id = 0
), ann10 AS (
  SELECT vec_id, round({cos_b}, 6) AS score
  FROM b CROSS JOIN q
  WHERE bit_count(xor(b.bucket, q.qbucket)) <= 1
  ORDER BY score DESC, vec_id
  LIMIT 10
), exact10 AS (
  SELECT vec_id, round({cos_e}, 6) AS score
  FROM embeddings e CROSS JOIN q
  ORDER BY score DESC, vec_id
  LIMIT 10
), recall AS (
  SELECT 'recall' AS part, CAST(-1 AS BIGINT) AS vec_id,
         round(count(*) / 10.0, 6) AS score
  FROM ann10 JOIN exact10 USING (vec_id)
)
SELECT 'ann' AS part, vec_id, score FROM ann10
UNION ALL
SELECT part, vec_id, score FROM recall
ORDER BY part, score DESC, vec_id
"""


NEAR_DUP_PLANES = 4  # coarser buckets than the ANN path so pairs survive
NEAR_DUP_SEED = 42
NEAR_DUP_T = 0.40  # the driver embeddings are near-orthogonal random vectors


def _q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate PAIR mining
    (operators/simsearch.cosine_near_dup_pairs): hyperplane-LSH bucketing
    (map-only) → within-bucket self-join on the bucket id (never all-pairs)
    → exact sequential-order cosine verify. Recall is bucket-limited by
    construction and the oracle mirrors the same bucketing, so the gate
    checks the distributed semantics bit-exactly."""
    from datafusion_spatial_spark.operators.simsearch import (
        cosine_near_dup_pairs,
        random_hyperplanes,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = random_hyperplanes(EMB_DIMS, NEAR_DUP_PLANES, seed=NEAR_DUP_SEED)
    pairs = cosine_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=NEAR_DUP_T, planes=planes,
        # the DuckDB oracle mirrors the bucketing WITHOUT a bucket-size
        # cap; disable the operator's default 10k degenerate-bucket guard
        # so Spark and oracle stay bit-identical at any gate/audit scale
        max_bucket=None,
    )
    # part 'semdedup' (r11): SemDeDup-style survivor set over the SAME
    # pairs (min-id per near-dup component + everything unpaired) — the
    # oracle recomputes the components with the reachability recursive
    # CTE the corpus-dedup gate uses
    surv = semantic_dedup(
        emb, "embedding", "vec_id", threshold=NEAR_DUP_T, planes=planes,
        max_bucket=None,
    ).select("vec_id")
    out = pairs.select(
        F.lit("pairs").alias("part"), "id_a", "id_b", "score"
    ).unionAll(
        surv.select(
            F.lit("semdedup").alias("part"),
            F.col("vec_id").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            F.lit(0.0).alias("score"),
        )
    )
    return out.orderBy("part", "id_a", "id_b")


def _q_cosine_near_dup_oracle() -> str:
    from datafusion_spatial_spark.operators.simsearch import random_hyperplanes

    planes = random_hyperplanes(EMB_DIMS, NEAR_DUP_PLANES, seed=NEAR_DUP_SEED)
    bucket_terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        d = (
            f"list_reduce(list_prepend(cast(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIMS} + 1), "
            f"i -> cast(embedding[i] AS DOUBLE) * ([{lits}])[i])), "
            f"(acc, x) -> acc + x)"
        )
        bucket_terms.append(f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    cos = (
        f"{_duckdb_dot('a.embedding', 'b.embedding')}"
        f" / (sqrt({_duckdb_dot('a.embedding', 'a.embedding')})"
        f" * sqrt({_duckdb_dot('b.embedding', 'b.embedding')}))"
    )
    return f"""
WITH RECURSIVE bk AS (
  SELECT vec_id, embedding, cast({bucket} AS INT) AS bucket FROM embeddings
), prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS score
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {cos} >= {NEAR_DUP_T}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM prs
), reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
)
SELECT 'pairs' AS part, id_a, id_b, score FROM prs
UNION ALL
SELECT 'semdedup' AS part, vec_id AS id_a,
       CAST(-1 AS BIGINT) AS id_b, 0.0 AS score
FROM embeddings
WHERE vec_id NOT IN (SELECT id FROM comp WHERE component <> id)
ORDER BY part, id_a, id_b
"""


N_IVF_LISTS = 8
N_IVF_PROBE = 3


N_PQ_M = 8          # subspaces (64-dim embeddings -> 8-dim subvectors)
N_PQ_CODES = 16     # codewords per subspace (nbits = 4)
N_PQ_RERANK = 4     # ADC shortlist = k * factor before exact rerank


def _q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN composite (r9 folds the PQ gate in).

    Part 'ivf': deterministic pivot coarse quantizer
    (operators/simsearch.ivf_index_pivots): pivots = first N_IVF_LISTS
    embeddings, pure-Catalyst argmin assignment, driver-side nprobe
    ranking, exact cosine rerank over the probed lists only.

    Part 'pq': the full PQ-then-rerank chain (pq_encode pandas-UDF
    encoding → pure-Catalyst ADC shortlist via the per-query LUT fold →
    exact cosine rerank of the top k·N_PQ_RERANK). The codebook is
    closed-form — codeword c of subspace j is the j-th subvector of the
    L2-normalized c-th embedding (same pivot convention as IVF) — so the
    oracle re-derives codebook, codes, ADC scores, shortlist, and rerank
    from the raw table. Every fold on both sides is sequential-sum
    arithmetic (k-means codebooks stay in tests: their centroid means
    are not bit-stable across engines)."""
    from datafusion_spatial_spark.exprlit import cosine_sql, vec_sql
    from datafusion_spatial_spark.operators.simsearch import (
        ivf_index_pivots,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    # r16 (VERDICT r15 #5): the build used to run THREE driver collects
    # over small id-ordered prefixes of the same table — the query vector
    # (vec_id 0), the IVF pivots (first N_IVF_LISTS non-null vectors),
    # and the PQ codebook rows (first N_PQ_CODES) — plus sq8_train's
    # aggregate. One shared prefix collect now feeds all three (the
    # prefix is exactly the union of what each collect read); sq8_train
    # stays the one remaining full-pass aggregate.
    prefix = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(max(N_IVF_LISTS, N_PQ_CODES))
        .collect()
    )
    if prefix and prefix[0].vec_id == 0:
        qvec = [float(x) for x in prefix[0].embedding]
    else:  # vec_id 0 absent/null: preserve the original lookup exactly
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding
        ]
    # a table with fewer non-null vectors than lists lets the index
    # collect its own (equally short) pivot set
    assigned, pivots = ivf_index_pivots(
        emb, "embedding", "vec_id", n_lists=N_IVF_LISTS,
        pivots=[r.embedding for r in prefix[:N_IVF_LISTS]]
        if len(prefix) >= N_IVF_LISTS else None,
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    ranked = sorted(range(len(pivots)), key=lambda i: -cos(qvec, pivots[i]))
    probes = ranked[:N_IVF_PROBE]
    # r16: each approximate top-10 (and the exact baseline below) is
    # referenced twice — once in the output union, once by its recall
    # leg. A lazy localCheckpoint pins the 10-row result the first time
    # the collect computes it, so the second reference reads those 10
    # rows instead of re-scanning the corpus (at 100 TB each recall leg
    # was a full extra pass). Lazy = no extra build action; object-scoped
    # = a fresh call still recomputes everything from parquet.
    ivf = (
        assigned.filter(F.col("list_id").isin(probes))
        .select(
            "vec_id",
            F.round(
                F.expr(cosine_sql(vec_sql("embedding"), qvec)), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(10)
        .select(F.lit("ivf").alias("part"), "vec_id", "score")
        .localCheckpoint(eager=False)
    )

    # pivot codebook: sequential-sum normalization (mirrors the oracle's
    # list_reduce fold bit-for-bit; numpy's pairwise sums would not)
    sub = EMB_DIMS // N_PQ_M
    piv_rows = prefix[:N_PQ_CODES]  # same rows the old collect returned
    normed = []
    for r in piv_rows:
        v = [float(x) for x in r.embedding]
        n = math.sqrt(sum(x * x for x in v))
        n = n if n != 0 else 1.0
        normed.append([x / n for x in v])
    books = [
        [nv[j * sub : (j + 1) * sub] for nv in normed] for j in range(N_PQ_M)
    ]
    enc = pq_encode(emb, "embedding", books)
    pq = pq_topk(
        enc, books, "vec_id", qvec, k=10,
        rerank=emb, vec_col="embedding", rerank_factor=N_PQ_RERANK,
    ).select(
        F.lit("pq").alias("part"), "vec_id", F.round("score", 6).alias("score")
    ).localCheckpoint(eager=False)  # see ivf

    # parts 'ivf_recall'/'pq_recall' (r14, VERDICT r13 #1): recall@10 of
    # each approximate top-10 vs the exact brute-force cosine top-10 —
    # the oracle recomputes both sets and the overlap, so list pruning
    # that silently drops true neighbors breaks the gate.
    exact10 = (
        emb.select(
            "vec_id",
            F.round(
                F.expr(cosine_sql(vec_sql("embedding"), qvec)), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(10)
        .select("vec_id")
        .localCheckpoint(eager=False)  # referenced by all 3 recall legs
    )

    def _recall(topk: DataFrame, label: str) -> DataFrame:
        return (
            topk.select("vec_id")
            .join(exact10, "vec_id")
            .agg((F.count("*") / F.lit(10.0)).alias("score"))
            .select(
                F.lit(label).alias("part"),
                F.lit(-1).cast("long").alias("vec_id"),
                F.round("score", 6).alias("score"),
            )
        )

    # part 'sq8' (r15): scalar-quantization compressed-domain top-10 —
    # exact per-dimension (min, span) params (order-independent, so
    # bit-stable across engines), Catalyst encode/decode, sequential-fold
    # cosine of the DECODED codes against the raw query. The oracle
    # re-derives params, codes, and reconstructions from the raw table.
    from datafusion_spatial_spark.operators.simsearch import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    mins, spans = sq8_train(emb, "embedding")
    enc8 = sq8_encode(emb, "embedding", mins, spans).select(
        "vec_id", "sq8_code"
    )
    sq8 = sq8_topk(enc8, mins, spans, "vec_id", qvec, k=10).select(
        F.lit("sq8").alias("part"),
        "vec_id",
        F.round("score", 6).alias("score"),
    ).localCheckpoint(eager=False)  # see ivf

    return (
        ivf.unionAll(pq)
        .unionAll(sq8)
        .unionAll(_recall(ivf, "ivf_recall"))
        .unionAll(_recall(pq, "pq_recall"))
        .unionAll(_recall(sq8, "sq8_recall"))
        .orderBy("part", F.desc("score"), "vec_id")
    )


def _duckdb_sqdist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(cast(0.0 AS DOUBLE), "
        f"list_transform(range(1, {EMB_DIMS} + 1), "
        f"i -> (cast({a}[i] AS DOUBLE) - cast({b}[i] AS DOUBLE)) "
        f"* (cast({a}[i] AS DOUBLE) - cast({b}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x)"
    )


def _q_ivf_ann_oracle() -> str:
    cos_pq = (
        f"{_duckdb_dot('p.pv', 'q.qe')} / (sqrt({_duckdb_dot('p.pv', 'p.pv')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    cos_eq = (
        f"{_duckdb_dot('a.embedding', 'q.qe')}"
        f" / (sqrt({_duckdb_dot('a.embedding', 'a.embedding')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    cos_e = (
        f"{_duckdb_dot('e.embedding', 'q.qe')}"
        f" / (sqrt({_duckdb_dot('e.embedding', 'e.embedding')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    cos_x = (
        f"{_duckdb_dot('d.xh', 'q.qe')}"
        f" / (sqrt({_duckdb_dot('d.xh', 'd.xh')})"
        f" * sqrt({_duckdb_dot('q.qe', 'q.qe')}))"
    )
    sub = EMB_DIMS // N_PQ_M
    nq = f"sqrt({_duckdb_dot('qe', 'qe')})"
    ne_nrm = f"sqrt({_duckdb_dot('embedding', 'embedding')})"
    unit = (
        f"list_transform(range(1, {EMB_DIMS} + 1), "
        f"i -> cast(embedding[i] AS DOUBLE) / "
        f"(CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END))"
    )
    seq_fold = "(a, x) -> a + x"
    d2_terms = (
        f"list_transform(range(1, {sub} + 1), "
        f"t -> (nv[js.j * {sub} + t] - pv[js.j * {sub} + t])"
        f" * (nv[js.j * {sub} + t] - pv[js.j * {sub} + t]))"
    )
    lut_terms = (
        f"list_transform(range(1, {sub} + 1), "
        f"t -> qv[js.j * {sub} + t] * pv[js.j * {sub} + t])"
    )
    return f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), piv AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pid, embedding AS pv
  FROM embeddings ORDER BY vec_id LIMIT {N_IVF_LISTS}
), probes AS (
  SELECT pid FROM piv p, q ORDER BY {cos_pq} DESC, pid LIMIT {N_IVF_PROBE}
), assigned AS (
  SELECT e.vec_id, e.embedding, p.pid,
         row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duckdb_sqdist('e.embedding', 'p.pv')}, p.pid
         ) AS rn
  FROM embeddings e CROSS JOIN piv p
), ivf_part AS (
  SELECT a.vec_id, round({cos_eq}, 6) AS score
  FROM assigned a CROSS JOIN q
  WHERE a.rn = 1 AND a.pid IN (SELECT pid FROM probes)
  ORDER BY score DESC, a.vec_id
  LIMIT 10
), qn AS (
  SELECT list_transform(range(1, {EMB_DIMS} + 1),
         i -> cast(qe[i] AS DOUBLE) /
              (CASE WHEN {nq} = 0 THEN 1.0 ELSE {nq} END)) AS qv
  FROM q
), pq_piv AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, {unit} AS pv
  FROM (SELECT vec_id, embedding, {ne_nrm} AS nrm FROM embeddings
        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {N_PQ_CODES})
), ne AS (
  SELECT vec_id, {unit} AS nv
  FROM (SELECT vec_id, embedding, {ne_nrm} AS nrm FROM embeddings
        WHERE embedding IS NOT NULL)
), codes AS (
  SELECT vec_id, j, cid, lutval,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
  FROM (
    SELECT ne.vec_id, js.j, p.cid,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {d2_terms}), {seq_fold}) AS d2,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lut_terms}), {seq_fold}) AS lutval
    FROM ne
    CROSS JOIN (SELECT unnest(range(0, {N_PQ_M})) AS j) js
    CROSS JOIN pq_piv p
    CROSS JOIN qn
  )
), approx AS (
  SELECT vec_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lutval ORDER BY j)),
                {seq_fold}) AS a_score
  FROM codes WHERE rn = 1 GROUP BY vec_id
), shortlist AS (
  SELECT vec_id FROM approx ORDER BY a_score DESC, vec_id
  LIMIT {10 * N_PQ_RERANK}
), pq_part AS (
  SELECT e.vec_id, round({cos_e}, 6) AS score
  FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id CROSS JOIN q
  ORDER BY {cos_e} DESC, e.vec_id
  LIMIT 10
), exact10 AS (
  SELECT e.vec_id, round({cos_e}, 6) AS score
  FROM embeddings e CROSS JOIN q
  ORDER BY score DESC, e.vec_id
  LIMIT 10
), sq8p AS (
  -- r15: exact per-dimension SQ8 params (min/max are order-independent,
  -- hence bit-identical to the Spark side's distributed pass)
  SELECT list(cast(mn AS DOUBLE) ORDER BY pos) AS mns,
         list(CASE WHEN mx > mn THEN cast(mx AS DOUBLE) - cast(mn AS DOUBLE)
                   ELSE 1.0 END ORDER BY pos) AS sps
  FROM (
    SELECT pos, min(x) AS mn, max(x) AS mx
    FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding) AS x
          FROM embeddings WHERE embedding IS NOT NULL)
    GROUP BY pos)
), sq8d AS (
  -- encode clamp(floor((x-min)/span*255 + 0.5)) then decode
  -- min + code/255*span, mirroring sq8_encode/sq8_decode_expr token
  -- for token
  SELECT e.vec_id,
    list_transform(range(1, {EMB_DIMS} + 1), i ->
      p.mns[i] + cast(least(255, greatest(0,
          cast(floor((cast(e.embedding[i] AS DOUBLE) - p.mns[i])
                     / p.sps[i] * 255.0 + 0.5) AS BIGINT))) AS DOUBLE)
        / 255.0 * p.sps[i]) AS xh
  FROM embeddings e CROSS JOIN sq8p p
  WHERE e.embedding IS NOT NULL
), sq8_part AS (
  SELECT d.vec_id, round({cos_x}, 6) AS score
  FROM sq8d d CROSS JOIN q
  ORDER BY {cos_x} DESC, d.vec_id
  LIMIT 10
), ivf_recall AS (
  SELECT 'ivf_recall' AS part, CAST(-1 AS BIGINT) AS vec_id,
         round(count(*) / 10.0, 6) AS score
  FROM ivf_part JOIN exact10 USING (vec_id)
), pq_recall AS (
  SELECT 'pq_recall' AS part, CAST(-1 AS BIGINT) AS vec_id,
         round(count(*) / 10.0, 6) AS score
  FROM pq_part JOIN exact10 USING (vec_id)
), sq8_recall AS (
  SELECT 'sq8_recall' AS part, CAST(-1 AS BIGINT) AS vec_id,
         round(count(*) / 10.0, 6) AS score
  FROM sq8_part JOIN exact10 USING (vec_id)
)
SELECT 'ivf' AS part, vec_id, score FROM ivf_part
UNION ALL
SELECT 'pq' AS part, vec_id, score FROM pq_part
UNION ALL
SELECT 'sq8' AS part, vec_id, score FROM sq8_part
UNION ALL
SELECT part, vec_id, score FROM ivf_recall
UNION ALL
SELECT part, vec_id, score FROM pq_recall
UNION ALL
SELECT part, vec_id, score FROM sq8_recall
ORDER BY part, score DESC, vec_id
"""


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: per-region customer-point extents with
    order revenue — joins + group-agg + the spatial aggregate in one plan."""
    from datafusion_spatial_spark.functions import st_extent, st_point
    from datafusion_spatial_spark.meta import GeometryMeta

    region = load_table(spark, SF_SMOKE, "region")
    nation = load_table(spark, SF_SMOKE, "nation")
    cust = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))

    pts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("c_custkey"),
            st_point(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias(
                "geom"
            ),
        )
    )
    spend = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spent"))
    return (
        pts.join(spend, pts.c_custkey == spend.o_custkey, "left")
        .groupBy("region")
        .agg(
            st_extent("geom", meta).alias("extent"),
            F.round(F.sum("spent"), 2).alias("revenue"),
            F.count("*").alias("n_customers"),
        )
        .orderBy("region")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    rel = {
        "q01_pricing_summary": _sql_query(Q01_SQL, ("lineitem",)),
        "q03_top_unshipped": _sql_query(
            Q03_CORE.format(datestr="date_format(o.o_orderdate, 'yyyy-MM-dd')"),
            ("customer", "orders", "lineitem"),
        ),
        "q04_order_priority": _sql_query(Q04_SQL, ("orders", "lineitem")),
        "q05_region_revenue": _sql_query(
            Q05_SQL, ("region", "nation", "customer", "orders", "lineitem", "supplier")
        ),
        "q06_forecast_revenue": _sql_query(Q06_SQL, ("lineitem",)),
        "q_top_customers": _sql_query(Q_TOP_CUSTOMERS_SQL, ("customer", "orders")),
        "q_customers_no_orders": _sql_query(Q_NO_ORDERS_SQL, ("customer", "orders")),
        "q_rollup_cube": _sql_query(
            Q_ROLLUP_CUBE_SQL, ("customer", "orders", "lineitem")
        ),
        "q_window_suite": _sql_query(
            Q_WINDOW_SUITE_CORE.format(
                gap="CASE WHEN prev_date IS NULL THEN NULL "
                "ELSE cast(datediff(o_orderdate, prev_date) AS BIGINT) END"
            ),
            ("orders",),
        ),
        "q15_top_supplier": _sql_query(
            Q15_TOP_SUPPLIER_SQL, ("lineitem", "supplier")
        ),
        "q_monthly_revenue": _sql_query(
            Q_MONTHLY_CORE.format(month="date_format(o_orderdate, 'yyyy-MM')"),
            ("orders",),
        ),
        "q_distinct_counts": _sql_query(Q_DISTINCT_SQL, ("lineitem",)),
        "q_setop_suppliers": _sql_query(Q_SETOP_SQL, ("lineitem", "supplier")),
        "q_events_hourly": _sql_query(
            Q_EVENTS_HOURLY_CORE.format(
                hour="date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm')"
            ),
            ("events",),
        ),
        "q_events_json": _sql_query(
            Q_EVENTS_JSON_CORE.format(k="get_json_object(props, '$.k')"),
            ("events",),
        ),
        "q_events_sessionize": _sql_query(Q_SESSIONIZE_CORE, ("events",)),
        "q10_returned_revenue": _sql_query(
            Q10_RETURNED_SQL, ("customer", "orders", "lineitem")
        ),
        "q13_order_distribution": _sql_query(
            Q13_DISTRIBUTION_SQL, ("customer", "orders")
        ),
        "q14_promo_revenue": _sql_query(Q14_PROMO_SQL, ("lineitem", "part")),
        "q18_large_orders": _sql_query(
            Q18_LARGE_ORDERS_SQL, ("orders", "lineitem")
        ),
        "q_pivot_status": _q_pivot_status,
        "q_asof_join": _q_asof_join,
        "q_media_dedup": _q_media_dedup,
        "q_quantiles": _sql_query(
            Q_QUANTILES_CORE.format(
                p50="percentile(o_totalprice, 0.5)",
                p90="percentile(o_totalprice, 0.9)",
            ),
            ("orders",),
        ),
        "q_string_funcs": _sql_query(
            Q_STRING_FUNCS_SQL.format(tostr="cast(c_nationkey AS STRING)"),
            ("customer",),
        ),
        "q_date_arith": _sql_query(
            Q_DATE_ARITH_CORE.format(
                days_since="datediff(o_orderdate, TIMESTAMP '1995-01-01')"
            ),
            ("orders",),
        ),
        "q_regression": _sql_query(
            Q_REGR_CORE.format(epoch="(unix_timestamp(ts) - 1704067200)"),
            ("events",),
        ),
    }
    spatial = {
        "q_st_extent_customers": _q_st_extent_customers,
        "q_st_astext_suppliers": _q_st_astext_suppliers,
        "q_st_envelope_by_nation": _q_st_envelope_by_nation,
        "q_st_contains_triangle": _q_st_contains_triangle,
        "q_st_distance_topk": _q_st_distance_topk,
        "q_spatial_dwithin_join": _q_spatial_dwithin_join,
        "q_sql_spatial_join": _q_sql_spatial_join,
        "q_st_intersection_area": _q_st_intersection_area,
        "q_st_predicate_battery": _q_st_predicate_battery,
        "q_st_construct_suite": _q_st_construct_suite,
        "q_write_roundtrip": _q_write_roundtrip,
    }
    def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-hygiene composite (r9 folds the decontamination gate in).
        Part 'cc': end-to-end near-dup removal (MinHash-LSH pairs →
        distributed min-label-propagation connected components → min-id
        survivors); the iterative CC algorithm IS oracle-checked — the
        DuckDB twin computes the same components with a recursive
        reachability CTE, so the survivor doc_id set must match
        value-exact. Part 'decon': GPT-3-style 13-gram train/test
        decontamination against a deterministic benchmark sample
        (doc_id % 97 == 0) — the oracle re-derives the contaminated set
        with a shingle semi-join on the raw strings (the Spark side joins
        on xxhash64 of the same strings; equality is preserved), so the
        surviving doc_id set is value-checked too."""
        from datafusion_spatial_spark.operators.dedup import (
            decontaminate,
            dedup_corpus,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = dedup_corpus(
            docs, "text", "doc_id",
            num_hashes=N_MINHASH, bands=N_BANDS, shingle_k=SHINGLE_K,
            jaccard_threshold=JACCARD_T, hash_fn="poly",
        )
        cc = out.select(F.lit("cc").alias("part"), "doc_id")
        bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        decon = decontaminate(docs, "text", "doc_id", bench, "text").select(
            F.lit("decon").alias("part"), "doc_id"
        )
        return cc.unionAll(decon).orderBy("part", "doc_id")

    def _q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming composite (r9 folds the append+watermark leg in).

        Part 'complete': hourly rollup driven to a COMPLETE-mode memory
        sink — complete mode emits the full windowed state, so the stream
        result must equal the batch hourly aggregation row-for-row.

        Part 'append': the same query under append mode + 10-minute
        watermark — the bounded-state production shape. Append emits a
        window only once the final watermark (max event time − delay)
        passes its end, so the oracle's closed form is `window_end <=
        max(ts) − 10 min`: the emitted SET is deterministic for a finite
        one-batch file source and value-checked exactly.

        Part 'append_suppressed': the explicit drop accounting — batch
        hourly rows the stream did NOT emit, derived by anti-joining the
        observed stream output against the batch aggregate (not predicted
        from the watermark), so `append ∪ append_suppressed = complete`
        holds BY OBSERVATION on the Spark side while the oracle pins both
        sets in closed form. A stream that silently dropped a finalizable
        window or emitted a phantom one breaks the hash."""
        from datafusion_spatial_spark.streaming import ops as stream_ops

        s = stream_ops.stream_events(spark, sf_dir)
        name = stream_ops.run_to_memory(
            stream_ops.windowed_counts(s, window="1 hour"),
            "q_stream_hourly_out",
            output_mode="complete",
        )
        comp = spark.table(name).select(
            F.lit("complete").alias("part"),
            F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("hour"),
            "event_type", "n", "total_value",
        )
        s2 = stream_ops.stream_events(spark, sf_dir)
        name2 = stream_ops.run_to_memory(
            stream_ops.windowed_counts(s2, window="1 hour"),
            "q_stream_hourly_append",
            output_mode="append",
        )
        emitted = spark.table(name2)
        app = emitted.select(
            F.lit("append").alias("part"),
            F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("hour"),
            "event_type", "n", "total_value",
        )
        suppressed = (
            spark.table(name)
            .join(
                emitted.select("window_start", "event_type"),
                ["window_start", "event_type"],
                "left_anti",
            )
            .select(
                F.lit("append_suppressed").alias("part"),
                F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("hour"),
                "event_type", "n", "total_value",
            )
        )
        # part 'join' (r10, VERDICT r9 #7): the watermarked stream-stream
        # interval self-join — right events of the same user within
        # [left_ts, left_ts + 15 min]. INNER matches emit eagerly (the
        # watermark bounds join STATE, which a finite one-batch source
        # cannot observe in the output), so the emitted pair set has the
        # batch join as its exact closed form; the watermark-driven
        # outer-emission behavior is pinned in tests/test_streaming.py.
        # Rolled up per left-event hour x type to the gate's row shape.
        sl = stream_ops.stream_events(spark, sf_dir).select(
            "user_id", "ts", "event_type"
        )
        sr = stream_ops.stream_events(spark, sf_dir).select(
            "user_id", "ts", "value"
        )
        joined = stream_ops.stream_stream_join(
            sl, sr, "user_id", interval="15 minutes", watermark="1 hour"
        ).select(
            F.col("l.ts").alias("lts"),
            F.col("l.event_type").alias("etype"),
            F.col("r.value").alias("rvalue"),
        )
        name3 = stream_ops.run_to_memory(
            joined, "q_stream_hourly_join", output_mode="append"
        )
        join_part = (
            spark.table(name3)
            .groupBy(
                F.date_format(
                    F.date_trunc("hour", "lts"), "yyyy-MM-dd HH:mm"
                ).alias("hour"),
                F.col("etype").alias("event_type"),
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("rvalue"), 2).alias("total_value"))
            .select(F.lit("join").alias("part"), "hour", "event_type", "n", "total_value")
        )
        # part 'fence' (r10): the stream-static geofence broadcast join —
        # event points (value, user_id) against two fence polygons, one
        # alert row per (point, fence) hit, entirely stateless. The batch
        # join is the exact closed form; fence bounds sit at .005/.5
        # offsets so the kernel's 1e-12 boundary tolerance can never
        # disagree with the oracle's inclusive BETWEEN on 2-decimal data.
        from datafusion_spatial_spark import wkb as _wkb
        from datafusion_spatial_spark.functions.scalar import st_point

        def _fence_wkb(x1, x2, y1, y2):
            return bytearray(_wkb.dumps(_wkb.Geom(
                "Polygon",
                [[(x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1)]],
            )))

        fences = spark.createDataFrame(
            [("A", _fence_wkb(*GEOFENCE_A)), ("B", _fence_wkb(*GEOFENCE_B))],
            "fid string, fgeom binary",
        )
        spts = stream_ops.stream_events(spark, sf_dir).select(
            "event_type", "value",
            st_point(F.col("value"), F.col("user_id").cast("double")).alias(
                "geom"
            ),
        )
        alerts = stream_ops.geofence_alerts(spts, fences, "geom", "fgeom", "fid")
        name4 = stream_ops.run_to_memory(
            alerts.select("fence_id", "event_type", "value"),
            "q_stream_hourly_fence", output_mode="append",
        )
        fence_part = (
            spark.table(name4)
            .groupBy(F.col("fence_id").alias("hour"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.lit("fence").alias("part"), "hour", "event_type",
                    "n", "total_value")
        )
        return (
            comp.unionAll(app).unionAll(suppressed).unionAll(join_part)
            .unionAll(fence_part)
            .orderBy("part", "hour", "event_type")
        )

    # Oracle-backed extension queries come BEFORE the rows-only tail: the
    # driver gate records at most 50 rows in registration order, so every
    # query with an oracle_sql() entry must sit inside the cap.  Total
    # registered is kept at <= 50 so the rows-only queries get their
    # (weaker) rows-only rows too.
    ext = {
        "q_hash_split": _q_hash_split,
        "q_dedup_exact": _q_dedup_exact,
        "q_near_dup_pairs": _q_near_dup_pairs,
        "q_line_dedup": _q_line_dedup,
        "q_simhash": _q_simhash,
        "q_text_stats": _q_text_stats,
        "q_cosine_topk": _q_cosine_topk,
        "q_lsh_ann_topk": _q_lsh_ann_topk,
        "q_cosine_near_dup": _q_cosine_near_dup,
        "q_ivf_ann_topk": _q_ivf_ann_topk,
        "q_dedup_corpus": _q_dedup_corpus,
        "q_stream_hourly": _q_stream_hourly,
    }
    out = {**rel, **spatial, **ext}
    assert len(out) <= 50, f"driver gate caps at 50 queries; got {len(out)}"
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": Q01_SQL,
        "q03_top_unshipped": Q03_CORE.format(
            datestr="strftime(o.o_orderdate, '%Y-%m-%d')"
        ),
        "q04_order_priority": Q04_SQL,
        "q05_region_revenue": Q05_SQL,
        "q06_forecast_revenue": Q06_SQL,
        "q_top_customers": Q_TOP_CUSTOMERS_SQL,
        "q_customers_no_orders": Q_NO_ORDERS_SQL,
        "q_rollup_cube": Q_ROLLUP_CUBE_SQL,
        "q_window_suite": Q_WINDOW_SUITE_CORE.format(
            gap="CASE WHEN prev_date IS NULL THEN NULL "
            "ELSE cast(date_diff('day', prev_date, o_orderdate) AS BIGINT) END"
        ),
        "q15_top_supplier": Q15_TOP_SUPPLIER_SQL,
        "q_monthly_revenue": Q_MONTHLY_CORE.format(
            month="strftime(o_orderdate, '%Y-%m')"
        ),
        "q_distinct_counts": Q_DISTINCT_SQL,
        "q_setop_suppliers": Q_SETOP_SQL,
        "q_events_hourly": Q_EVENTS_HOURLY_CORE.format(
            hour="strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')"
        ),
        "q_events_json": Q_EVENTS_JSON_CORE.format(
            k="json_extract_string(props, '$.k')"
        ),
        "q_events_sessionize": Q_SESSIONIZE_CORE,
        "q10_returned_revenue": Q10_RETURNED_SQL,
        "q13_order_distribution": Q13_DISTRIBUTION_SQL,
        "q14_promo_revenue": Q14_PROMO_SQL,
        "q18_large_orders": Q18_LARGE_ORDERS_SQL,
        "q_pivot_status": _Q_PIVOT_ORACLE,
        "q_asof_join": _Q_ASOF_ORACLE,
        "q_media_dedup": _Q_MEDIA_DEDUP_ORACLE,
        "q_quantiles": Q_QUANTILES_CORE.format(
            p50="quantile_cont(o_totalprice, 0.5)",
            p90="quantile_cont(o_totalprice, 0.9)",
        ),
        "q_string_funcs": Q_STRING_FUNCS_SQL.format(
            tostr="cast(c_nationkey AS VARCHAR)"
        ),
        "q_date_arith": Q_DATE_ARITH_CORE.format(
            days_since="date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)"
        ),
        "q_regression": Q_REGR_CORE.format(
            epoch="(date_part('epoch', ts) - 1704067200)"
        ),
        "q_st_extent_customers": _Q_ST_EXTENT_ORACLE,
        "q_st_astext_suppliers": _Q_ST_ASTEXT_ORACLE,
        "q_st_envelope_by_nation": _Q_ST_ENVELOPE_ORACLE,
        "q_st_contains_triangle": _q_st_contains_triangle_oracle(),
        "q_st_distance_topk": _Q_ST_DISTANCE_ORACLE,
        "q_spatial_dwithin_join": _Q_DWITHIN_COMPOSITE_ORACLE,
        "q_sql_spatial_join": _Q_SQL_SPATIAL_ORACLE,
        "q_st_intersection_area": _q_st_intersection_area_oracle(),
        "q_st_predicate_battery": _Q_ST_PREDICATE_ORACLE,
        "q_st_construct_suite": _Q_ST_CONSTRUCT_ORACLE,
        "q_write_roundtrip": _Q_WRITE_ROUNDTRIP_ORACLE,
        "q_hash_split": _q_hash_split_oracle(),
        "q_dedup_exact": _Q_DEDUP_EXACT_ORACLE,
        "q_near_dup_pairs": _q_near_dup_pairs_oracle(),
        "q_line_dedup": _Q_LINE_DEDUP_ORACLE,
        "q_simhash": _q_simhash_oracle(),
        "q_text_stats": _q_text_stats_oracle(),
        "q_cosine_topk": _Q_COSINE_ORACLE,
        "q_lsh_ann_topk": _q_lsh_ann_oracle(),
        "q_cosine_near_dup": _q_cosine_near_dup_oracle(),
        "q_ivf_ann_topk": _q_ivf_ann_oracle(),
        "q_dedup_corpus": _q_dedup_corpus_oracle(),
        # complete-mode leg == the BATCH hourly rollup; append-mode leg ==
        # the watermark closed form (window_end <= max ts - 10 min);
        # suppressed leg == its complement — streaming semantics checked
        # value-exact, not rows-only
        "q_stream_hourly": _Q_STREAM_HOURLY_ORACLE,
    }
