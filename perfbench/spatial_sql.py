"""``spatial_sql``: the interactive workload.

Many small ops, so the fixed per-op driver cost (py4j expression
construction, SQL rewrite, view checks, Catalyst/AQE planning, job
scheduling) dominates. Setup writes the point and polygon sets as
GeoParquet in WKB and native encoding and one Hilbert layout; the timed
stream cycles through every template in a seeded order with seeded
literals.
"""

from __future__ import annotations

import functools
import os
import re

import duckdb
import numpy as np
from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.workload import LAYOUT, WORLD, Template, close, collect_knn

# the frozen controls: TPC-H q01 and q05 exactly as the library's gate runs them
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

Q01_TABLES = ("lineitem",)
Q05_TABLES = ("region", "nation", "customer", "orders", "lineitem", "supplier")
ENCODINGS = ("native", "wkb")
_NUM = re.compile(r"-?\d+(?:\.\d+)?(?:[eE]-?\d+)?")


class SpatialSQLWorkload:
    name = "spatial_sql"
    interactive = True

    def __init__(self, spark, work: str, sf: float, seed: int):
        from datafusion_spatial_spark.meta import GeometryMeta

        self.spark, self.work, self.sf, self.seed = spark, work, sf, seed
        self.pt_meta = {
            "native": GeometryMeta(encoding="point", geometry_types=("Point",)),
            "wkb": GeometryMeta(encoding="WKB", geometry_types=("Point",)),
        }
        self.poly_meta = {
            "native": GeometryMeta(encoding="polygon", geometry_types=("Polygon",)),
            "wkb": GeometryMeta(encoding="WKB", geometry_types=("Polygon",)),
        }
        self.input_bytes = 0
        self.written_bytes = 0

    # -- setup ---------------------------------------------------------------

    def setup(self, tr) -> None:
        """Generate every input from the seed, write the GeoParquet sets
        and the Hilbert layout through the library, register the views."""
        from datafusion_spatial_spark.operators.storage import write_spatial
        from datafusion_spatial_spark.plans.sql import SpatialSQL
        from datafusion_spatial_spark.sources.geoparquet import write_geoparquet

        rng = np.random.default_rng(self.seed)
        root = self.work
        self.tpch_dir = os.path.join(root, "tpch")
        # the controls run at a tenth of the spatial size: every op stays small
        tables = gen.tpch(rng, self.sf / 10)
        for name, table in tables.items():
            gen.write_table(table, os.path.join(self.tpch_dir, f"{name}.parquet"))
        self.pts = gen.points(rng, int(150_000 * self.sf), int(10_000 * self.sf),
                              int(200_000 * self.sf))
        self.polys = gen.polygons(rng, int(20_000 * self.sf))
        self.ssql = SpatialSQL(self.spark)
        self.frames = {}
        input_bytes = written = 0
        for enc in ENCODINGS:
            for kind, table, meta in (
                ("points", gen.point_table(self.pts, enc), self.pt_meta[enc]),
                ("polys", gen.polygon_table(self.polys, enc), self.poly_meta[enc]),
            ):
                raw = os.path.join(root, "raw", f"{kind}_{enc}.parquet")
                input_bytes += gen.write_table(table, raw)
                out = os.path.join(root, "geo", f"{kind}_{enc}")
                tr.call(
                    "sources.write", write_geoparquet,
                    self.spark.read.parquet(raw), out, {"geometry": meta},
                )
                written += _dir_bytes(out)
                self.frames[(kind, enc)] = tr.call(
                    "sources.load", self.ssql.register_geoparquet, f"{kind}_{enc}", out
                )
        self.layout = os.path.join(root, "layout")
        raw = os.path.join(root, "raw", "points_native.parquet")
        input_bytes += os.path.getsize(raw)
        tr.call(
            "sources.write", write_spatial,
            self.spark.read.parquet(raw), self.layout, "geometry",
            self.pt_meta["native"], WORLD, *LAYOUT,
        )
        written += _dir_bytes(self.layout)
        self.layout_files = sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(self.layout) for f in files
        )
        self.input_bytes, self.written_bytes = input_bytes, written
        self.n_rows = {name: t.num_rows for name, t in tables.items()}

    @functools.cached_property
    def expected(self) -> dict:
        """q01/q05 answers from DuckDB over the generated files; computed at
        the first check, so setup_s holds no reference work."""
        con = duckdb.connect()
        for name in self.n_rows:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.tpch_dir, name + '.parquet')}')"
            )
        out = {key: con.execute(sql).fetchall() for key, sql in (("q01", Q01_SQL), ("q05", Q05_SQL))}
        con.close()
        return out

    # -- templates -----------------------------------------------------------

    def templates(self) -> list[Template]:
        out = []
        for enc in ENCODINGS:
            out.append(Template(
                f"sql_wkt_{enc}", self._draw_wkt,
                lambda tr, l, enc=enc: self._run_wkt(tr, l, enc),
                self._check_wkt, lambda l: l["hi"] - l["lo"],
            ))
            out.append(Template(
                f"sql_extent_{enc}", self._draw_extent,
                lambda tr, l, enc=enc: self._run_extent(tr, l, enc),
                self._check_extent, lambda l: len(self.pts["id"]),
            ))
        out += [
            Template("window_scan", self._draw_window, self._run_scan,
                     self._check_scan, lambda l: len(self.pts["id"])),
            Template("dwithin_join", self._draw_join, self._run_join,
                     self._check_join, self._join_rows),
            Template("knn_join", self._draw_knn, self._run_knn,
                     self._check_knn, self._knn_rows),
            Template("q01", lambda rng: {}, self._q("q01", Q01_SQL, Q01_TABLES),
                     lambda l, r: _rows_match(r, self.expected["q01"]),
                     lambda l: self.n_rows["lineitem"]),
            Template("q05", lambda rng: {}, self._q("q05", Q05_SQL, Q05_TABLES),
                     lambda l, r: _rows_match(r, self.expected["q05"]),
                     lambda l: sum(self.n_rows[t] for t in Q05_TABLES)),
        ]
        return out

    def _knn_rows(self, lits) -> int:
        return len(lits["probes"]) + self._n_kind(0)

    def _n_kind(self, kind: int) -> int:
        return int(np.count_nonzero(self.pts["kind"] == kind))

    # reference surface through SpatialSQL: ST_GeometryType / ST_AsText /
    # ST_Envelope on a polygon id range
    def _draw_wkt(self, rng):
        lo = int(rng.integers(0, max(1, len(self.polys["id"]) - 40)))
        return {"lo": lo, "hi": min(lo + 40, len(self.polys["id"]))}

    def _run_wkt(self, tr, lits, enc):
        df = tr.call(
            "plans", self.ssql.sql,
            "SELECT id, ST_GeometryType(geometry) AS gt, ST_AsText(geometry) AS wkt, "
            "ST_AsText(ST_Envelope(geometry)) AS env "
            f"FROM polys_{enc} WHERE id >= {lits['lo']} AND id < {lits['hi']}",
        )
        return tr.collect(df)

    def _check_wkt(self, lits, rows):
        if sorted(r.id for r in rows) != list(range(lits["lo"], lits["hi"])):
            return False
        for r in rows:
            rx, ry = self.polys["rings"][r.id]
            want = np.column_stack([rx, ry]).reshape(-1)
            x0, x1, y0, y1 = rx.min(), rx.max(), ry.min(), ry.max()
            env = [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]
            got = [float(v) for v in _NUM.findall(r.wkt)]
            got_env = [float(v) for v in _NUM.findall(r.env)]
            if r.gt != "ST_Polygon" or not r.wkt.startswith("POLYGON"):
                return False
            if len(got) != len(want) or not close(got, want):
                return False
            if len(got_env) != 10 or not close(got_env, env):
                return False
        return True

    # ST_Extent ... GROUP BY through SpatialSQL
    def _draw_extent(self, rng):
        return {"kind": int(rng.integers(0, 3)), "m": int(rng.integers(2, 6)),
                "r": int(rng.integers(0, 2))}

    def _run_extent(self, tr, lits, enc):
        df = tr.call(
            "plans", self.ssql.sql,
            "SELECT grp, count(*) AS n, ST_Extent(geometry) AS e "
            f"FROM points_{enc} WHERE kind = {lits['kind']} "
            f"AND id % {lits['m']} = {lits['r']} GROUP BY grp",
        )
        return tr.collect(df)

    def _check_extent(self, lits, rows):
        p = self.pts
        sel = (p["kind"] == lits["kind"]) & (p["id"] % lits["m"] == lits["r"])
        got = {r.grp: r for r in rows}
        groups = np.unique(p["grp"][sel])
        if sorted(got) != sorted(int(g) for g in groups):
            return False
        for g in groups:
            m = sel & (p["grp"] == g)
            r = got[int(g)]
            want = [p["x"][m].min(), p["y"][m].min(), p["x"][m].max(), p["y"][m].max()]
            if r.n != int(m.sum()) or [r.e.xmin, r.e.ymin, r.e.xmax, r.e.ymax] != want:
                return False
        return True

    # window reads through storage.spatial_scan on the Hilbert layout
    def _draw_window(self, rng):
        w, h = 10.0, 10.0
        x0 = rng.uniform(-180.0, 180.0 - w)
        y0 = rng.uniform(-60.0, 70.0 - h)
        return {"window": (float(x0), float(y0), float(x0 + w), float(y0 + h))}

    def _run_scan(self, tr, lits):
        from datafusion_spatial_spark.operators.storage import spatial_scan

        df = tr.call("operators.storage", spatial_scan, self.spark, self.layout, lits["window"])
        tr.note("storage.layout_files", self.layout_files)
        return tr.collect(df.select("id"))

    def _check_scan(self, lits, rows):
        x0, y0, x1, y1 = lits["window"]
        p = self.pts
        m = (p["x"] >= x0) & (p["x"] <= x1) & (p["y"] >= y0) & (p["y"] <= y1)
        return sorted(r.id for r in rows) == sorted(p["id"][m].tolist())

    # small dwithin joins: customers in a window against all suppliers
    def _draw_join(self, rng):
        w, h = 30.0, 20.0
        x0 = rng.uniform(-180.0, 180.0 - w)
        y0 = rng.uniform(-60.0, 70.0 - h)
        return {"window": (float(x0), float(y0), float(x0 + w), float(y0 + h)),
                "d": float(rng.uniform(2.5, 3.5))}

    def _join_sides(self, window):
        pts = self.frames[("points", "native")]
        x0, y0, x1, y1 = window
        left = pts.filter(
            (F.col("kind") == 0) & F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
        ).select(F.col("id").alias("cid"), "geometry")
        right = pts.filter(F.col("kind") == 1).select(F.col("id").alias("sid"), "geometry")
        return left, right

    def _join_rows(self, lits):
        x0, y0, x1, y1 = lits["window"]
        p = self.pts
        m = (p["kind"] == 0) & (p["x"] >= x0) & (p["x"] <= x1) & (p["y"] >= y0) & (p["y"] <= y1)
        return int(m.sum()) + self._n_kind(1)

    def _run_join(self, tr, lits):
        from datafusion_spatial_spark.operators.spatial_join import spatial_join

        left, right = self._join_sides(lits["window"])
        meta = self.pt_meta["native"]
        pairs = tr.call(
            "operators.spatial_join", spatial_join,
            left, right, "geometry", "geometry", meta, meta, "cid", "sid",
            cell_size=2.0 * lits["d"], predicate="dwithin", distance=lits["d"],
        )
        rows = tr.collect(pairs)
        tr.note("spatial_join.pairs", len(rows))
        return rows

    def _check_join(self, lits, rows):
        x0, y0, x1, y1 = lits["window"]
        p = self.pts
        lm = (p["kind"] == 0) & (p["x"] >= x0) & (p["x"] <= x1) & (p["y"] >= y0) & (p["y"] <= y1)
        rm = p["kind"] == 1
        dx = p["x"][lm][:, None] - p["x"][rm][None, :]
        dy = p["y"][lm][:, None] - p["y"][rm][None, :]
        li, ri = np.nonzero(np.hypot(dx, dy) <= lits["d"])
        want = sorted(zip(p["id"][lm][li].tolist(), p["id"][rm][ri].tolist()))
        return sorted((r.cid, r.sid) for r in rows) == want

    # small kNN joins: four customers, away from the edges of the
    # customers' latitude band, against all customers; the first search
    # ring resolves every probe, so each call is one round on every seed
    def _draw_knn(self, rng):
        p = self.pts
        inner = (p["kind"] == 0) & (p["y"] > -45.0) & (p["y"] < 55.0)
        probes = rng.choice(p["id"][inner], 4, replace=False)
        return {"probes": sorted(int(i) for i in probes), "k": int(rng.integers(4, 9))}

    def _knn_sides(self, tr, lits):
        from datafusion_spatial_spark.functions import st_point

        pts = self.frames[("points", "native")]
        probes = pts.filter(F.col("id").isin(lits["probes"])).select(
            F.col("id").alias("pid"),
            tr.call("functions", st_point, "x", "y").alias("geometry"),
        )
        cust = pts.filter(F.col("kind") == 0).select(F.col("id").alias("cid"), "geometry")
        return probes, cust

    def _run_knn(self, tr, lits):
        from datafusion_spatial_spark.operators.spatial_knn import knn_join

        meta = self.pt_meta["native"]
        knn = tr.call(
            "operators.spatial_knn", knn_join, *self._knn_sides(tr, lits),
            "geometry", "geometry", meta, meta, "pid", "cid",
            k=lits["k"], radius=8.0 * (0.1 / self.sf) ** 0.5, max_rounds=6,
        )
        return collect_knn(tr, knn)

    def _check_knn(self, lits, rows):
        p = self.pts
        probe = np.isin(p["id"], lits["probes"])
        return oracle.knn_matches(
            {k: p[k][probe] for k in ("id", "x", "y")},
            {k: p[k][p["kind"] == 0] for k in ("id", "x", "y")},
            lits["k"], [(r.pid, r.cid, r.distance, r.rank) for r in rows],
        )

    # frozen TPC-H controls through register_views
    def _q(self, key, sql, tables):
        from datafusion_spatial_spark.sources.tables import register_views

        def run(tr, lits):
            tr.call("sources.load", register_views, self.spark, self.tpch_dir, *tables)
            return tr.collect(self.spark.sql(sql))

        return run


def _rows_match(rows, expected) -> bool:
    if len(rows) != len(expected):
        return False
    for a, b in zip(rows, expected):
        for u, v in zip(a, b):
            if isinstance(v, float) or isinstance(u, float):
                if not np.isclose(float(u), float(v), rtol=1e-9, atol=0.011):
                    return False
            elif u != v:
                return False
    return True


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith(".") and not f.startswith("_")
    )
