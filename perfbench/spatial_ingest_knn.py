"""``spatial_ingest_knn``: the iterative workload.

Each pass generates a fresh set of clustered points inside the JVM, ingests
them with ``storage.write_spatial`` (the same layout ``spatial_sql`` reads),
runs ``knn_join`` and ``knn_join_geography`` over the written data with
probes in dense clusters, in the sparse background, on the antimeridian and
near the pole, then ``cluster_dbscan`` over a slice of it. The kNN doubling
rounds and the connected-components iterations make this workload bound by
the number of rounds and by driver latency, not by task work.

The points come from integer hashing of the row id (multiply, xor, shift
and modulo, every product below 2**62) and plain double arithmetic,
written once as Spark column expressions and once in numpy. Both give the
same bits, so the output checks know every coordinate without reading
anything back through the library.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from perfbench import oracle
from perfbench.workload import LAYOUT, WORLD, Template, collect_knn

M = 1 << 31
MULT = (1103515245, 1664525013, 22695477)
N_CLUSTERS = 16
K = 8
DBSCAN_MIN = 5
# cluster 0 straddles the antimeridian, cluster 1 sits next to the pole
ANTIMERIDIAN, POLE = 0, 1


class Field:
    """The points of one pass: ``n`` ids, a fifth uniform over the globe,
    the rest in 16 square clusters whose half-widths run from 0.01 to 3
    degrees (densities four orders of magnitude apart)."""

    def __init__(self, seed: int, pass_: int, n: int):
        rng = np.random.default_rng([seed, pass_, 11])
        self.n = n
        self.offsets = [int(v) for v in rng.integers(0, M, 3)]
        half = np.geomspace(0.01, 3.0, N_CLUSTERS)
        rng.shuffle(half)
        cx = rng.uniform(-170.0, 170.0, N_CLUSTERS)
        cy = rng.uniform(-60.0, 60.0, N_CLUSTERS)
        cx[ANTIMERIDIAN], half[ANTIMERIDIAN] = 179.8, 0.4
        cy[POLE], half[POLE] = 89.5, 0.4
        self.cx, self.cy, self.half = cx.tolist(), cy.tolist(), half.tolist()
        self.ids = np.arange(n, dtype=np.int64)
        self.x, self.y, self.cluster = self._coords(
            self.ids, np.bitwise_xor, np.right_shift,
            lambda h: h.astype(np.float64),
            lambda c, vals: np.asarray(vals)[c], np.where, lambda v: v)

    def _coords(self, ids, xor, shr, to_double, pick, where, lit):
        """Coordinates of ``ids``, for numpy arrays and for Spark columns
        alike (the caller passes the few operations whose spelling differs)."""

        def mix(h, a):  # h stays in [0, 2**31)
            h = xor(h, shr(h, 13)) * a % M
            return xor(h, shr(h, 16))

        o0, o1, o2 = self.offsets
        h0 = mix((ids + o0) % M, MULT[0])
        h1 = mix(xor(h0, o1), MULT[1])
        h2 = mix(xor(h1, o2), MULT[2])
        u1 = to_double(h1) / float(M)
        u2 = to_double(h2) / float(M)
        background = shr(h0, 4) % 10 < 2
        c = h0 % N_CLUSTERS
        hw = pick(c, self.half)
        x = pick(c, self.cx) + (lit(2.0) * u1 - lit(1.0)) * hw
        y = pick(c, self.cy) + (lit(2.0) * u2 - lit(1.0)) * hw
        x = where(x > 180.0, x - 360.0, x)
        x = where(background, lit(360.0) * u1 - lit(180.0), x)
        y = where(background, lit(180.0) * u2 - lit(90.0), y)
        return x, y, where(background, -1, c)

    def frame(self, spark, partitions: int):
        """The same points as a JVM-side DataFrame (id, x, y, geometry)."""

        def pick(c, vals):
            return F.element_at(F.array(*[F.lit(float(v)) for v in vals]),
                                (c + 1).cast("int"))

        def where(cond, a, b):
            return F.when(cond, a).otherwise(b)

        x, y, _ = self._coords(
            F.col("id"), lambda a, b: a.bitwiseXOR(b), F.shiftright,
            lambda h: h.cast("double"), pick, where, F.lit)
        return (spark.range(0, self.n, 1, partitions)
                .select("id", x.alias("x"), y.alias("y"))
                .withColumn("geometry", F.struct("x", "y")))

    def probes(self, rng) -> list[int]:
        """Two ids in each of the two densest clusters, two in the
        background, one on the antimeridian and one near the pole."""
        dense = [int(c) for c in np.argsort(self.half) if c not in (ANTIMERIDIAN, POLE)][:2]
        picks = []
        for label in (*dense, -1):
            picks += rng.choice(self.ids[self.cluster == label], 2, replace=False).tolist()
        for label in (ANTIMERIDIAN, POLE):
            picks.append(int(rng.choice(self.ids[self.cluster == label])))
        return sorted(int(p) for p in picks)


class SpatialIngestKNNWorkload:
    name = "spatial_ingest_knn"
    interactive = False

    def __init__(self, spark, work: str, sf: float, seed: int):
        from datafusion_spatial_spark.meta import GeometryMeta

        self.spark, self.work, self.sf, self.seed = spark, work, sf, seed
        self.meta = GeometryMeta(encoding="point", geometry_types=("Point",))
        self.n = int(1_000_000 * sf)
        self.n_dbscan = self.n // 5
        # search radii scale with the mean point spacing
        self.spacing = (0.1 / sf) ** 0.5
        self.partitions = spark.sparkContext.defaultParallelism
        self.input_bytes = self.written_bytes = 0
        self.path = None
        self._pass = 0

    def setup(self, tr) -> None:
        """Nothing to write: every pass generates and ingests its own points."""
        self.field = Field(self.seed, 0, self.n)

    def templates(self) -> list[Template]:
        n = lambda l: self.n  # noqa: E731
        return [
            Template("ingest", self._draw_pass, self._run_ingest, self._check_ingest, n),
            Template("knn_planar", self._draw_knn, self._run_knn, self._check_knn, n),
            Template("knn_geography", self._draw_knn, self._run_knn_geo,
                     self._check_knn_geo, n),
            Template("dbscan", self._draw_dbscan, self._run_dbscan, self._check_dbscan,
                     lambda l: self.n_dbscan),
        ]

    # a pass starts with new points, written as the Hilbert layout
    def _draw_pass(self, rng):
        self._pass += 1
        self.field = Field(self.seed, self._pass, self.n)
        if self.path is not None:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = os.path.join(self.work, "ingest", f"pass{self._pass}")
        return {"path": self.path}

    def _run_ingest(self, tr, lits):
        from datafusion_spatial_spark.operators.storage import write_spatial

        points = self.field.frame(self.spark, self.partitions)
        tr.call("sources.write", write_spatial, points, lits["path"],
                "geometry", self.meta, WORLD, *LAYOUT)
        tr.explain(points)
        return lits["path"]

    def _check_ingest(self, lits, path):
        table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=["id", "x", "y", "bbox_xmin", "bbox_ymax"])
        order = np.argsort(table.column("id").to_numpy())
        col = {k: table.column(k).to_numpy()[order] for k in table.column_names}
        self.written_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))
        self.input_bytes = 3 * 8 * self.n  # the generated id, x and y
        f = self.field
        return (np.array_equal(col["id"], f.ids)
                and np.array_equal(col["x"], f.x) and np.array_equal(col["y"], f.y)
                and np.array_equal(col["bbox_xmin"], f.x)
                and np.array_equal(col["bbox_ymax"], f.y))

    # kNN from the probes against every ingested point
    def _draw_knn(self, rng):
        return {"probes": self.field.probes(rng)}

    def _sides(self, lits):
        pts = self.spark.read.parquet(self.path).select("id", "geometry")
        probes = pts.filter(F.col("id").isin(lits["probes"])).select(
            F.col("id").alias("pid"), "geometry")
        return probes, pts.select(F.col("id").alias("cid"), "geometry")

    def _run_knn(self, tr, lits):
        from datafusion_spatial_spark.operators.spatial_knn import knn_join

        knn = tr.call("operators.spatial_knn", knn_join, *self._sides(lits),
                      "geometry", "geometry", self.meta, self.meta, "pid", "cid",
                      k=K, radius=0.4 * self.spacing, max_rounds=6)
        return collect_knn(tr, knn)

    def _run_knn_geo(self, tr, lits):
        from datafusion_spatial_spark.operators.spatial_knn import knn_join_geography

        knn = tr.call("operators.spatial_knn", knn_join_geography, *self._sides(lits),
                      "geometry", "geometry", self.meta, self.meta, "pid", "cid",
                      k=K, radius_m=60_000.0 * self.spacing, max_rounds=6)
        return collect_knn(tr, knn.withColumnRenamed("distance_m", "distance"))

    def _check_knn(self, lits, rows, dist=oracle.planar, rel=1e-9):
        f = self.field
        probe = np.isin(f.ids, lits["probes"])
        return oracle.knn_matches(
            {"id": f.ids[probe], "x": f.x[probe], "y": f.y[probe]},
            {"id": f.ids, "x": f.x, "y": f.y},
            K, [(r.pid, r.cid, r.distance, r.rank) for r in rows], dist, rel,
        )

    def _check_knn_geo(self, lits, rows):
        return self._check_knn(lits, rows, oracle.haversine_m, 1e-7)

    # DBSCAN over the first fifth of the ids; eps puts the densest
    # clusters' points at a handful of neighbours each
    def _draw_dbscan(self, rng):
        return {"eps": 0.1 * min(self.field.half) * self.spacing}

    def _run_dbscan(self, tr, lits):
        from datafusion_spatial_spark.operators.spatial_cluster import cluster_dbscan

        pts = self.spark.read.parquet(self.path).filter(F.col("id") < self.n_dbscan)
        labels = tr.call("operators.spatial_cluster", cluster_dbscan,
                         pts.select("id", "geometry"), "geometry", self.meta,
                         lits["eps"], DBSCAN_MIN, id_col="id")
        return tr.collect(labels.groupBy("cluster_id").agg(F.count("*").alias("n")))

    def _check_dbscan(self, lits, rows):
        f, m = self.field, self.n_dbscan
        labels = oracle.dbscan(f.ids[:m], f.x[:m], f.y[:m], lits["eps"], DBSCAN_MIN)
        return oracle.cluster_sizes_match(rows, labels, m)
