"""``llm_pipeline``: the batch workload.

A corpus and an embedding table scaled up from the sf0.1 shape. Each pass
runs the training-data pipeline in order: text statistics, MinHash-LSH
near-duplicate pairs, corpus dedup (connected components) written out with
``storage.write_partitioned``, an IVF index with a seeded query batch, an
exact cosine top-k, and a DBSCAN over the documents' geotags (its
connected-components iterations are the round-bound step of the pass).
The inputs are sized so executor time dominates a pass on four cores and
the fixed per-op driver cost is a small share.
"""

from __future__ import annotations

import functools
import os
import shutil

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.workload import Template

K = 10
RECALL_FLOOR = 0.8
# base documents and base vectors per unit of scale factor; both tables
# hold COPIES letter-permuted / jittered copies of their base
DOCS, VECS, COPIES = 60_000, 60_000, 4
# both tables are written as this many files, as a corpus usually arrives,
# so every scan has a split per core
FILES = 8
DBSCAN_EPS, DBSCAN_MIN = 0.02, 8


class LLMPipelineWorkload:
    name = "llm_pipeline"
    interactive = False

    def __init__(self, spark, work: str, sf: float, seed: int):
        self.spark, self.work, self.sf, self.seed = spark, work, sf, seed
        self.input_bytes = self.written_bytes = 0
        self._op = 0

    def setup(self, tr) -> None:
        from datafusion_spatial_spark.sources.tables import load_table

        rng = np.random.default_rng(self.seed)
        self.dir = os.path.join(self.work, "inputs")
        self.corpus = gen.corpus(rng, max(40, int(DOCS * self.sf)), copies=COPIES)
        docs = gen.corpus_table(self.corpus)
        self.vecs = gen.embeddings(rng, max(40, int(VECS * self.sf)), copies=COPIES)
        gen.write_parts(docs, os.path.join(self.dir, "documents.parquet"), FILES)
        gen.write_parts(gen.embedding_table(self.vecs),
                        os.path.join(self.dir, "embeddings.parquet"), FILES)
        self.docs = tr.call("sources.load", load_table, self.spark, self.dir, "documents")
        self.emb = tr.call("sources.load", load_table, self.spark, self.dir, "embeddings")
        texts = self.corpus["text"]
        self.n_docs = len(texts)
        self.tokens = sum(len(t.split()) for t in texts)
        self.chars = sum(len(t) for t in texts)
        self.doc_bytes = np.array([len(t.encode()) + 8 + 2 for t in texts])
        self.vec_ids = np.arange(len(self.vecs), dtype=np.int64)
        # geo clustering runs on the first copy's documents
        self.n_geo = self.n_docs // COPIES

    def templates(self) -> list[Template]:
        n_docs = lambda l: self.n_docs  # noqa: E731
        n_vecs = lambda l: len(self.vecs)  # noqa: E731
        return [
            Template("text_stats", _no_lits, self._run_stats, self._check_stats, n_docs),
            Template("dedup_pairs", _no_lits, self._run_pairs, self._check_pairs, n_docs),
            Template("dedup_write", self._draw_path, self._run_dedup_write,
                     self._check_dedup_write, n_docs),
            Template("ivf_topk", self._draw_queries, self._run_ivf, self._check_ivf, n_vecs),
            Template("cosine_topk", self._draw_queries, self._run_cosine,
                     self._check_cosine, n_vecs),
            Template("geo_dbscan", _no_lits, self._run_dbscan,
                     lambda l, rows: oracle.cluster_sizes_match(rows, self.geo_labels, self.n_geo),
                     lambda l: self.n_geo),
        ]

    # text_stats, summed so the op returns one row
    def _run_stats(self, tr, lits):
        from datafusion_spatial_spark.operators.text import text_stats

        stats = tr.call("operators.text", text_stats, self.docs, "text", "doc_id")
        return tr.collect(stats.agg(
            F.count("*").alias("n"), F.sum("n_tokens").alias("tokens"),
            F.sum("n_bpe_tokens").alias("bpe"), F.sum("n_chars_computed").alias("chars"),
        ))

    def _check_stats(self, lits, rows):
        r = rows[0]
        return (r.n, r.tokens, r.bpe, r.chars) == (
            self.n_docs, self.tokens, self.tokens, self.chars)

    # MinHash-LSH pairs: exactly the planted duplicate pairs
    def _run_pairs(self, tr, lits):
        from datafusion_spatial_spark.operators.dedup import minhash_lsh_dedup_pairs

        pairs = tr.call("operators.dedup", minhash_lsh_dedup_pairs,
                        self.docs, "text", "doc_id", jaccard_threshold=0.5)
        rows = tr.collect(pairs.agg(F.count("*").alias("n"),
                                    F.min("jaccard").alias("jmin")))
        tr.note("dedup.pairs", rows[0].n)
        return rows

    def _check_pairs(self, lits, rows):
        want = self.corpus["dup_pairs_per_copy"] * self.corpus["copies"]
        return rows[0].n == want and (want == 0 or rows[0].jmin == 1.0)

    # dedup_corpus, survivors written partitioned by language
    def _draw_path(self, rng):
        self._op += 1
        return {"path": os.path.join(self.work, "out", f"survivors{self._op}")}

    def _run_dedup_write(self, tr, lits):
        from datafusion_spatial_spark.operators.dedup import dedup_corpus
        from datafusion_spatial_spark.operators.storage import write_partitioned

        survivors = tr.call("operators.dedup", dedup_corpus, self.docs, "text", "doc_id")
        tr.call("sources.write", write_partitioned, survivors, lits["path"], ["lang"])
        tr.explain(survivors)
        return lits["path"]

    def _check_dedup_write(self, lits, path):
        table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=["doc_id"])
        ids = np.sort(table.column("doc_id").to_numpy())
        self.written_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))
        self.input_bytes = int(self.doc_bytes[ids].sum())
        shutil.rmtree(path, ignore_errors=True)
        want = self.corpus["survivors_per_copy"] * self.corpus["copies"]
        return len(ids) == want and len(np.unique(ids)) == want

    # IVF index + top-10 for a seeded query batch, recall against exact
    def _draw_queries(self, rng):
        pick = rng.choice(len(self.vecs), 4, replace=False)
        noise = rng.normal(scale=0.3, size=(4, self.vecs.shape[1]))
        return {"queries": (self.vecs[pick] + noise).tolist(), "seed": int(rng.integers(1 << 30))}

    def _run_ivf(self, tr, lits):
        from datafusion_spatial_spark.operators.simsearch import ivf_index, ivf_topk

        assigned, centroids = tr.call(
            "operators.simsearch", ivf_index, self.emb, "embedding", "vec_id",
            n_lists=16, seed=lits["seed"], max_iter=5,
        )
        out = []
        for q in lits["queries"]:
            top = tr.call("operators.simsearch", ivf_topk, assigned, centroids,
                          "embedding", "vec_id", q, k=K, nprobe=4)
            out.append([r.vec_id for r in tr.collect(top)])
        recall = sum(
            oracle.recall_at(got, self._exact(q)) for got, q in zip(out, lits["queries"]))
        tr.note("simsearch.recall_at_10", recall)
        tr.note("simsearch.queries", len(out))
        return out

    def _exact(self, q):
        return oracle.topk_ids(oracle.cosine_scores(self.vecs, q), self.vec_ids, K).tolist()

    def _check_ivf(self, lits, out):
        recall = [oracle.recall_at(got, self._exact(q)) for got, q in zip(out, lits["queries"])]
        return len(out) == len(lits["queries"]) and np.mean(recall) >= RECALL_FLOOR

    # exact cosine top-k for the same kind of query batch
    def _run_cosine(self, tr, lits):
        from datafusion_spatial_spark.operators.simsearch import cosine_topk

        out = []
        for q in lits["queries"][:2]:
            top = tr.call("operators.simsearch", cosine_topk, self.emb, "embedding",
                          "vec_id", q, k=K)
            out.append([(r.vec_id, r.score) for r in tr.collect(top)])
        return out

    def _check_cosine(self, lits, out):
        for got, q in zip(out, lits["queries"][:2]):
            scores = oracle.cosine_scores(self.vecs, q)
            want = oracle.topk_ids(scores, self.vec_ids, K)
            if len(got) != K or not np.allclose([s for _, s in got], scores[want], rtol=1e-6):
                return False
            for (i, _), w in zip(got, want):
                if i != w and not np.isclose(scores[i], scores[w], rtol=1e-6):
                    return False
        return True


    # DBSCAN over the first copy's geotags (clusters at the pole and on the
    # antimeridian included), summarised per cluster
    def _run_dbscan(self, tr, lits):
        from datafusion_spatial_spark.functions import st_point
        from datafusion_spatial_spark.meta import GeometryMeta
        from datafusion_spatial_spark.operators.spatial_cluster import cluster_dbscan

        docs = self.docs.filter(F.col("doc_id") < self.n_geo).select(
            "doc_id", tr.call("functions", st_point, "lon", "lat").alias("geom"))
        labels = tr.call(
            "operators.spatial_cluster", cluster_dbscan, docs, "geom",
            GeometryMeta(encoding="point", geometry_types=("Point",)),
            DBSCAN_EPS, DBSCAN_MIN, id_col="doc_id")
        return tr.collect(labels.groupBy("cluster_id").agg(F.count("*").alias("n")))

    @functools.cached_property
    def geo_labels(self) -> dict:
        """Reference DBSCAN labels; computed at the first check, so setup_s
        holds no reference work."""
        c, n = self.corpus, self.n_geo
        return oracle.dbscan(c["doc_id"][:n], c["lon"][:n], c["lat"][:n], DBSCAN_EPS, DBSCAN_MIN)


def _no_lits(rng):
    return {}
