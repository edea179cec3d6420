"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline: a map-only scan computing
``dot/(|q||v|)`` with higher-order functions (JVM-side, no Python), then a
global top-k. At 100 TB the scan is embarrassingly parallel and the top-k is
``TakeOrderedAndProject`` (per-partition heap + driver merge of k·partitions
rows) — no full sort, no wide shuffle.

The scale path is LSH bucketing with random hyperplanes:
sign(v·r_i) bits form a bucket key; candidates share the query's bucket (or
a hamming-neighbor bucket via multi-probe), then exact rerank. Bucketing is
again map-only; the candidate fetch is a partition-pruned filter or an
equi-join on bucket id. Plane vectors are generated from a fixed seed and
embedded as literals, so results are deterministic and oracle-reproducible.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_spatial_spark.exprlit import (
    cosine_raw_sql,
    cosine_sql,
    dot_sql,
    norm_sql,
    not_nan_sql,
    quote_col,
    render_double,
    render_double_array,
    sqdist_sql,
    vec_sql,
)


# Below this corpus size, cosine_near_dup_pairs/semantic_dedup drop their
# banded LSH to a single band (VERDICT r11 #3): banding exists to hold
# recall as the auto-scaled plane count r grows with the corpus; at small
# n, r is small, single-band recall is ~1 for near-parallel dup vectors,
# and the extra band joins are pure overhead (~3x at sf0.1 in the r11
# probe). 20k keeps the 30x/100x probe scales (60k/200k rows) banded.
_BANDS1_CORPUS_ROWS = 20_000

# one-pass banded join: max over-cap (band, bucket) entries collected to
# the driver for NULL-masking; beyond this (adversarial bucket skew) the
# per-band union fallback runs instead — the collect stays O(1)-bounded
_HOT_SET_COLLECT_CAP = 1_000


def _bucket_arrays_np(plane_groups: list):
    """Vectorized all-band LSH bucketing: ONE numpy matmul per Arrow
    batch ((rows × dims) @ (dims × r·b) > 0, bits packed per band)
    instead of r·b Catalyst higher-order-function dot folds per row —
    the fold chain was the measured bottleneck of the banded candidate
    stage. Float summation order differs from the Catalyst fold, so a
    dot within ~1e-13 of zero can land in a different bucket; that
    only perturbs LSH bucketing (recall-neutral), never a verified
    score, and the oracle-mirrored explicit-planes path never uses
    this helper."""
    import numpy as np
    from pyspark.sql import types as ST

    mat = np.array(
        [p for grp in plane_groups for p in grp], dtype=np.float64
    ).T  # dims × (r·b)
    sizes = [len(grp) for grp in plane_groups]
    offs = np.concatenate(([0], np.cumsum(sizes)))
    weights = [
        (np.int64(1) << np.arange(sizes[k], dtype=np.int64))
        for k in range(len(sizes))
    ]

    @F.pandas_udf(ST.ArrayType(ST.LongType()))
    def udf(s: pd.Series) -> pd.Series:
        out = []
        isna = s.isna()
        vals = [None if isna[i] else np.asarray(s[i], np.float64)
                for i in range(len(s))]
        ok = [v for v in vals if v is not None and v.size == mat.shape[0]]
        if ok:
            stacked = np.stack(ok)
            bits = stacked @ mat > 0
            buckets = np.stack([
                (bits[:, offs[k]:offs[k + 1]] @ weights[k])
                for k in range(len(sizes))
            ], axis=1)
        j = 0
        for v in vals:
            if v is None or v.size != mat.shape[0]:
                out.append(None)
            else:
                out.append([int(x) for x in buckets[j]])
                j += 1
        return pd.Series(out, dtype="object")

    return udf


def _vec(col_name: str) -> Column:
    return F.expr(vec_sql(col_name))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``. Deterministic
    tie-break on id; NaN-bearing or zero-norm vectors score NULL (see
    ``exprlit.cosine_sql``) and rank last. Plan: scan → map (cosine) →
    TakeOrderedAndProject."""
    # precompute |q| driver-side: it is constant per query, and folding
    # it into a literal removes one array fold per row
    qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    return _score_topk(
        df, id_col, vec_sql(vec_col),
        cosine_raw_sql("__v", query, norm_b=render_double(qn)), k,
    )


def _score_topk(df: DataFrame, id_col: str, vec: str, raw: str, k: int) -> DataFrame:
    """Top-k by ``score`` with each stage in its own projection: the cast
    vector ``vec`` (read by both the dot and the norm fold, as ``__v`` in
    ``raw``) and the raw cosine (read by the NaN test and the result) are
    each computed once per row — Catalyst shares no subexpression under a
    higher-order function."""
    return (
        df.select(F.col(id_col), F.expr(vec).alias("__v"))
        .select(F.col(id_col), F.expr(raw).alias("__raw"))
        .select(F.col(id_col), F.expr(not_nan_sql("__raw")).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def knn_pairs_bruteforce(
    df: DataFrame, vec_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """All-pairs exact kNN (cosine) via self-join — O(n²) compute but only
    one shuffle; for modest n (rerank sets, sampled audits). For full-corpus
    kNN at scale use :func:`lsh_bucket` blocking first."""
    from pyspark.sql import Window

    a = df.select(F.col(id_col).alias("id_a"), _vec(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), _vec(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b")).withColumn(
        "score", F.expr(cosine_sql("va", "vb"))
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.col("id_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id_a", "id_b", "score", "rank")
    )


def random_hyperplanes(dims: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-ish hyperplane normals (Box-Muller from a seeded
    PRNG; plain Python so the literals can also be embedded in oracle SQL)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dims)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """Add a ``bucket`` column: integer whose bit i = sign(v · plane_i).
    Map-only; bucket is then a blocking/partitioning key."""
    if len(planes) > 62:
        raise ValueError("lsh_bucket supports at most 62 hyperplanes")
    v = vec_sql(vec_col)
    bits = " + ".join(
        f"CASE WHEN {dot_sql(v, plane)} > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    # long, not int: with >= 32 planes bit 31 overflows a 32-bit cast to a
    # negative id that can never match the Python-side probe set, silently
    # truncating every lsh_topk result (r7 review fix)
    return df.withColumn("bucket", F.expr(f"CAST({bits} AS BIGINT)"))


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    planes: list[list[float]],
    k: int = 10,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: restrict to buckets within ``multiprobe_hamming`` bit
    flips of the query's bucket, then exact cosine rerank. The bucket filter
    prunes the scan (predicate pushdown on a materialized bucket column /
    partition key at scale)."""
    qbucket = 0
    for i, plane in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query, plane))
        if s > 0:
            qbucket |= 1 << i
    n = len(planes)
    probes = {qbucket}
    if multiprobe_hamming >= 1:
        for i in range(n):
            probes.add(qbucket ^ (1 << i))
    if multiprobe_hamming >= 2:
        for i in range(n):
            for j in range(i + 1, n):
                probes.add(qbucket ^ (1 << i) ^ (1 << j))
    bucketed = lsh_bucket(df, vec_col, id_col, planes)
    cand = bucketed.filter(F.col("bucket").isin(sorted(probes)))
    return _rank_by_cosine(cand, id_col, vec_sql(vec_col), query, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    dims: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    max_bucket: int | None = 10_000,
    bands: int = 1,
    auto_scale_target: int | None = None,
) -> DataFrame:
    """Embedding-based near-duplicate PAIR mining at corpus scale: LSH
    hyperplane bucketing (map-only) → within-bucket self-join (equi-join on
    bucket id — never an all-pairs cross join) → exact cosine verify at
    ``threshold``. Returns (id_a, id_b, score) with id_a < id_b.

    Same scale shape as the MinHash text path (operators/dedup.py): the
    only shuffle keys on the bucket id, and ``max_bucket`` caps degenerate
    buckets (e.g. all-zeros embeddings) so a hot bucket cannot go
    quadratic. Candidates are always verified exactly, so precision is 1.0.

    Scaling (r11 probe finding): a FIXED bucket count goes quadratic as
    the corpus grows — at 2^8 buckets the 30x→100x wall-time exponent
    measured 1.63. The fix is the same banding MinHash uses:

    * ``bands`` > 1 (only when ``planes`` is None): generate bands·r
      hyperplanes, bucket independently per r-plane band, union the
      bands' pairs. Bucket count 2^r scales while recall stays
      1 − (1 − p^r)^bands (p = 1 − θ/π per plane).
    * ``auto_scale_target``: pick r = max(n_planes,
      ceil(log2(count / target))) from ONE count() — bucket count then
      tracks the corpus and expected candidates are ~count·target·bands,
      LINEAR in data.

    Explicit ``planes=`` keeps the legacy single-band behavior (the
    oracle gates mirror that bucketing verbatim).

    Small-corpus fast path: when ``auto_scale_target`` is set and the
    (already-required) count comes back ≤ ``_BANDS1_CORPUS_ROWS``, the
    band count drops to 1 — at small n the auto-scaled r is small, so a
    single band keeps ~full recall for near-parallel duplicate vectors
    and the extra band joins are pure overhead.
    """
    if planes is not None:
        plane_groups = [planes]
    else:
        if dims is None:
            raise ValueError("pass planes= or dims=")
        r = int(n_planes)
        b = max(1, int(bands))
        if auto_scale_target is not None:
            n = df.count()
            r = max(r, math.ceil(math.log2(max(
                2.0, n / float(auto_scale_target)
            ))))
            # Small corpora don't pay for scale they don't have: below
            # _BANDS1_CORPUS_ROWS a single band at the auto-scaled r
            # already keeps expected candidates ~n*target, and near-dups
            # at these thresholds are near-parallel (per-plane agreement
            # p ~ 1, so single-band recall p^r stays ~1) — banding's
            # recall boost only matters at corpus sizes where r has grown
            # large. Drops the 4 band joins to 1 (r11 probe: 9.0s vs
            # 3.1s at sf0.1). Reuses the auto_scale_target count — no
            # extra job.
            if n <= _BANDS1_CORPUS_ROWS:
                b = 1
        r = min(r, 62)
        all_planes = random_hyperplanes(dims, r * b, seed)
        plane_groups = [all_planes[k * r:(k + 1) * r] for k in range(b)]
    if len(plane_groups) > 1:
        banded = _near_dup_pairs_banded(
            df, vec_col, id_col, threshold, plane_groups, max_bucket
        )
        if banded is not None:
            return banded
        # adversarial bucket skew (over-cap set too large to collect):
        # the r12-identical per-band union below needs no driver state
    out = None
    for grp in plane_groups:
        pairs = _near_dup_pairs_one_band(
            df, vec_col, id_col, threshold, grp, max_bucket
        )
        out = pairs if out is None else out.unionAll(pairs)
    return out.dropDuplicates(["id_a", "id_b"])


def _near_dup_pairs_banded(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    plane_groups: list,
    max_bucket: int | None,
) -> DataFrame:
    """One-pass multi-band LSH candidate join (r13, VERDICT r12 #5 —
    the semantic_dedup banded-join constant). The per-band plan ran one
    bucket + count + self-join JOB per band and unioned the verified
    pairs, so a pair surfacing in k bands paid k exact-cosine
    evaluations plus a final all-pair dedup shuffle.

    Here rows carry their full per-band bucket ARRAY (b longs — never
    the vectors twice) into each band's bucket self-join, and each
    candidate pair survives only in its CANONICAL band — the first band
    where both rows' buckets agree (a map-side filter on the two bucket
    arrays). Each unique pair pays exactly one exact-cosine and there is
    NO pair-dedup shuffle at all: the canonical-band rule already emits
    every pair once, so the band branches union disjoint sets.

    Measured design note (r13): a single composite (band, bucket)
    self-join was tried first and REJECTED — 86s vs 27s for the
    per-band branches at 60k rows. The per-band joins are not serial
    jobs: the union evaluates all branches CONCURRENTLY in one job,
    with one modest exchange per band instead of one giant wide-row
    sort-merge whose straggler partitions dominate.

    Capped buckets (``max_bucket`` — the degenerate all-zeros-embedding
    guard) interact with the canonical rule: a pair whose first
    agreeing band was CAPPED must instead survive in its first
    UNCAPPED agreeing band, or r12 recall would silently drop. The
    over-cap (band, bucket) set is tiny by construction (buckets
    expected ~auto_scale_target rows vs the 10k default cap), so it is
    collected with a hard LIMIT guard and masked out of the bucket
    arrays as NULLs (NULL never equals, so capped bands are transparent
    to both the explode and the canonical rule). If the over-cap set is
    implausibly large (> _HOT_SET_COLLECT_CAP — adversarial data), the
    operator falls back to the r12-identical per-band union, which
    needs no driver-side set. The pair set matches the per-band union
    up to float-summation-order bucket ties (recall-neutral): same
    planes, same per-band bit order, same >= threshold verify — but
    ``_bucket_arrays_np``'s numpy matmul may sum plane dots in a
    different order than the Catalyst fold of the per-band fallback,
    so a dot within ~1e-13 of zero can bucket differently and the
    candidate set can differ at that margin.

    Eager-evaluation side effect (ADVICE r13): building this DataFrame
    runs Spark jobs NOW — the ``base.count()`` that materializes the
    shared persist, plus the hot-set collect when ``max_bucket`` is
    set — it is not a purely lazy plan. The persist (MEMORY_AND_DISK,
    lineage retained) replaced an earlier ``localCheckpoint()`` so an
    executor loss recomputes the blocks instead of failing the query."""
    nb = len(plane_groups)
    base = df.select(
        F.col(id_col).alias("__id"),
        _vec(vec_col).alias("__v"),
        # per-ROW norm via the same sequential fold cosine_sql uses, so
        # the per-PAIR verify below is bit-identical to cosine_sql(a, b)
        # while paying one interpreted fold per pair (the dot) instead of
        # three — higher-order functions never reach codegen, and the
        # two norm folds per candidate pair dominated the verify at 100x
        F.expr(norm_sql(vec_sql(vec_col))).alias("__nrm"),
        _bucket_arrays_np(plane_groups)(_vec(vec_col)).alias("__bkts"),
    )
    # materialize once: every band branch reads BOTH join sides from this
    # frame, so without caching the bucket matmul and norm folds would
    # recompute 2·b times. O(n · (dims + b)) rows — the same data any
    # one band's exchange already moves. persist (not localCheckpoint):
    # lineage is retained, so losing an executor recomputes the blocks
    # rather than failing the query; count() fills the cache up front so
    # concurrent band branches in the union job don't race to compute it.
    from pyspark.storagelevel import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    if max_bucket is not None:
        exploded = base.select(
            F.posexplode("__bkts").alias("__band", "__bucket")
        )
        hot = (
            exploded.groupBy("__band", "__bucket")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("__band", "__bucket")
            .limit(_HOT_SET_COLLECT_CAP + 1)
            .collect()
        )
        if len(hot) > _HOT_SET_COLLECT_CAP:
            base.unpersist()
            return None  # caller falls back to the per-band union
        if hot:
            hot_by_band = {k: [] for k in range(nb)}
            for r in hot:
                hot_by_band[int(r["__band"])].append(int(r["__bucket"]))
            base = base.select(
                "__id", "__v", "__nrm",
                F.array(*[
                    F.when(
                        F.col("__bkts")[k].isin(hot_by_band[k]),
                        F.lit(None).cast("long"),
                    ).otherwise(F.col("__bkts")[k])
                    if hot_by_band[k] else F.col("__bkts")[k]
                    for k in range(nb)
                ]).alias("__bkts"),
            )
    # canonical band k: no EARLIER band's buckets agree (NULL-masked
    # capped bands never agree) — keeps each pair exactly once. The test
    # is expanded to static getArrayItem comparisons, NOT zip_with/
    # array_position: higher-order functions run interpreted, and an
    # interpreted lambda on every joined candidate row measurably
    # dominated the stage at 100x scale.
    def _canonical(k: int):
        cond = None
        for j in range(k):
            agree_j = F.coalesce(
                F.col("__ba")[j] == F.col("__bb")[j], F.lit(False)
            )
            cond = ~agree_j if cond is None else cond & ~agree_j
        return cond

    out = None
    for k in range(nb):
        a = base.select(
            F.col("__bkts")[k].alias("bucket"),
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"), F.col("__nrm").alias("__na"),
            F.col("__bkts").alias("__ba"),
        ).filter(F.col("bucket").isNotNull())
        b = base.select(
            F.col("__bkts")[k].alias("bucket"),
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"), F.col("__nrm").alias("__nb"),
            F.col("__bkts").alias("__bb"),
        ).filter(F.col("bucket").isNotNull())
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        canon = _canonical(k)
        if canon is not None:
            pairs = pairs.filter(canon)
        # bit-identical to cosine_sql(__va, __vb): same dot fold, same
        # norm(a) * norm(b) product (folded once per row upstream), same
        # NaN guard and zero-norm NULL
        raw = cosine_raw_sql("__va", "__vb", norm_a="__na", norm_b="__nb")
        pairs = (
            pairs
            .withColumn("score", F.expr(not_nan_sql(raw)))
            .filter(F.col("score") >= F.lit(float(threshold)))
            .select("id_a", "id_b", F.round("score", 6).alias("score"))
        )
        out = pairs if out is None else out.unionAll(pairs)
    return out


def _near_dup_pairs_one_band(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    planes: list[list[float]],
    max_bucket: int | None,
) -> DataFrame:
    bucketed = lsh_bucket(df, vec_col, id_col, planes).select(
        F.col(id_col).alias("__id"), _vec(vec_col).alias("__v"), "bucket"
    )
    if max_bucket is not None:
        # cap pathological buckets before the self-join (None = uncapped,
        # e.g. when an external oracle mirrors the bucketing without one)
        counts = bucketed.groupBy("bucket").count()
        bucketed = bucketed.join(
            F.broadcast(
                counts.filter(F.col("count") <= max_bucket).select("bucket")
            ),
            "bucket",
        )
    a = bucketed.select(
        "bucket", F.col("__id").alias("id_a"), F.col("__v").alias("__va")
    )
    b = bucketed.select(
        "bucket", F.col("__id").alias("id_b"), F.col("__v").alias("__vb")
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.expr(cosine_sql("__va", "__vb")))
        .filter(F.col("score") >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + nprobe search


def ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    train_sample_size: int | None = 262_144,
):
    """Build an IVF index: k-means centroids (Spark ML, distributed) and the
    corpus tagged with its nearest-centroid list id.

    **Sample-trained by default** (r15, VERDICT r14 #1): Lloyd's k-means
    makes ``max_iter`` passes over its training input, so fitting on the
    full corpus costs ~20 full scans at 100 TB — the coarse quantizer
    doesn't need them (FAISS trains IVF on a bounded sample for the same
    reason; centroid quality saturates at a few hundred points per list).
    When the corpus exceeds ``train_sample_size`` the fit runs on a
    seeded random sample of that size, cached (bounded ⇒ memory-safe by
    construction), and the full data pays exactly ONE pass: the
    nearest-centroid assignment (map-only ``model.transform``). Corpora
    at or under the bound train on everything — identical results to the
    pre-r15 full fit. ``train_sample_size=None`` forces the full fit.

    Returns (assigned_df, centroids) where ``assigned_df`` = df columns +
    ``list_id`` and ``centroids`` = [[float,...], ...]. At scale, write
    ``assigned_df`` partitioned by ``list_id`` so a probe reads only
    nprobe/n_lists of the data (partition pruning).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__features", array_to_vector(_vec(vec_col)))
    train = feat
    sampled = False
    if train_sample_size is not None:
        if train_sample_size < n_lists:
            raise ValueError(
                f"train_sample_size={train_sample_size} < n_lists={n_lists}"
            )
        n = df.count()  # column-pruned scan; the one extra bounded cost
        if n > train_sample_size:
            # slight over-draw so the Bernoulli sample almost surely
            # covers >= n_lists distinct points; exactness is irrelevant
            # (the sample only trains centroids)
            fraction = min(1.0, 1.05 * train_sample_size / n)
            train = feat.sample(fraction=fraction, seed=seed).persist()
            # Bernoulli draws have a tail: with train_sample_size near
            # n_lists the sample can come up short of k points and the
            # k-means fit would fail or return fewer centroids (r15
            # review fix). The count materializes the cache the fit
            # needs anyway; falling back to the full fit is always
            # correct, just slower.
            if train.count() < n_lists:
                train.unpersist()
                train = feat
            else:
                sampled = True
    model = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter, featuresCol="__features",
        predictionCol="list_id",
    ).fit(train)
    if sampled:
        train.unpersist()
    assigned = model.transform(feat).drop("__features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_index_pivots(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int = 8,
    pivots: list | None = None,
):
    """Deterministic IVF coarse quantizer: the pivots ("centroids") are the
    embeddings of the ``n_lists`` smallest ids, and every row is assigned to
    its nearest pivot by squared L2 — a pure-Catalyst argmin over literal
    pivot arrays. Map-only: zero shuffle, zero Python, the same scan shape
    as :func:`lsh_bucket`.

    Why pivots instead of Lloyd's k-means here: k-means centroid MEANS are
    not bit-reproducible across engines (group-summation order is
    unspecified), so a k-means IVF can never be value-checked against a SQL
    oracle. Nearest-pivot assignment uses only products and sequential
    sums, which this repo's oracles mirror exactly. For production-quality
    lists use :func:`ivf_index` (Spark ML) — the downstream shape is
    identical (``list_id`` filter → partition pruning on list-partitioned
    storage).

    Returns ``(assigned_df, pivots)`` with ``assigned_df`` = df +
    ``list_id`` and ``pivots`` the list of pivot vectors (index = list id).
    Ties go to the smallest list id (``array_position`` finds the first
    minimum).

    ``pivots`` (r16): a caller that already holds the first ``n_lists``
    non-null vectors by ascending id (e.g. from a shared prefix collect)
    passes them to skip this function's own collect — the values MUST be
    exactly what the collect would return, or assignments shift. Given
    pivots that are fewer than ``n_lists``, hold a ``None`` or an empty
    vector, or differ in length raise ``ValueError``.
    """
    if pivots is None:
        rows = (
            df.select(F.col(id_col).alias("__i"), _vec(vec_col).alias("__v"))
            .filter(F.col("__v").isNotNull())  # a null embedding can't pivot
            .orderBy("__i")
            .limit(n_lists)
            .collect()
        )
        pivots = [[float(x) for x in r["__v"]] for r in rows]
    else:
        _check_pivots(pivots, n_lists)
        pivots = [[float(x) for x in p] for p in pivots[:n_lists]]
    # the cast vector is its own projection, computed once per row rather
    # than once per pivot distance
    v = "__ivf_v"
    # the argmin distance array as ONE F.expr string: built node by node
    # through the Column API, its n_lists aggregate/zip_with lambda pairs
    # cost ~1.5 s of py4j for 8×64-dim pivots
    scores = F.expr(
        "array(" + ",".join(sqdist_sql(quote_col(v), p) for p in pivots) + ")"
    )
    list_id = (F.array_position(scores, F.array_min(scores)) - 1).cast("int")
    return (
        df.withColumn(v, _vec(vec_col))
        .withColumn("list_id", list_id)
        .drop(v)
    ), pivots


def _check_pivots(pivots: list, n_lists: int) -> None:
    if len(pivots) < max(n_lists, 1):
        raise ValueError(
            f"ivf_index_pivots: {len(pivots)} pivots given, need n_lists={n_lists}"
        )
    used = pivots[:n_lists]
    if any(p is None or len(p) == 0 or any(x is None for x in p) for p in used):
        raise ValueError("ivf_index_pivots: pivots contain None or an empty vector")
    if len({len(p) for p in used}) > 1:
        raise ValueError(
            "ivf_index_pivots: pivots are ragged "
            f"(lengths {sorted({len(p) for p in used})})"
        )


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k: rank centroids by cosine to the query driver-side (tiny),
    scan only the ``nprobe`` nearest lists, exact cosine rerank. The
    ``list_id`` filter is the IVF pruning step — with list-partitioned
    storage it becomes partition pruning instead of a filter."""
    probes = _probe_lists(centroids, query, nprobe)
    cand = assigned.filter(F.col("list_id").isin(probes))
    return _score_topk(
        cand, id_col, vec_sql(vec_col), cosine_raw_sql("__v", query), k
    )


def _probe_lists(centroids: list[list[float]], query: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` list ids whose centroids are most cosine-similar to
    ``query``, ranked driver-side (the centroid set is tiny)."""

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(query, centroids[i]))
    return ranked[: max(1, nprobe)]


def _rank_by_cosine(
    df: DataFrame, id_col: str, vec: str, query: list[float], k: int
) -> DataFrame:
    """Top-k of ``df`` by ``cosine_sql(vec, query)`` (``vec`` is SQL text),
    ties broken by id."""
    return (
        df.select(F.col(id_col), F.expr(cosine_sql(vec, query)).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# PQ (product quantization): compressed-domain ANN
#
# IVF prunes WHICH rows a probe scans; PQ shrinks WHAT each row costs.
# Vectors are L2-normalized, split into m subvectors, and each subvector is
# replaced by the id of its nearest codeword (2^nbits-entry codebook per
# subspace) — e.g. a 768-dim float32 embedding (3 KB) becomes m=8 bytes,
# a ~400x compression that turns a 100 TB embedding corpus into a fraction
# the scan/shuffle/cache cost. Queries score candidates WITHOUT
# reconstructing vectors: a per-query lookup table LUT[j][c] =
# dot(q_j, codebook_j[c]) is built driver-side (tiny) and folded into a
# pure-Catalyst expression — the scan stays JVM-side and map-only
# (asymmetric distance computation, as in FAISS IVFPQ/the original
# Jegou et al. 2011 paper). Optional exact rerank joins the true vectors
# back for the short candidate list only.


def _l2_normalize_np(X):
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def _kmeans_np(X, k: int, iters: int = 25, seed: int = 0):
    """Deterministic Lloyd's k-means (numpy, driver-side) for codebook
    training on a bounded sample — no Spark-ML dependency per subspace."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    idx = rng.choice(len(X), size=k, replace=False)
    C = X[idx].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    nbits: int = 4,
    sample_size: int = 10_000,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``m`` subspaces x ``2^nbits`` codewords each,
    k-means on an L2-normalized driver-side sample (bounded by
    ``sample_size`` — codebooks need thousands of examples, not the
    corpus; the expensive full-corpus step is ``pq_encode``, which is
    distributed). Vector dim must be divisible by ``m``.

    The sample is a seeded Bernoulli ``df.sample`` before the limit — a bare
    ``.limit(n)`` would take the first partitions' rows, biasing codebooks
    toward a physically-sorted prefix (e.g. one spatial region after a
    Hilbert re-layout)."""
    import numpy as np

    n_rows = df.count()
    frac = min(1.0, (3.0 * sample_size) / max(1, n_rows))
    sample = (
        df.select(_vec(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .sample(fraction=frac, seed=seed)
        .limit(sample_size)
        .collect()
    )
    X = _l2_normalize_np(np.array([r.v for r in sample], dtype=np.float64))
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    k = 1 << nbits
    books = []
    for j in range(m):
        C = _kmeans_np(X[:, j * sub : (j + 1) * sub], k, seed=seed + j)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Add ``pq_code`` (array<int>, length m): per-subspace nearest-codeword
    ids of the L2-normalized vector. Arrow-batched pandas UDF, fully
    vectorized per batch; map-only, so it scales with the scan. At 100 TB
    you would persist (id, pq_code) — m bytes/row — as the search table."""
    import numpy as np
    from pyspark.sql import types as T

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    dim = m * sub

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(s: pd.Series) -> pd.Series:
        # null / wrong-length vectors encode to null instead of failing the
        # whole stage (a single ragged row would otherwise kill the job)
        ok = [v is not None and len(v) == dim for v in s]
        good = [v for v, f in zip(s, ok) if f]
        rows: list[list[int] | None] = []
        if good:
            X = _l2_normalize_np(np.array(good, dtype=np.float64))
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
                d2 = (
                    -2.0 * Xj @ books[j].T
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            rows = [list(map(int, row)) for row in codes]
        it = iter(rows)
        return pd.Series(
            [next(it) if f else None for f in ok], dtype=object
        )

    return df.withColumn("pq_code", encode(_vec(vec_col)))


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    query: list[float],
    k: int = 10,
    rerank: DataFrame | None = None,
    vec_col: str | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """ANN top-k over PQ codes by asymmetric distance: the per-query LUT is
    embedded as a nested array literal and the approximate cosine is
    ``aggregate(zip_with(pq_code, LUT, (c, row) -> row[c]), sum)`` — pure
    Catalyst, no Python, no vector column read. With ``rerank`` (a frame
    carrying ``id_col`` + ``vec_col``) the top ``k*rerank_factor``
    candidates are re-scored exactly and the final top-k is exact over
    that candidate set (standard PQ-then-rerank)."""
    scored = encoded.select(
        F.col(id_col), _adc_score_expr(codebooks, query).alias("approx_score")
    )
    n_cand = k * rerank_factor if rerank is not None else k
    cand = scored.orderBy(F.desc("approx_score"), F.col(id_col)).limit(n_cand)
    if rerank is None:
        return cand
    if vec_col is None:
        raise ValueError("vec_col required when rerank frame is given")
    # the raw vector is carried through the join and cast in the score,
    # so only the shortlist's vectors are cast
    exact = cand.join(
        rerank.select(F.col(id_col), F.col(vec_col).alias("__v")), id_col
    )
    return _rank_by_cosine(exact, id_col, vec_sql("__v"), query, k)


def _adc_score_expr(codebooks: list[list[list[float]]], query: list[float]) -> Column:
    """Approximate-cosine column over ``pq_code``: per-query LUT[j][c] =
    dot(normalized query subvector j, codeword c), folded as
    zip_with + aggregate — pure Catalyst."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    qv = [float(x) / qn for x in query]
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut = [
        [sum(qv[j * sub + t] * c[t] for t in range(sub)) for c in codebooks[j]]
        for j in range(m)
    ]
    lut_sql = "array(" + ",".join(render_double_array(row) for row in lut) + ")"
    return F.expr(
        f"aggregate(zip_with({quote_col('pq_code')}, {lut_sql}, "
        f"(__c, __r) -> element_at(__r, __c + 1)), "
        f"0.0D, (__a, __x) -> __a + __x)"
    )


def ivfpq_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: DataFrame | None = None,
    vec_col: str | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """IVF·PQ — the standard billion-scale ANN composition (FAISS IVFPQ):
    IVF prunes WHICH rows are scanned (nprobe/n_lists of the corpus via
    the ``list_id`` filter → partition pruning on list-partitioned
    storage), PQ shrinks WHAT each scanned row costs (m-byte codes scored
    by the pure-Catalyst ADC fold, no vector read). ``assigned`` must
    carry both ``list_id`` (ivf_index) and ``pq_code`` (pq_encode).
    Optional exact rerank as in :func:`pq_topk`."""
    probes = _probe_lists(centroids, query, nprobe)
    return pq_topk(
        assigned.filter(F.col("list_id").isin(probes)), codebooks, id_col,
        query, k, rerank, vec_col, rerank_factor,
    )


# ---------------------------------------------------------------------------
# SQ8 (scalar quantization): 1 byte per dimension (r15)
#
# The compression rung between raw floats and PQ: a 64-dim float32
# embedding (256 B) becomes 64 codes (64 B as stored int8/tinyint) with
# per-dimension affine params — 4x scan/cache shrink with near-lossless
# recall (FAISS's SQ8). Unlike PQ there is no trained codebook: the
# params are the exact per-dimension (min, span), which min/max being
# ORDER-INDEPENDENT makes bit-stable across engines and partitionings —
# so SQ8 is value-checkable against a SQL oracle (k-means codebooks are
# not; see pq_train's note). Encode, decode, and scoring are pure
# Catalyst (transform / sequential folds): the scan stays JVM-side and
# map-only.
# ---------------------------------------------------------------------------


def sq8_train(df: DataFrame, vec_col: str) -> tuple[list[float], list[float]]:
    """Exact per-dimension quantization params in ONE distributed pass:
    posexplode → 64-key groupBy(min, max) with map-side partial
    aggregation (the shuffle carries dims × partitions rows, not data) →
    collect dims rows (driver-bounded by the vector width).

    Returns ``(mins, spans)`` with ``span = max − min`` (constant
    dimensions get span 1.0, so they encode to 0 and decode to the
    constant). At 100 TB this is one cheap column-pruned pass — and the
    encode that follows is a pass anyway."""
    rows = (
        df.select(F.posexplode(_vec(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train: no non-null vectors")
    for r in rows:
        if r.mn is None or r.mx is None:
            # min/max skip SQL nulls, so an all-null dimension yields
            # None — surface it instead of a TypeError below
            raise ValueError(
                f"sq8_train: dimension {r.pos} is NULL in every vector"
            )
    mins = [float(r.mn) for r in rows]
    spans = [
        float(r.mx) - float(r.mn) if r.mx > r.mn else 1.0 for r in rows
    ]
    return mins, spans


def sq8_encode(
    df: DataFrame,
    vec_col: str,
    mins: list[float],
    spans: list[float],
    out_col: str = "sq8_code",
) -> DataFrame:
    """Add ``out_col`` (array<int>, values 0-255): per-dimension affine
    codes ``clamp(floor((x − min)/span·255 + 0.5))``. Pure Catalyst
    (transform + element_at on literal param arrays), map-only; null
    vectors encode to null. floor(+0.5) rather than round() so the
    half-way rule is the same expression in every engine."""
    rm, rs = render_double_array(mins), render_double_array(spans)
    code = F.expr(
        f"transform({vec_sql(vec_col)}, (__x, __i) -> "
        f"cast(least(255, greatest(0, floor("
        f"(__x - element_at({rm}, __i + 1)) "
        f"/ element_at({rs}, __i + 1) * 255.0D + 0.5D"
        f"))) as int))"
    )
    return df.withColumn(out_col, code)


def _sq8_decode_sql(code_col: str, mins: list[float], spans: list[float]) -> str:
    return (
        f"transform({quote_col(code_col)}, (__x, __i) -> "
        f"element_at({render_double_array(mins)}, __i + 1) "
        f"+ cast(__x as double) / 255.0D "
        f"* element_at({render_double_array(spans)}, __i + 1))"
    )


def sq8_decode_expr(code_col: str, mins: list[float], spans: list[float]) -> Column:
    """Reconstruction ``x̂ = min + code/255·span`` as a Catalyst array
    expression — composes into any scoring expression without leaving
    the JVM."""
    return F.expr(_sq8_decode_sql(code_col, mins, spans))


def sq8_topk(
    encoded: DataFrame,
    mins: list[float],
    spans: list[float],
    id_col: str,
    query: list[float],
    k: int = 10,
    code_col: str = "sq8_code",
) -> DataFrame:
    """Compressed-domain top-k: rank by cosine(decoded code, raw query)
    entirely in Catalyst — the scan reads 1-byte/dim codes, never the
    float vectors. Returns (id, score) like :func:`cosine_topk`; compose
    with an exact rerank against the float table when the last ulp of
    ranking matters."""
    return _rank_by_cosine(
        encoded, id_col, _sq8_decode_sql(code_col, mins, spans), query, k
    )


# ---------------------------------------------------------------------------
# IVF list-partitioned storage: probes as partition pruning
# ---------------------------------------------------------------------------

_IVF_SIDECAR = "_ivf_index.json"


def write_ivf_partitioned(
    assigned: DataFrame,
    path: str,
    centroids: list[list[float]],
    mode: str = "overwrite",
) -> None:
    """Persist an IVF-assigned corpus (from :func:`ivf_index` or
    :func:`ivf_index_pivots`) directory-partitioned by ``list_id``, with
    the coarse quantizer in a ``_ivf_index.json`` sidecar.

    This is the layout the IVF docstrings promise: a probe's
    ``list_id IN (...)`` becomes file-listing-level partition pruning, so
    a query touches nprobe/n_lists of the corpus bytes instead of
    filtering after a full scan — at 100 TB the difference between
    reading ~1% and reading everything. Sidecar on the driver-visible
    filesystem (object stores: keep the quantizer in a catalog instead,
    same as the spatial layout sidecar)."""
    import json
    import os

    from datafusion_spatial_spark.operators.storage import write_partitioned

    write_partitioned(assigned, path, ["list_id"], mode=mode)
    with open(os.path.join(path, _IVF_SIDECAR), "w") as f:
        json.dump({"centroids": centroids}, f)


def ivf_topk_from_storage(
    spark,
    path: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k over a :func:`write_ivf_partitioned` layout: rank the
    sidecar centroids driver-side (tiny), scan ONLY the ``nprobe`` nearest
    list partitions (PartitionFilters — whole directories never listed),
    exact cosine rerank. Same semantics as :func:`ivf_topk` on the
    in-memory assignment."""
    import json
    import os

    with open(os.path.join(path, _IVF_SIDECAR)) as f:
        centroids = json.load(f)["centroids"]
    probes = _probe_lists(centroids, query, nprobe)
    cand = spark.read.parquet(path).filter(F.col("list_id").isin(probes))
    return _rank_by_cosine(cand, id_col, vec_sql(vec_col), query, k)


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    dims: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    max_bucket: int | None = 10_000,
    bands: int = 4,
    auto_scale_target: int | None = 64,
    forest_reduce_passes: int = 2,
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate REMOVAL (Abbas et al. 2023
    shape): mine near-dup pairs with :func:`cosine_near_dup_pairs`
    (LSH-bucketed, never all-pairs), connect them into components
    (operators/dedup.connected_components — min-label propagation,
    checkpoint-bounded lineage), keep the minimum-id row per component
    plus every row in no component. Returns the surviving input rows
    unchanged.

    100 TB shape: one bucket-keyed shuffle per band for candidates, the
    CC iterations shuffle only the (id, component) edge list, and the
    final filter is a left join on the id — the full payload is never
    re-exchanged through the iterations. The defaults BAND the LSH
    (``bands=4``) and auto-scale the per-band plane count to the corpus
    (``auto_scale_target=64`` expected rows per bucket), keeping expected
    candidates linear in data — the r11 100x probe measured exponent
    1.63 at a fixed 2^8 buckets, 0.9-1.0 after banding. Corpora at or
    below ``_BANDS1_CORPUS_ROWS`` collapse to a single band (r12: small
    data shouldn't pay the 4-band join cost; same count(), no extra
    job).

    ``forest_reduce_passes`` (default 2; r14, VERDICT r13 #8): the CC
    stage first collapses the redundant pair list to a spanning forest
    with per-partition union-find (dedup._spanning_forest_reduce) —
    connectivity-exact, map-only. Measured on the 100x probe workload:
    t100 122.5s -> 52.6s (-57%), t30 35.1 -> 19.6s, survivors exactly
    2000 at every scale, wall exponent alpha(30->100) 1.04 -> 0.82
    (.scale/ab_cc_r14.json). Set 0 to disable."""
    from datafusion_spatial_spark.operators.dedup import connected_components

    pairs = cosine_near_dup_pairs(
        df, vec_col, id_col, threshold,
        planes=planes, dims=dims, n_planes=n_planes, seed=seed,
        max_bucket=max_bucket, bands=bands,
        auto_scale_target=auto_scale_target,
    )
    labels = connected_components(
        pairs, "id_a", "id_b", forest_reduce_passes=forest_reduce_passes
    )
    return (
        df.join(
            labels.select(
                F.col("id").alias(id_col), F.col("component").alias("__comp")
            ),
            id_col,
            "left",
        )
        .filter(F.col("__comp").isNull() | (F.col("__comp") == F.col(id_col)))
        .drop("__comp")
    )
