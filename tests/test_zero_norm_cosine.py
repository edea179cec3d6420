"""Zero-norm vectors under Spark's default ANSI mode: every cosine scorer
gives an all-zero vector a NULL score instead of failing the query with
DIVIDE_BY_ZERO, and a NULL score never ranks (it sorts after every
number and fails every near-duplicate threshold)."""

import random

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark.operators import simsearch as S

DIMS = 4
ZERO = 99


@pytest.fixture(scope="module")
def vecs(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rnd = random.Random(21)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(DIMS)]) for i in range(40)]
    rows.append((40, [x + 1e-6 for x in rows[0][1]]))  # near-dup of 0
    rows.append((ZERO, [0.0] * DIMS))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def _ids(df):
    return [r[0] for r in df.collect()]


def test_cosine_topk(vecs):
    got = S.cosine_topk(vecs, "embedding", "vec_id", [1.0, 0.5, -0.5, 0.25], k=5)
    assert ZERO not in _ids(got)


def test_ivf_topk(vecs):
    assigned, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    # every list probed: the zero row is a candidate whatever its list
    got = S.ivf_topk(assigned, pivots, "embedding", "vec_id", pivots[2], k=5, nprobe=4)
    assert ZERO not in _ids(got)


def test_lsh_topk(vecs):
    planes = S.random_hyperplanes(DIMS, 2, seed=3)
    # Hamming radius 2 over 2 planes probes every bucket
    got = S.lsh_topk(
        vecs, "embedding", "vec_id", [1.0, 0.5, -0.5, 0.25], planes, k=5,
        multiprobe_hamming=2,
    )
    assert ZERO not in _ids(got)


def test_sq8_topk(vecs):
    # min 0 per dimension: the zero vector encodes to code 0 and decodes
    # to an exact zero vector
    mins, spans = [0.0] * DIMS, [1.0] * DIMS
    enc = S.sq8_encode(vecs, "embedding", mins, spans)
    assert enc.filter(F.col("vec_id") == ZERO).first().sq8_code == [0] * DIMS
    got = S.sq8_topk(enc, mins, spans, "vec_id", [1.0, 0.5, 0.5, 0.25], k=5)
    assert ZERO not in _ids(got)


def test_pq_topk_rerank(vecs):
    books = S.pq_train(vecs, "embedding", m=2, nbits=2, sample_size=100)
    enc = S.pq_encode(vecs, "embedding", books)
    # the shortlist covers every row, so the zero row reaches the rerank
    got = S.pq_topk(
        enc, books, "vec_id", [1.0, 0.5, -0.5, 0.25], k=5,
        rerank=vecs, vec_col="embedding", rerank_factor=100,
    )
    assert ZERO not in _ids(got)


@pytest.mark.parametrize("banded", [False, True], ids=["one_band", "banded"])
def test_cosine_near_dup_pairs(vecs, banded):
    if banded:
        kw = dict(dims=DIMS, n_planes=2, bands=2, seed=5)
        planes = S.random_hyperplanes(DIMS, 4, seed=5)
        groups = [planes[:2], planes[2:]]
    else:
        planes = S.random_hyperplanes(DIMS, 2, seed=5)
        kw = dict(planes=planes)
        groups = [planes]
    # the zero vector sits in bucket 0 of every band; some other row
    # must share it, or its verify would never run
    rows = vecs.filter(F.col("vec_id") != ZERO).collect()
    assert any(
        all(sum(x * p for x, p in zip(r.embedding, pl)) <= 0 for pl in grp)
        for r in rows
        for grp in groups
    )
    got = S.cosine_near_dup_pairs(vecs, "embedding", "vec_id", 0.99, **kw).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 40) in pairs
    assert not any(ZERO in p for p in pairs)
