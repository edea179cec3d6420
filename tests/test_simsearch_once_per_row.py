"""simsearch scores each vector once per row: ``cosine_topk`` and
``ivf_topk`` compute the cast vector and the raw cosine in their own
projections, and ``ivf_index_pivots`` casts the vector once for all pivot
distances. Scores and list assignments are bit-identical to the
pure-Python sequential-fold reference (``vecref``); caller-supplied IVF
pivots are validated."""

import math
import random

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark.operators import simsearch as S
from vecref import (
    bits as _bits,
    ref_cosine,
    ref_divide,
    ref_dot,
    ref_norm,
    ref_not_nan,
    ref_sqdist,
    ref_topk,
)

DIMS = 8


@pytest.fixture(scope="module")
def vecs(spark):
    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-3, 3) for _ in range(DIMS)]) for i in range(60)]
    rows += [
        (60, None),  # null vector: null score
        (61, [float("nan")] + [1.0] * (DIMS - 1)),  # NaN: null score
        (62, list(rows[0][1])),  # exact tie with id 0: id breaks it
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def _vectors(df):
    return [(r.vec_id, r.embedding) for r in df.select("vec_id", "embedding").collect()]


def _want(df, query, k):
    """The reference cosine, ranked the same way."""
    return [
        (i, _bits(s))
        for i, s in ref_topk([(i, ref_cosine(v, query)) for i, v in _vectors(df)], k)
    ]


def _pairs(rows):
    return [(r.vec_id, _bits(r.score)) for r in rows]


def test_cosine_topk_bit_identical(vecs):
    rnd = random.Random(9)
    q = [rnd.uniform(-1, 1) for _ in range(DIMS)]
    qn = math.sqrt(sum(x * x for x in q))
    n = vecs.count()
    got = S.cosine_topk(vecs, "embedding", "vec_id", q, k=n).collect()
    # cosine_topk folds |q| into a literal, so compare against that form
    want = ref_topk(
        [
            (i, None if v is None else ref_not_nan(ref_divide(ref_dot(v, q), ref_norm(v) * qn)))
            for i, v in _vectors(vecs)
        ],
        n,
    )
    assert _pairs(got) == [(i, _bits(s)) for i, s in want]
    assert [r.score for r in got[-2:]] == [None] * 2  # null and NaN last


def test_ivf_topk_bit_identical(vecs):
    assigned, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    q = pivots[1]
    # every list probed: the rerank sees each row with a list id
    got = S.ivf_topk(assigned, pivots, "embedding", "vec_id", q, k=100, nprobe=4)
    listed = assigned.filter(F.col("list_id").isNotNull())
    assert _pairs(got.collect()) == _want(listed, q, 100)


def test_ivf_index_pivots_assignment_unchanged(vecs):
    assigned, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)

    def ref_list(v):
        # first minimum; Spark orders NaN above every number
        d = [ref_sqdist(v, p) for p in pivots]
        if v is None:
            return None
        key = [(math.isnan(x), x) for x in d]
        return key.index(min(key))

    assert assigned.columns == vecs.columns + ["list_id"]
    got = {r.vec_id: r.list_id for r in assigned.select("vec_id", "list_id").collect()}
    assert got == {i: ref_list(v) for i, v in _vectors(vecs)}


def test_ivf_index_pivots_casts_the_vector_once(vecs):
    assigned, _ = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("cast(lambda") == 1, plan


@pytest.mark.parametrize(
    "pivots",
    [
        [],  # empty
        [[1.0] * DIMS] * 3,  # fewer than n_lists
        [[1.0] * DIMS] * 3 + [None],  # a None pivot
        [[1.0] * DIMS] * 3 + [[1.0, None] + [1.0] * (DIMS - 2)],  # a None element
        [[1.0] * DIMS] * 3 + [[]],  # an empty vector
        [[1.0] * DIMS] * 3 + [[1.0] * (DIMS - 1)],  # ragged
    ],
    ids=["empty", "short", "none_pivot", "none_element", "empty_vector", "ragged"],
)
def test_ivf_index_pivots_rejects_bad_pivots(vecs, pivots):
    with pytest.raises(ValueError, match="ivf_index_pivots"):
        S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4, pivots=pivots)


def test_ivf_index_pivots_accepts_extra_pivots(vecs):
    """Only the first n_lists pivots are used (and checked)."""
    _, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    _, got = S.ivf_index_pivots(
        vecs, "embedding", "vec_id", n_lists=4, pivots=pivots + [[1.0]]
    )
    assert got == pivots
