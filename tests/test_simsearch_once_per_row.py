"""simsearch scores each vector once per row: ``cosine_topk`` and
``ivf_topk`` compute the cast vector and the raw cosine in their own
projections, and ``ivf_index_pivots`` casts the vector once for all pivot
distances. Scores and list assignments stay bit-identical to the single
expression they replace; caller-supplied IVF pivots are validated."""

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark.exprlit import lit_double_array
from datafusion_spatial_spark.operators import simsearch as S

DIMS = 8


def _bits(x):
    return None if x is None else struct.pack("<d", x)


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


def _want(df, query, k):
    """The replaced single expression, ranked the same way."""
    return (
        df.select("vec_id", S.cosine(S._vec("embedding"), lit_double_array(query)).alias("score"))
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(k)
        .collect()
    )


def _pairs(rows):
    return [(r.vec_id, _bits(r.score)) for r in rows]


def test_cosine_topk_bit_identical(vecs):
    rnd = random.Random(9)
    q = [rnd.uniform(-1, 1) for _ in range(DIMS)]
    qn = math.sqrt(sum(x * x for x in q))
    n = vecs.count()
    got = S.cosine_topk(vecs, "embedding", "vec_id", q, k=n).collect()
    # cosine_topk folds |q| into a literal, so compare against that form
    want = (
        vecs.select(
            "vec_id",
            (S.dot(S._vec("embedding"), lit_double_array(q))
             / (S.norm(S._vec("embedding")) * F.lit(qn))).alias("raw"),
        )
        .select("vec_id", F.when(~F.isnan("raw"), F.col("raw")).alias("score"))
        .orderBy(F.desc("score"), F.col("vec_id"))
        .collect()
    )
    assert _pairs(got) == _pairs(want)
    assert [r.score for r in got[-2:]] == [None] * 2  # null and NaN last


def test_ivf_topk_bit_identical(vecs):
    assigned, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    q = pivots[1]
    # every list probed: the rerank sees each row with a list id
    got = S.ivf_topk(assigned, pivots, "embedding", "vec_id", q, k=100, nprobe=4)
    listed = assigned.filter(F.col("list_id").isNotNull())
    assert _pairs(got.collect()) == _pairs(_want(listed, q, 100))


def test_ivf_index_pivots_assignment_unchanged(vecs):
    assigned, pivots = S.ivf_index_pivots(vecs, "embedding", "vec_id", n_lists=4)
    v = S._vec("embedding")
    scores = F.array(*[S.sqdist(v, lit_double_array(p)) for p in pivots])
    want = vecs.select(
        "vec_id",
        (F.array_position(scores, F.array_min(scores)) - 1).cast("int").alias("list_id"),
    )
    assert assigned.columns == vecs.columns + ["list_id"]
    assert sorted(assigned.select("vec_id", "list_id").collect()) == sorted(want.collect())


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
