"""exprlit: the SQL renderings are the one definition of the vector math,
so they are pinned bit for bit against the pure-Python sequential-fold
reference in ``vecref``. Non-finite literals render as SQL casts and
round-trip like every other double."""

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from datafusion_spatial_spark import exprlit
from datafusion_spatial_spark.operators import simsearch as S
from vecref import (
    bits as _bits,
    ref_cosine,
    ref_dot,
    ref_norm,
    ref_sqdist,
    ref_topk,
)

SPECIAL = [
    float("nan"),
    float("inf"),
    float("-inf"),
    -0.0,
    5e-324,
    1.7976931348623157e308,
]
# a vector column whose name needs quote_col
ODD = "my `vec` col"
DIMS = 6


# --- fixtures ---------------------------------------------------------------


def _rows():
    rnd = random.Random(13)
    rows = [
        (i, [rnd.uniform(-100, 100) for _ in range(DIMS)]) for i in range(40)
    ]
    # every special value in a vector of otherwise ordinary numbers, plus
    # vectors made only of specials
    for j, s in enumerate(SPECIAL):
        rows.append((100 + j, [s] + [rnd.uniform(-1, 1) for _ in range(DIMS - 1)]))
    rows.append((200, [5e-324] * DIMS))  # denormal: products underflow
    rows.append((201, [1.7976931348623157e308] * DIMS))  # overflows to inf
    rows.append((202, [-0.0] * DIMS))  # zero norm
    rows.append((203, [0.0] * DIMS))  # zero norm
    rows.append((204, None))  # null vector stays null
    return rows


@pytest.fixture(scope="module")
def rows():
    return _rows()


@pytest.fixture(scope="module")
def vecs(spark, rows):
    return spark.createDataFrame(
        rows, f"vec_id long, `{ODD.replace('`', '``')}` array<double>"
    )


def _vec(rows, vec_id):
    return dict(rows)[vec_id]


# --- tests ----------------------------------------------------------------


def test_lit_double_array_exact(spark):
    vals = [1e-307, -4.9e-324, 0.0, -1.5, 12345678901234.567] + SPECIAL
    got = (
        spark.range(1)
        .select(F.expr(exprlit.render_double_array(vals)).alias("v"))
        .collect()[0]
        .v
    )
    assert [_bits(a) for a in vals] == [_bits(b) for b in got]


def test_lit_double_array_nonfinite_bits(spark):
    """NaN, ±inf and -0.0 (sign bit kept) render as SQL and fold to the
    same literal array ``F.lit`` builds."""
    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 1.5]
    sql = exprlit.render_double_array(vals)
    assert "CAST('NaN' AS DOUBLE)" in sql
    rendered = F.expr(sql)
    per_lit = F.array(*[F.lit(v) for v in vals])
    df = spark.range(1).select(rendered.alias("a"), per_lit.alias("b"))
    got = df.collect()[0]
    assert struct.pack("<d", got.a[3]) == struct.pack("<d", -0.0)
    assert [_bits(x) for x in got.a] == [_bits(x) for x in got.b]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "[NaN,Infinity,-Infinity,-0.0,1.5]" in plan, plan


def test_cosine_sql_matches_reference(spark, rows, vecs):
    rnd = random.Random(7)
    queries = [
        [rnd.uniform(-1, 1) for _ in range(DIMS)],
        [float("nan")] + [1.0] * (DIMS - 1),
        [float("inf")] + [1.0] * (DIMS - 1),
        [0.0] * DIMS,
    ]
    for q in queries:
        got = vecs.select(
            "vec_id",
            F.expr(exprlit.cosine_sql(exprlit.vec_sql(ODD), q)).alias("s"),
        ).collect()
        want = {i: ref_cosine(v, q) for i, v in rows}
        assert [(r.vec_id, _bits(r.s)) for r in got] == [
            (r.vec_id, _bits(want[r.vec_id])) for r in got
        ]
    # column against column: every vector with every special-bearing row
    q_rows = [i for i, _ in rows if i >= 100]
    pairs = vecs.toDF("ia", "va").crossJoin(
        vecs.filter(F.col("vec_id").isin(q_rows)).toDF("ib", "vb")
    )
    got = pairs.select(
        "ia", "ib", F.expr(exprlit.cosine_sql("va", "vb")).alias("s")
    ).collect()
    assert len(got) == len(rows) * len(q_rows)
    for r in got:
        want = ref_cosine(_vec(rows, r.ia), _vec(rows, r.ib))
        assert _bits(r.s) == _bits(want), (r.ia, r.ib, r.s, want)


def test_cosine_sql_zero_norm_is_null_under_ansi(spark, vecs):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    got = {
        r.vec_id: r.s
        for r in vecs.filter(F.col("vec_id").isin(202, 203)).select(
            "vec_id",
            F.expr(
                exprlit.cosine_sql(exprlit.vec_sql(ODD), [1.0] * DIMS)
            ).alias("s"),
        ).collect()
    }
    assert got == {202: None, 203: None}


def test_sqdist_sql_matches_reference(spark, rows, vecs):
    rnd = random.Random(3)
    p = [rnd.uniform(-1, 1) for _ in range(DIMS)]
    for q in (p, [float("-inf")] + p[1:]):
        got = vecs.select(
            "vec_id",
            F.expr(exprlit.sqdist_sql(exprlit.vec_sql(ODD), q)).alias("d"),
        ).collect()
        assert [(r.vec_id, _bits(r.d)) for r in got] == [
            (r.vec_id, _bits(ref_sqdist(_vec(rows, r.vec_id), q))) for r in got
        ]


def test_dot_and_norm_sql_match_reference(spark, rows, vecs):
    q = [0.5, -2.0, 3.25, 1e-300, -0.0, 7.0]
    got = vecs.select(
        "vec_id",
        F.expr(exprlit.dot_sql(exprlit.vec_sql(ODD), q)).alias("d"),
        F.expr(exprlit.norm_sql(exprlit.vec_sql(ODD))).alias("n"),
    ).collect()
    for r in got:
        v = _vec(rows, r.vec_id)
        assert _bits(r.d) == _bits(None if v is None else ref_dot(v, q))
        assert _bits(r.n) == _bits(None if v is None else ref_norm(v))


@pytest.fixture(scope="module")
def finite(spark, rows):
    """Finite, non-null rows for the quantizers (their params are trained
    on the data)."""
    fin = [(i, v) for i, v in rows if i < 100]
    return fin, spark.createDataFrame(fin, "vec_id long, embedding array<double>")


def test_sq8_roundtrip_matches_reference(spark, finite):
    """sq8_encode codes, sq8_decode_expr reconstructions and sq8_topk
    scores equal the reference arithmetic bit for bit."""
    fin, df = finite
    mins, spans = S.sq8_train(df, "embedding")
    enc = S.sq8_encode(df, "embedding", mins, spans).select(
        "vec_id", "sq8_code"
    )

    def ref_code(x, mn, sp):
        return int(max(0, min(255, math.floor((x - mn) / sp * 255.0 + 0.5))))

    def ref_decode(codes):
        return [
            mn + c / 255.0 * sp for c, mn, sp in zip(codes, mins, spans)
        ]

    want_codes = {
        i: [ref_code(x, mn, sp) for x, mn, sp in zip(v, mins, spans)]
        for i, v in fin
    }
    got = enc.select(
        "vec_id",
        "sq8_code",
        S.sq8_decode_expr("sq8_code", mins, spans).alias("xh"),
    ).collect()
    assert {r.vec_id: r.sq8_code for r in got} == want_codes
    for r in got:
        assert [_bits(x) for x in r.xh] == [
            _bits(x) for x in ref_decode(want_codes[r.vec_id])
        ]
    rnd = random.Random(5)
    q = [rnd.uniform(-1, 1) for _ in range(DIMS)]
    top = S.sq8_topk(enc, mins, spans, "vec_id", q, k=5).collect()
    want = ref_topk(
        [(i, ref_cosine(ref_decode(c), q)) for i, c in want_codes.items()], 5
    )
    assert [(r.vec_id, _bits(r.score)) for r in top] == [
        (i, _bits(s)) for i, s in want
    ]


def test_ivf_pivots_match_reference(spark, finite):
    """ivf_index_pivots assigns each row to the first pivot at minimal
    sequential squared distance."""
    fin, df = finite
    assigned, piv = S.ivf_index_pivots(df, "embedding", "vec_id", 4)
    assert piv == [v for _, v in sorted(fin)[:4]]

    def ref_list(v):
        d = [ref_sqdist(v, p) for p in piv]
        return d.index(min(d))

    got = assigned.select("vec_id", "list_id").collect()
    assert {r.vec_id: r.list_id for r in got} == {
        i: ref_list(v) for i, v in fin
    }
