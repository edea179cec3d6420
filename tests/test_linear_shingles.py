"""Linear-time word shingling: ``dedup.word_shingles`` splits each document
once, and every shingle user keeps the exact output of the per-shingle
split form it replaced.

Arrays are compared element by element, never through a hash:
``xxhash64([null])`` equals ``xxhash64(null)``, so a hash comparison cannot
tell a null-text ``[null]`` from ``null``.
"""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_spatial_spark.operators import dedup, text
from datafusion_spatial_spark.operators.hashing import P, minhash_affine_params

KS = (1, 2, 3, 13)


def py_shingles(s, k):
    """Pure-Python reference of the shingle semantics: Spark ``trim``
    strips spaces only, ``split(_, '\\s+')`` keeps leading and trailing
    empty tokens (Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``), fewer than k words
    give one whole-text shingle, and a null text gives ``[None]``."""
    if s is None:
        return [None]
    words = re.split(r"[ \t\n\x0b\f\r]+", s.strip(" "))
    if len(words) < k:
        return [" ".join(words)]
    return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]


def quadratic_shingles(col, k):
    """The replaced form: the split is referenced inside the lambda, so it
    runs once per shingle. Kept here as the equality reference."""
    words = F.split(F.trim(F.col(col)), r"\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words) - F.lit(k - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.array_join(F.slice(words, i, k), " "))


def _n_words(n):
    return " ".join(f"w{i}" for i in range(n))


def _edge_texts():
    texts = [None, "", "   ", "\tleading tab", "\ta b c d", "a b c\t",
             "  padded  words  here  ", "mixed \t\n whitespace\r\nrows"]
    for k in KS:
        texts += [_n_words(n) for n in {1, max(k - 1, 1), k, k + 1}]
    texts.append("the cat the cat the cat the cat")  # repeated shingles
    return list(dict.fromkeys(texts))


@pytest.fixture(scope="module")
def edge_df(spark):
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    rows = [(i, t) for i, t in enumerate(_edge_texts())]
    return spark.createDataFrame(rows, schema).cache()


@pytest.mark.parametrize("k", KS)
def test_word_shingles_matches_python_reference(edge_df, k):
    got = edge_df.select(
        "doc_id", "text",
        dedup.word_shingles("text", k).alias("sh"),
        quadratic_shingles("text", k).alias("old"),
    ).orderBy("doc_id").collect()
    assert len(got) == len(_edge_texts())
    for r in got:
        want = py_shingles(r.text, k)
        assert r.sh == want, (k, r.text, r.sh, want)
        assert r.old == want, (k, r.text, r.old, want)


def test_null_text_gives_list_of_null_not_null(spark):
    df = spark.createDataFrame([(None,)], "t string")
    (r,) = df.select(dedup.word_shingles("t", 3).alias("sh")).collect()
    assert r.sh == [None]


def _old_signature(df, k, hash_fn, num_hashes=16, seed=42):
    def h(s):
        return dedup._hash_str(s, hash_fn)

    hs = F.array_distinct(
        F.transform(quadratic_shingles("text", k), lambda s: F.pmod(h(s), F.lit(P)))
    )
    def affine(a, b):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(P)

    base = df.select("doc_id", hs.alias("hs"))
    sig = F.array(*[
        F.array_min(F.transform(F.col("hs"), affine(a, b)))
        for a, b in minhash_affine_params(num_hashes, seed)
    ])
    return base.select("doc_id", "hs", sig.alias("sig"))


@pytest.mark.parametrize("hash_fn", ["xxhash64", "poly"])
@pytest.mark.parametrize("k", [2, 3, 13])
def test_minhash_signature_equals_old_expression(edge_df, k, hash_fn):
    new = dedup.minhash_signature(edge_df, "text", "doc_id", shingle_k=k, hash_fn=hash_fn)
    old = _old_signature(edge_df, k, hash_fn)
    got = {r.doc_id: (r.hs, r.sig) for r in new.collect()}
    want = {r.doc_id: (r.hs, r.sig) for r in old.collect()}
    assert got == want


def test_repetition_cols_equal_old_expression(edge_df):
    def old_dup(arr):
        n = F.size(arr)
        return F.when(n <= 0, F.lit(0.0)).otherwise((n - F.size(F.array_distinct(arr))) / n)

    new = edge_df.select("doc_id", *text.repetition_cols(F.col("text"), (2, 3, 4)))
    old = edge_df.select(
        "doc_id", old_dup(F.split(F.col("text"), r"\r?\n")).alias("dup_line_frac"),
        *[old_dup(quadratic_shingles("text", k)).alias(f"dup_{k}gram_frac") for k in (2, 3, 4)],
    )
    assert sorted(new.collect()) == sorted(old.collect())
    cat = [r for r in new.collect() if r.doc_id == len(_edge_texts()) - 1][0]
    assert cat.dup_2gram_frac == pytest.approx(5 / 7)  # 7 bigrams, 2 distinct


def lambda_bodies(plan: str) -> list[str]:
    """The text inside each ``lambdafunction(...)`` of a plan string."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end():i - 1])
    return out


def _split_in_lambda(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any("split(" in body for body in lambda_bodies(plan))


def test_plan_has_no_split_inside_a_lambda(edge_df):
    # the guard catches the replaced form ...
    assert _split_in_lambda(edge_df.select(quadratic_shingles("text", 3)))
    # ... and finds no split inside any lambda of the shingle users
    assert not _split_in_lambda(dedup.minhash_signature(edge_df, "text", "doc_id"))
    assert not _split_in_lambda(
        edge_df.select(*text.repetition_cols(F.col("text"), (2, 3, 4)))
    )
