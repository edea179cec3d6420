"""SQL renderings of the hot expression groups, pinned against Column forms.

The grid join (cell explosion, candidate filter, point distance), the
native bbox, MinHash (shingles, hashes, signature), the LSH band hash, the
Jaccard column and the text-stats projections are SQL text, each built in
one ``F.expr``/``selectExpr`` call. Each test compares a rendering with
the Column form it replaced — kept in this file where the package no
longer has it — or stands beside, bit for bit: doubles by their IEEE-754
bits, structs with their field names, failures by their error condition.
Inputs cover cell-boundary, negative, NaN (EMPTY), null and infinite
coordinates, and null, empty, CRLF and non-ASCII text.

The build-cost guard at the end counts the py4j calls a warm rebuild of
the spatial join (new distance), MinHash and text stats makes.
"""

import math
import struct

import pytest
from py4j import protocol as proto
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_spatial_spark.exprlit import col_sql, render_str
from datafusion_spatial_spark.functions.scalar import st_bbox, st_point
from datafusion_spatial_spark.meta import GeometryMeta, native_spark_type
from datafusion_spatial_spark.operators import dedup, text
from datafusion_spatial_spark.operators import spatial_join as SJ
from datafusion_spatial_spark.operators.hashing import (
    P,
    SEQ_MULT,
    minhash_affine_params,
    poly_hash_list_sql,
    poly_hash_str,
    poly_hash_str_sql,
)

INF, NAN = float("inf"), float("nan")
TEXTS = [
    None, "", "   ", "one", "a b", "The cat and the dog",
    "line one\r\nline two\r\nline one", "trailing crlf\r\n",
    "naïve café — 日本語のテキスト и текст", "emoji 😀 here 😀 here",
    "el perro y la casa de la ciudad", "der Hund und die Katze",
    "punct!!! ?? ;: , . end.", "back\\slash and 'quote'",
]


def _bits(v):
    """A collected value as a comparable structure: doubles by their bits,
    Rows with their field names."""
    if isinstance(v, float):
        return ("d", struct.pack("<d", v))
    if isinstance(v, Row):
        return tuple((k, _bits(v[k])) for k in v.__fields__)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _outcome(df):
    try:
        return ("ok", df.schema[-1].dataType, [_bits(r) for r in df.collect()])
    except Exception as e:  # an ANSI failure must be the same failure
        cond = getattr(e, "getCondition", lambda: None)()
        return ("err", cond or type(e).__name__)


def _same(df, rendered, column, key="id"):
    a = _outcome(df.select(key, rendered.alias("v")).orderBy(key))
    b = _outcome(df.select(key, column.alias("v")).orderBy(key))
    assert a == b
    return a


# --- spatial join: the Column forms the SQL text replaced -----------------


def _cells_col(b, cell_size, pad=0.0):
    cs = F.lit(float(cell_size))
    x0 = F.floor((b["xmin"] - pad) / cs).cast("long")
    x1 = F.floor((b["xmax"] + pad) / cs).cast("long")
    y0 = F.floor((b["ymin"] - pad) / cs).cast("long")
    y1 = F.floor((b["ymax"] + pad) / cs).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda x: F.transform(F.sequence(y0, y1), lambda y: x * F.lit(1 << 32) + y),
        )
    )


def _cand_col(cell_size, pad):
    cs = F.lit(float(cell_size))
    canon_x = F.greatest(
        F.floor((F.col("__lbox.xmin") - pad) / cs),
        F.floor(F.col("__rbox.xmin") / cs),
    ).cast("long")
    canon_y = F.greatest(
        F.floor((F.col("__lbox.ymin") - pad) / cs),
        F.floor(F.col("__rbox.ymin") / cs),
    ).cast("long")
    prefilter = (
        (F.col("__lbox.xmin") - pad <= F.col("__rbox.xmax"))
        & (F.col("__rbox.xmin") <= F.col("__lbox.xmax") + pad)
        & (F.col("__lbox.ymin") - pad <= F.col("__rbox.ymax"))
        & (F.col("__rbox.ymin") <= F.col("__lbox.ymax") + pad)
    )
    return prefilter & (F.col("__cell") == canon_x * F.lit(1 << 32) + canon_y)


def _pt_dist_col():
    dx = F.col("__lbox.xmin") - F.col("__rbox.xmin")
    dy = F.col("__lbox.ymin") - F.col("__rbox.ymin")
    return F.sqrt(dx * dx + dy * dy)


BOX_T = "struct<xmin: double, ymin: double, xmax: double, ymax: double>"
CS = 0.5
# cell-boundary (k * CS), negative, degenerate (point) and spanning boxes
FINITE_BOXES = [
    (0.0, 0.0, 0.0, 0.0),
    (CS, CS, CS, CS),
    (-CS, -2 * CS, -CS, -2 * CS),
    (-1.25, -0.75, 0.5, 1.0),
    (2 * CS, -3 * CS, 3 * CS, -CS),
    (-0.0, -0.0, 0.25, 0.25),
    (1e-9, -1e-9, CS - 1e-12, 1e-9),
]
ODD_BOXES = [
    (INF, 0.0, INF, 0.0),
    (-INF, -INF, 0.0, 0.0),
    (NAN, NAN, NAN, NAN),
    (0.0, NAN, 1.0, NAN),
]


def _boxes(spark, boxes):
    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(boxes)], f"id long, b {BOX_T}"
    )


@pytest.mark.parametrize("pad", [0.0, 0.25, CS, 1.3])
@pytest.mark.parametrize("cell_size", [CS, 3.0])
def test_cells_sql_matches_column_form(spark, cell_size, pad):
    df = _boxes(spark, FINITE_BOXES)
    got = _same(
        df, F.expr(SJ._cells_sql("b", cell_size, pad)), _cells_col(F.col("b"), cell_size, pad)
    )
    assert got[0] == "ok"


@pytest.mark.parametrize("box", ODD_BOXES, ids=repr)
def test_cells_sql_nonfinite_same_value_or_error(spark, box):
    df = _boxes(spark, [box])
    _same(df, F.expr(SJ._cells_sql("b", CS, 0.25)), _cells_col(F.col("b"), CS, 0.25))


def _pairs(spark, lboxes, rboxes, cell_size, pad):
    rows = []
    for i, lb in enumerate(lboxes):
        for j, rb in enumerate(rboxes):
            # every cell either side covers, plus one neither does
            cells = set()
            for b, p in ((lb, pad), (rb, 0.0)):
                if all(math.isfinite(v) for v in b):
                    for x in range(math.floor((b[0] - p) / cell_size), math.floor((b[2] + p) / cell_size) + 1):
                        for y in range(math.floor((b[1] - p) / cell_size), math.floor((b[3] + p) / cell_size) + 1):
                            cells.add(x * (1 << 32) + y)
            cells.add(-1)
            rows += [(len(rows) + n, lb, rb, c) for n, c in enumerate(sorted(cells))]
    return spark.createDataFrame(
        rows, f"id long, __lbox {BOX_T}, __rbox {BOX_T}, __cell long"
    )


@pytest.mark.parametrize("pad", [0.0, 0.25, CS])
def test_cand_filter_sql_matches_column_form(spark, pad):
    df = _pairs(spark, FINITE_BOXES, FINITE_BOXES, CS, pad)
    got = _same(
        df,
        F.expr(SJ._cand_filter_sql("__lbox", "__rbox", "__cell", CS, pad)),
        _cand_col(CS, pad),
    )
    assert got[0] == "ok"
    assert {dict(r)["v"] for r in got[2]} == {True, False}


def test_cand_filter_and_distance_nonfinite(spark):
    df = _pairs(spark, FINITE_BOXES[:3] + ODD_BOXES, FINITE_BOXES[:3] + ODD_BOXES, CS, 0.25)
    _same(
        df,
        F.expr(SJ._cand_filter_sql("__lbox", "__rbox", "__cell", CS, 0.25)),
        _cand_col(CS, 0.25),
    )
    _same(df, F.expr(SJ._PT_DIST_SQL), _pt_dist_col())


def test_pt_dist_sql_matches_column_form(spark):
    df = _pairs(spark, FINITE_BOXES, FINITE_BOXES, CS, 0.0)
    got = _same(df, F.expr(SJ._PT_DIST_SQL), _pt_dist_col())
    assert got[0] == "ok"


def test_dwithin_join_pairs_at_cell_boundaries(spark):
    """End to end against a brute-force reference: points on the grid
    lines (x = k * cell_size), negative coordinates, pairs at exactly the
    distance, EMPTY (NaN) and null points; two distances, so the cell
    size and pad differ between the builds."""
    pts = [(i, (k * CS, m * CS)) for i, (k, m) in enumerate(
        (k, m) for k in range(-3, 4) for m in (-2, 0, 1)
    )]
    pts += [(100, (NAN, NAN)), (101, None), (102, (-0.3, 0.2))]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("g", native_spark_type("Point")),
    ])
    df = spark.createDataFrame([(i, None if p is None else {"x": p[0], "y": p[1]}) for i, p in pts], schema)
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    for d in (CS, 2 * CS):
        got = SJ.spatial_join(
            df, df.withColumnRenamed("id", "rid"), "g", "g", meta, meta, "id", "rid",
            cell_size=2 * d, predicate="dwithin", distance=d, with_distance=True,
        ).collect()
        want = {}
        for i, p in pts:
            for j, q in pts:
                if p is None or q is None or math.isnan(p[0]) or math.isnan(q[0]):
                    continue
                dx, dy = p[0] - q[0], p[1] - q[1]
                dist = math.sqrt(dx * dx + dy * dy)
                if dist <= d:
                    want[(i, j)] = _bits(dist)
        assert {(r.id, r.rid): _bits(r.distance) for r in got} == want
        assert len(got) == len(want)


# --- native bbox ---------------------------------------------------------

SEP = {
    "Point": [(0.0, 0.0), (CS, -CS), (NAN, NAN), None, (INF, 1.0), (1.0, NAN), (-2.0, -3.0)],
    "LineString": [[(0.0, 0.0), (1.0, -1.0)], [], None, [(NAN, NAN)],
                   [(NAN, 1.0), (2.0, 2.0)], [(-INF, 0.0), (1.0, 1.0)]],
    "Polygon": [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]], [], None, [[]],
                [[(-1.0, -1.0), (-2.0, 5.0), (-1.0, -1.0)], [(NAN, NAN)]]],
    "MultiPolygon": [[[[(0.0, 0.0), (3.0, 0.5), (0.0, 0.0)]], [[(-5.0, 2.0), (NAN, 1.0)]]],
                     [], None, [[[]]]],
}


def _native(v, depth):
    if v is None:
        return None
    if depth == 0:
        return {"x": v[0], "y": v[1]}
    return [_native(x, depth - 1) for x in v]


@pytest.mark.parametrize("gtype", sorted(SEP))
def test_bbox_sql_matches_column_form_separated(spark, gtype):
    depth = {"Point": 0, "LineString": 1, "Polygon": 2, "MultiPolygon": 3}[gtype]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("g", native_spark_type(gtype)),
    ])
    df = spark.createDataFrame(
        [(i, _native(v, depth)) for i, v in enumerate(SEP[gtype])], schema
    )
    meta = GeometryMeta(encoding=gtype.lower(), geometry_types=(gtype,))
    got = _same(df, st_bbox("g", meta), st_bbox(F.col("g"), meta))
    assert got[0] == "ok"


@pytest.mark.parametrize(
    "gtype,ddl,rows",
    [
        ("Point", "array<double>", [[0.0, 1.0], [NAN, NAN], None, [-CS, INF]]),
        ("Point Z", "array<double>", [[0.0, 1.0, 2.0], None]),
        ("LineString", "array<array<double>>", [[[0.0, 1.0], [2.0, -3.0]], [], None]),
        ("LineString Z", "array<array<double>>", [[[0.0, 1.0, 9.0], [2.0, -3.0, 9.0]], None]),
        ("Polygon", "array<array<array<double>>>", [[[[0.0, 0.0], [1.0, 2.0], [0.0, 0.0]]], None]),
        ("MultiPolygon", "array<array<array<array<double>>>>",
         [[[[[0.0, 0.0], [1.0, 2.0], [0.0, 0.0]]], [[[NAN, 1.0], [-4.0, 7.0]]]], None]),
    ],
)
def test_bbox_sql_matches_column_form_interleaved(spark, gtype, ddl, rows):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)], f"id long, g {ddl}")
    base = gtype.split()[0]
    meta = GeometryMeta(
        encoding=base.lower(), geometry_types=(gtype,), coord_layout="interleaved"
    )
    got = _same(df, st_bbox("g", meta), st_bbox(F.col("g"), meta))
    assert got[0] == "ok"


# --- strings and column names -------------------------------------------


@pytest.mark.parametrize(
    "value", ["", "'", "\\", "\\'", "a\\s+b", "\\u0041", "\n\t", "日本", "%_", "\\\\", "it's"]
)
def test_render_str_round_trips(spark, value):
    (r,) = spark.range(1).select(
        F.expr(render_str(value)).alias("a"), F.lit(value).alias("b")
    ).collect()
    assert r.a == r.b == value


@pytest.mark.parametrize(
    "pattern",
    [r"\s+", r"\\", r"\d{3}-\d{2}", text.BPE_ISH_TOKEN, r"[.']", text.PUNCT_CLASS, r"\r?\n"],
)
def test_regex_literals_with_backslashes(spark, pattern):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS + ["a\\b 123-45 x.y'z"])], "id long, t string"
    )
    _same(
        df,
        F.expr(f"regexp_replace(t, {render_str(pattern)}, '#')"),
        F.regexp_replace("t", pattern, "#"),
    )


def test_col_sql_parses_like_f_col(spark):
    df = spark.createDataFrame(
        [(1, (2.0, 3.0), 4, 5)], "id long, s struct<a: double, b: double>, `my col` int, `a.b` int"
    )
    for name in ("s.a", "my col", "`a.b`", "s"):
        a = df.select(F.expr(col_sql(name))).collect()
        b = df.select(F.col(name)).collect()
        assert _bits(a) == _bits(b)
        assert df.select(F.expr(col_sql(name))).columns == df.select(F.col(name)).columns


# --- hashing, shingles, MinHash, LSH ------------------------------------


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "id long, t string").cache()


def test_poly_hash_str_sql_matches_column_form(texts):
    got = _same(texts, F.expr(poly_hash_str_sql("t")), poly_hash_str("t"))
    assert got[0] == "ok"


@pytest.mark.parametrize("hash_fn", ["poly", "xxhash64"])
def test_hash_str_sql_matches_column_form(texts, hash_fn):
    _same(texts, F.expr(dedup._hash_str_sql("t", hash_fn)), dedup._hash_str(F.col("t"), hash_fn))


def _poly_hash_list_col(c):
    return F.aggregate(
        c,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(SEQ_MULT) + x.cast("long")) % F.lit(P),
    )


def test_poly_hash_list_sql_matches_column_form(spark):
    rows = [None, [], [1, 2, 3], [P - 1, P - 1, P - 1, P - 1], [None, 1], [-5, 7], [2**40]]
    df = spark.createDataFrame(list(enumerate(rows)), "id long, a array<bigint>")
    got = _same(df, F.expr(poly_hash_list_sql("a")), _poly_hash_list_col(F.col("a")))
    assert got[0] == "ok"


@pytest.mark.parametrize("k", [1, 2, 3, 13])
def test_word_shingles_sql_matches_column_form(texts, k):
    got = _same(texts, F.expr(dedup.word_shingles_sql("t", k)), dedup.word_shingles("t", k))
    assert got[0] == "ok"


def _minhash_col(df, k, hash_fn, num_hashes=16, seed=42):
    sh = dedup.word_shingles("t", k)
    hs = F.array_distinct(
        F.transform(sh, lambda s: F.pmod(dedup._hash_str(s, hash_fn), F.lit(P)))
    ).alias("hs")

    def affine(a, b):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(P)

    sig = F.array(*[
        F.array_min(F.transform(F.col("hs"), affine(a, b)))
        for a, b in minhash_affine_params(num_hashes, seed)
    ]).alias("sig")
    return df.select("id", hs).select("id", "hs", sig)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "poly"])
@pytest.mark.parametrize("k", [2, 3, 13])
def test_minhash_signature_matches_column_form(texts, k, hash_fn):
    new = dedup.minhash_signature(texts, "t", "id", shingle_k=k, hash_fn=hash_fn)
    assert _outcome(new.orderBy("id")) == _outcome(_minhash_col(texts, k, hash_fn).orderBy("id"))


def _lsh_jaccard_col(df, bands, rows_per_band, threshold):
    sig = _minhash_col(df, 3, "xxhash64")
    banded = (
        sig.select(
            "id", "sig", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
        )
        .withColumn(
            "band_hash",
            _poly_hash_list_col(
                F.slice(F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band)
            ),
        )
        .select("id", "band", "band_hash")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct()
    sh = sig.select("id", "hs")
    return (
        cand.join(sh.toDF("id_a", "hs_a"), "id_a")
        .join(sh.toDF("id_b", "hs_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("hs_a", "hs_b")) / F.size(F.array_union("hs_a", "hs_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def test_lsh_band_hash_and_jaccard_match_column_form(spark):
    docs = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox jumps over a lazy dog",
        "", None, "naïve café\r\nnaïve café", "naïve café\r\nnaïve cafe",
        "completely different words entirely here",
    ] * 2
    df = spark.createDataFrame(list(enumerate(docs)), "id long, t string")
    new = dedup.minhash_lsh_dedup_pairs(
        df, "t", "id", num_hashes=16, bands=8, jaccard_threshold=0.0
    )
    old = _lsh_jaccard_col(df, 8, 2, 0.0)
    got = sorted(_bits(r) for r in new.collect())
    assert got == sorted(_bits(r) for r in old.collect())
    assert len(got) > len(docs) // 2  # the exact duplicates at least


# --- text stats -----------------------------------------------------------


def _text_stats_col(df, text_col, id_col, extra_cols=None):
    def hits_from(words_lower, lang):
        stops = F.array(*[F.lit(s) for s in text.STOPWORDS[lang]])
        return F.size(F.filter(words_lower, lambda x: F.array_contains(stops, x)))

    cols1 = (
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.transform(text.words(text_col), F.lower).alias("__wl"),
    )
    cols2 = (
        F.col(id_col), F.col("__t"), F.col("__wl"),
        F.size("__wl").alias("__n"),
        F.length(F.regexp_replace(F.col("__t"), text.PUNCT_CLASS, "")).alias("__npunct"),
    )
    hits = {lang: hits_from(F.col("__wl"), lang) for lang in sorted(text.STOPWORDS)}
    best_lang, best_hits = F.lit("und"), F.lit(0)
    for lang in sorted(text.STOPWORDS, reverse=True):
        h = hits[lang]
        best_lang = F.when((h > 0) & (h >= best_hits), F.lit(lang)).otherwise(best_lang)
        best_hits = F.greatest(h, best_hits)
    punct = F.when(F.length("__t") == 0, F.lit(0.0)).otherwise(
        F.col("__npunct") / F.length("__t")
    )
    distinct_ratio = F.size(F.array_distinct("__wl")) / F.col("__n")
    quality = (
        F.lit(0.4) * F.least(F.col("__n") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(4.0) * punct, F.lit(1.0)))
    )
    cols3 = (
        F.col(id_col),
        F.length("__t").alias("n_chars_computed"),
        F.col("__n").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("__t"), F.lit(text.BPE_ISH_TOKEN), F.lit(0))).alias("n_bpe_tokens"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(hits["en"] / F.col("__n"), 6).alias("stopword_ratio_en"),
        best_lang.alias("lang_guess"),
        F.round(quality, 6).alias("quality"),
        poly_hash_str(F.array_join(F.col("__wl"), " ")).alias("fingerprint"),
    )
    if extra_cols is not None:
        cols3 = cols3 + tuple(extra_cols(F.col("__t")))
    return df.select(*cols1).select(*cols2).select(*cols3)


def _extras(t):
    return (
        text.pii_counts(t, ("email", "ipv4", "phone", "ssn")).alias("__pii"),
        *text.repetition_cols(t, ngram_ks=(2, 3)),
    )


@pytest.mark.parametrize("extra", [None, _extras], ids=["plain", "extras"])
def test_text_stats_matches_column_form(texts, extra):
    new = text.text_stats(texts, "t", "id", extra_cols=extra)
    old = _text_stats_col(texts, "t", "id", extra_cols=extra)
    assert new.schema == old.schema
    assert _outcome(new.orderBy("id")) == _outcome(old.orderBy("id"))


# --- build cost -----------------------------------------------------------


class _Py4jCounter:
    """Counts the py4j round trips the Python client sends (not the
    reference releases the garbage collector triggers)."""

    RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self):
        send = self._send = self.client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(self.RELEASE):
                self.n += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        self.client.send_command = self._send


def _calls(spark, build):
    with _Py4jCounter(spark) as c:
        build()
    return c.n


def test_warm_rebuild_py4j_calls_stay_bounded(spark):
    """A second spatial join with a distance not used before, and repeated
    MinHash and text-stats builds: SQL text makes each a few dozen calls
    (measured 83 / 16 / 33; the memoised Column trees they replace made
    183-253 / 55-110 / 33-66 on a cache hit and ~1200 for the join on a
    miss)."""
    meta = GeometryMeta(encoding="point", geometry_types=("Point",))
    pts = spark.range(20).select(
        "id", st_point(F.col("id").cast("double"), F.col("id").cast("double")).alias("g")
    )
    right = pts.withColumnRenamed("id", "rid")

    def join(d):
        return SJ.spatial_join(
            pts, right, "g", "g", meta, meta, "id", "rid",
            cell_size=2 * d, predicate="dwithin", distance=d,
        )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    join(1.0)
    dedup.minhash_signature(docs, "text", "doc_id")
    text.text_stats(docs, "text", "doc_id")
    assert _calls(spark, lambda: join(1.2345)) <= 120
    assert _calls(spark, lambda: dedup.minhash_signature(docs, "text", "doc_id")) <= 30
    assert _calls(spark, lambda: text.text_stats(docs, "text", "doc_id")) <= 50
