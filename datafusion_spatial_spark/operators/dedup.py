"""Deduplication operators for large-scale text/training-data pipelines.

All operators are DataFrame-in / DataFrame-out and compose with SQL. Scale
design (the point, per the build brief):

* **Exact dedup** is a hash-groupBy — one shuffle on the content hash, with
  map-side partial aggregation. At 100 TB, hash first (8-byte key) so the
  shuffle moves hashes + ids, never the documents themselves.
* **MinHash + LSH near-dedup** is the classic shingle → signature → band →
  bucket-join pipeline. The candidate join is an *equi-join on (band,
  band_hash)* — shuffle-partitionable, skew handled by AQE — never an O(n²)
  cross join. Exact Jaccard verification runs only on candidate pairs.
* **N-gram Jaccard (exact)** uses an inverted-index self-join on shingle
  hash. Quadratic only within a posting list; hot shingles (stopword-only
  n-grams) are the skew risk — cap posting lists with ``max_postings``.
* **SimHash** packs a document into a 30-bit signature whose hamming
  neighbors are near-dups; banding the bits gives an equi-joinable blocking
  key, the same shuffle shape as MinHash-LSH.

Hash choice: ``hash_fn="poly"`` is bit-reproducible in the DuckDB oracle
(see operators/hashing.py); ``"xxhash64"`` is the fast JVM-native path for
production. Both are pure Catalyst — no Python UDFs anywhere in dedup.

Rule for every higher-order function here: split once, and never refer to
a per-row expression inside a lambda body. Catalyst neither shares
subexpressions across a lambda body nor hoists them out of it, so a
``split(text)`` referenced inside ``transform(..., i -> ...)`` runs once
per array element — O(n²) per document for shingling. Bind the per-row
value to a lambda variable with :func:`let` (or materialize it in an
earlier projection); a lambda body then refers only to lambda variables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_spatial_spark.exprlit import col_sql, render_str
from datafusion_spatial_spark.operators.hashing import (
    P,
    minhash_affine_params,
    poly_hash_list_sql,
    poly_hash_str,
    poly_hash_str_sql,
)
from datafusion_spatial_spark.operators.skew import ensure_min_parallelism


def _hash_str(col: Column, hash_fn: str) -> Column:
    if hash_fn == "poly":
        return poly_hash_str(col)
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _hash_str_sql(expr: str, hash_fn: str) -> str:
    """SQL text of :func:`_hash_str`."""
    if hash_fn == "poly":
        return poly_hash_str_sql(expr)
    if hash_fn == "xxhash64":
        return f"xxhash64({expr})"
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


# ---------------------------------------------------------------------------
# exact dedup


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (nondeterministic survivor, cheapest plan)."""
    return df.dropDuplicates(subset)


def dedup_exact_canonical(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact dedup keeping the *minimum id* per content group — deterministic
    survivor selection (needed for oracle comparison; also what you want for
    reproducible pipelines). One shuffle on md5(content)."""
    return (
        df.withColumn("__h", F.md5(F.col(content_col)))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# shingling


def let(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.

    ``body`` receives a lambda variable, so any number of references to
    it inside (nested) lambdas cost a lookup, not a re-evaluation of
    ``value``. A null ``value`` binds ``v`` to null."""
    return F.transform(F.array(value), body)[0]


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) from whitespace tokenization.
    Pure Catalyst: split + sequence + slice + array_join. Documents shorter
    than k words yield a single shingle of the whole text; a null text
    yields ``[null]``.

    The split runs once per row: the word array is bound with :func:`let`,
    so each shingle is an O(k) slice of it (linear in the document)."""
    c = F.col(col) if isinstance(col, str) else col

    def shingles(words: Column) -> Column:
        n = F.size(words)
        starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.transform(
            starts, lambda i: F.array_join(F.slice(words, i, k), " ")
        )

    return let(F.split(F.trim(c), r"\s+"), shingles)


_WS_SQL = render_str(r"\s+")


def word_shingles_sql(expr: str, k: int = 3) -> str:
    """Spark SQL text of :func:`word_shingles` over ``expr``."""
    return (
        f"transform(array(split(trim({expr}), {_WS_SQL})), "
        f"__w -> transform(sequence(1, greatest(size(__w) - {k - 1}, 1)), "
        f"__i -> array_join(slice(__w, __i, {k}), ' ')))[0]"
    )


def word_shingles_duckdb(expr: str, k: int = 3) -> str:
    """DuckDB SQL text computing the identical shingle list."""
    w = f"regexp_split_to_array(trim({expr}), '\\s+')"
    return (
        f"list_transform(range(1, greatest(len({w}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({w}, i, i + {k - 1}), ' '))"
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    seed: int = 42,
) -> DataFrame:
    """id + ``sig: array<bigint>`` MinHash signature per document.

    Entirely JVM-side: shingle (higher-order fns) → per-shingle base hash →
    ``num_hashes`` affine transforms, ``array_min`` each. No shuffle — this
    is a map-only stage, which is what lets it stream over 100 TB.

    The base hashes are materialized ONCE per row (``hs`` projection) so the
    16 affine mins don't re-shingle/re-hash the text 16× — Catalyst does not
    CSE across lambda bodies. ``hs`` is de-duplicated (min is set-insensitive)
    and kept in the output for downstream exact-Jaccard verification.

    Both projections are SQL text (one ``selectExpr`` each): through the
    Column API the 16 lambdas cost ~0.2 s of py4j round trips per build.
    """
    df = ensure_min_parallelism(df)  # shingling is the CPU-heavy map stage
    sh = word_shingles_sql(col_sql(text_col), shingle_k)
    hs = f"array_distinct(transform({sh}, __s -> pmod({_hash_str_sql('__s', hash_fn)}, {P})))"
    sig = ", ".join(
        f"array_min(transform(hs, __h -> (__h * {a} + {b}) % {P}))"
        for a, b in minhash_affine_params(num_hashes, seed)
    )
    idc = col_sql(id_col)
    return df.selectExpr(idc, f"{hs} AS hs").selectExpr(idc, "hs", f"array({sig}) AS sig")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` slices of
    ``rows_per_band``, hash each slice, equi-join documents sharing any
    (band, band_hash) bucket. Returns distinct candidate (id_a, id_b) pairs
    with id_a < id_b.

    Scale shape: explode to bands×N rows (map-only), then ONE shuffle on the
    bucket key for the self-join. AQE's skew-join splitting handles hot
    buckets; for adversarial data cap bucket size upstream.
    """
    band_hash = poly_hash_list_sql(
        f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})"
    )
    banded = (
        sig_df.selectExpr(
            col_sql(id_col), "sig", f"explode(sequence(0, {bands - 1})) AS band"
        )
        .withColumn("band_hash", F.expr(band_hash))
        .select(id_col, "band", "band_hash")
    )
    if max_bucket is not None:
        # skew guard: a degenerate bucket of n docs yields n^2/2 candidates;
        # drop buckets past the cap (boilerplate/empty-doc signatures)
        hot = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "band_hash")
        )
        banded = banded.join(hot, ["band", "band_hash"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact Jaccard
    verify on candidates only. Returns (id_a, id_b, jaccard).

    Jaccard is verified over the distinct shingle *hash* sets (bigint
    array_intersect — far cheaper than string-set intersection and identical
    modulo hash collisions; the oracle computes the same thing)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_k, hash_fn
    ).cache()
    cand = lsh_candidate_pairs(sig.select(id_col, "sig"), id_col, bands, rows_per_band)
    shing = sig.select(id_col, "hs")
    return (
        cand.join(shing.withColumnRenamed(id_col, "id_a").withColumnRenamed("hs", "hs_a"), "id_a")
        .join(shing.withColumnRenamed(id_col, "id_b").withColumnRenamed("hs", "hs_b"), "id_b")
        .withColumn(
            "jaccard",
            F.expr("size(array_intersect(hs_a, hs_b)) / size(array_union(hs_a, hs_b))"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_postings: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted index on shingle hashes:
    explode distinct shingles → self-join on shingle → count common →
    ``|A∩B| / (|A| + |B| - |A∩B|)``. ``max_postings`` drops shingles whose
    posting list exceeds the cap (stopword-shingle skew guard at scale)."""
    df = ensure_min_parallelism(df)  # shingle explode is the heavy map stage
    shing = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(text_col, shingle_k),
                    lambda s: _hash_str(s, hash_fn),
                )
            )
        ).alias("sh"),
    )
    sizes = shing.groupBy(id_col).agg(F.count("*").alias("n"))
    if max_postings is not None:
        hot = (
            shing.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_postings)
            .select("sh")
        )
        shing = shing.join(hot, "sh", "left_anti")
    a = shing.withColumnRenamed(id_col, "id_a")
    b = shing.withColumnRenamed(id_col, "id_b")
    common = (
        a.join(b, (a.sh == b.sh) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash


SIMHASH_BITS = 30  # poly hashes are < 2^30; use all their bits


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "poly"
) -> DataFrame:
    """30-bit SimHash per document, fully in Catalyst: per-word hash → ±1
    vote per bit (aggregate with a 30-counter array) → sign bits → integer.
    """
    df = ensure_min_parallelism(df)  # per-word vote fold is CPU-heavy
    c = F.col(text_col)
    words = F.split(F.trim(c), r"\s+")
    hashes = F.transform(words, lambda w: F.pmod(_hash_str(w, hash_fn), F.lit(P)))
    zeros = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    bitsof = lambda h: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda i: F.when(
            F.floor(h / F.pow(F.lit(2.0), i.cast("double")).cast("long")) % 2 == 1,
            F.lit(1),
        ).otherwise(F.lit(-1)).cast("long"),
    )
    votes = F.aggregate(
        hashes, zeros, lambda acc, h: F.zip_with(acc, bitsof(h), lambda x, y: x + y)
    )
    value = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), value.alias("simhash"))


# ---------------------------------------------------------------------------
# duplicate clusters → canonical survivors


def _spanning_forest_reduce(
    edges: DataFrame, passes: int = 2, shrink: int = 4
) -> DataFrame:
    """Per-partition union-find spanning-forest edge reduction (the
    classic "filtering" CC preprocessing): each partition builds a local
    union-find over its edge batch and emits only (root, node) forest
    edges — at most one edge per distinct node in the partition, however
    many redundant similarity pairs arrived. Connectivity is preserved
    exactly, so any downstream CC computes the same components.

    A dense near-dup edge list (many pairs within each duplicate
    cluster) collapses by orders of magnitude in one map-only pass;
    subsequent passes repartition ``shrink``x narrower first so
    cross-partition fragments of a component meet. Memory per task is
    one dict entry per distinct node in the partition — bounded by
    narrowing only while edge counts stay small (the caller controls
    ``passes``), never by total corpus size. Each pass materializes with
    an eager localCheckpoint: the output IS the reduced edge list (tiny
    vs the input), and lineage-free blocks keep the downstream iterative
    CC's plans flat."""
    import pandas as _pd

    schema = edges.schema
    c1, c2 = schema[0].name, schema[1].name

    def forest(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf[c1], pdf[c2]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    lo, hi = (rs, rd) if rs < rd else (rd, rs)
                    parent[hi] = lo
        out = [(find(v), v) for v in parent]
        out = [(r, v) for r, v in out if r != v]
        for i in range(0, len(out), 100_000):
            chunk = out[i:i + 100_000]
            yield _pd.DataFrame(chunk, columns=[c1, c2])
        if not out:
            yield _pd.DataFrame({c1: [], c2: []}).astype(
                {c1: object, c2: object}
            )

    for p in range(int(passes)):
        if p > 0:
            n = max(2, edges.rdd.getNumPartitions() // int(shrink))
            edges = edges.repartition(n)
        edges = edges.mapInPandas(forest, schema).localCheckpoint(
            eager=True
        )
    return edges


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 24,
    check_every: int = 3,
    forest_reduce_passes: int = 0,
    small_graph_threshold: int | None = 50_000,
) -> DataFrame:
    """Connected components over a similarity-pair edge list. Returns
    (id, component) with component = the minimum node id of the component.

    Algorithm: min-label propagation **with path halving** — each round a
    node adopts the smallest of (its label, its neighbors' labels, its
    label's label). The pointer-jumping term turns O(diameter) convergence
    into ~O(log diameter): a 100k-node chain converges in ~17 rounds
    instead of 100k.

    Scale shape (the 100 TB concerns): every round is shuffle-joins on node
    id — no driver-side data. Lineage is truncated with an eager
    ``localCheckpoint`` every ``check_every`` rounds (unbounded iterative
    lineage OOMs the driver's plan and makes task binaries quadratic);
    the convergence action runs only at those checkpoints, so the job
    launches ~max_iter/check_every actions, not one per round. Every join
    carries an explicit SHUFFLE_HASH hint: at scale the label table is as
    big as the edge list (broadcast was never the right plan), and at
    test scale it stops the planner auto-broadcasting a fresh copy of the
    labels every round — the accumulated broadcast exchanges were a real
    JVM GC hazard (GCLocker allocation failures on broadcast threads
    under a long shared-JVM suite).

    ``forest_reduce_passes`` > 0 (r14, VERDICT r13 #8) runs
    :func:`_spanning_forest_reduce` first: per-partition union-find
    collapses the (often hugely redundant) similarity-pair list to a
    spanning forest — at most one edge per node per partition — before
    any propagation round runs. Connectivity (hence every component and
    its min id) is exactly preserved; only the constant in front of the
    iteration shrinks.

    ``small_graph_threshold`` (r15 optimization): after the edge list is
    materialized into its cache, a ``limit(threshold+1).collect()`` probe
    checks whether the WHOLE graph fits under the bound; if so the
    components are resolved with a driver-side union-find over exactly
    those collected edges — identical min-id labels, zero iteration jobs.
    The collect is bounded by the threshold (never by data size); above
    the bound the probe costs one cache-backed job (~nothing next to the
    iteration it precedes) and the distributed loop runs unchanged — the
    same size-gated physical-plan choice a broadcast threshold makes.
    ``None`` disables the probe.
    """
    base = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if forest_reduce_passes:
        base = _spanning_forest_reduce(base, passes=forest_reduce_passes)
    edges = (
        base.union(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    if small_graph_threshold is not None and _cc_id_order_safe(
        edges.schema["src"].dataType
    ):
        head = edges.limit(small_graph_threshold + 1).collect()
        if len(head) <= small_graph_threshold:
            out = _driver_union_find(
                pairs.sparkSession, head, edges.schema["src"].dataType
            )
            edges.unpersist()
            return out
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev = labels
    done = 0
    while done < max_iter:
        for _ in range(min(check_every, max_iter - done)):
            neighbor_min = (
                edges.join(labels.hint("shuffle_hash"), edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            # path halving: my label's current label (component ids are
            # always node ids, so the self-join below always resolves)
            jumped = (
                labels.alias("a")
                .join(
                    labels.select(
                        F.col("id").alias("__jid"),
                        F.col("component").alias("__jcomp"),
                    ).hint("shuffle_hash"),
                    F.col("a.component") == F.col("__jid"),
                    "left",
                )
                .select(
                    F.col("a.id").alias("id"),
                    F.col("a.component").alias("component"),
                    F.col("__jcomp").alias("comp2"),
                )
            )
            labels = jumped.join(
                neighbor_min.hint("shuffle_hash"),
                jumped.id == neighbor_min.src,
                "left",
            ).select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("comp2"), F.col("component")),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
            done += 1
        labels = labels.localCheckpoint(eager=True)
        changed = (
            labels.alias("n")
            .join(prev.alias("o").hint("shuffle_hash"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        prev.unpersist()
        prev = labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def _cc_id_order_safe(id_type) -> bool:
    """True when Python ``<`` over collected values provably matches
    Spark's min ordering for the id type — the precondition of the
    small-graph fast path (ADVICE r15: float/double NaN ids compare as
    False to everything in Python, so a NaN could stick as a component
    min where Spark's F.min would not). Integral, string, binary,
    boolean, date and timestamp orderings all agree; anything else
    (float/double, decimal, nested) takes the distributed loop."""
    from pyspark.sql import types as T

    return isinstance(
        id_type,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.StringType, T.BinaryType, T.BooleanType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
        ),
    )


def _driver_union_find(spark, edge_rows, id_type) -> DataFrame:
    """Exact small-graph component labels: union-find with path compression
    over a BOUNDED collected edge list (see connected_components). Returns
    (id, component) with component = min node id — the same contract as
    the distributed loop (Python str comparison orders by code point,
    UTF-8 byte order preserves it, so string min matches Spark's)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null_node = False
    for r in edge_rows:
        a, b = r[0], r[1]
        if a is None or b is None:
            # null never equi-joins in the distributed loop: the non-null
            # endpoint stays a singleton and the null node itself surfaces
            # as an (id=null, component=null) label row
            has_null_node = True
            for v in (a, b):
                if v is not None:
                    parent.setdefault(v, v)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        cur = comp_min.get(root)
        if cur is None or v < cur:
            comp_min[root] = v
    rows = [(v, comp_min[find(v)]) for v in parent]
    if has_null_node:
        rows.append((None, None))
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return spark.createDataFrame(rows, schema)


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end near-dup removal: MinHash-LSH pairs → connected components
    → keep the minimum-id document of every duplicate cluster. Returns the
    deduplicated DataFrame (all original columns)."""
    pairs = minhash_lsh_dedup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k,
        jaccard_threshold, hash_fn,
    )
    comp = connected_components(pairs)
    losers = (
        comp.filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# line-level boilerplate removal (C4 / RefinedWeb style)


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_doc_freq: int = 2,
    min_line_chars: int = 1,
    hash_fn: str = "xxhash64",
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-wide boilerplate *line* removal: a (trimmed) line at least
    ``min_line_chars`` long that occurs in more than ``max_doc_freq``
    distinct documents is dropped from every document; shorter lines are
    kept untouched (and never counted). The cleaning step used by C4 /
    RefinedWeb-class training-data pipelines for nav bars, cookie
    banners and license footers.

    Returns one row per input document: ``(id, out_col, n_lines,
    n_dropped)`` with surviving lines re-joined in original order
    (documents reduced to nothing keep an empty string — they are
    candidates for a downstream quality filter, not silent deletion).

    Scale shape: posexplode (map-only) → one groupBy on the 8-byte line
    key for document frequency (map-side partial ``count_distinct`` via
    the (key, id) pre-aggregate) → join lines against the *hot* set only
    (boilerplate is a tiny fraction of distinct lines, so AQE broadcasts
    it at runtime) → one groupBy(id) to reassemble. Documents shuffle
    once, as their own lines (plus the local fat-row-group guard's
    round-robin when the scan under-parallelizes — a no-op at scale).

    ``hash_fn``: ``"xxhash64"`` (fast JVM intrinsic), ``"poly"``
    (oracle-reproducible 30-bit), or ``"exact"`` — key on the trimmed
    line string itself (zero collision risk; the string shuffle costs
    more at scale). The driver-gate query uses "exact" so the DuckDB
    oracle is collision-free by construction.
    """
    df = ensure_min_parallelism(df)
    trimmed = F.trim(F.col("__line"))
    key = trimmed if hash_fn == "exact" else _hash_str(trimmed, hash_fn)
    lines = df.select(
        F.col(id_col),
        # coalesce: a NULL text must still yield its row (posexplode of a
        # null array emits nothing -> the document would silently vanish,
        # breaking the one-row-per-input contract); NULL cleans to "".
        # \r?\n (r14 fix): F.trim strips spaces only, so under a plain
        # "\n" split a CRLF document's lines keyed as "...\r" and the
        # SAME boilerplate line in LF and CRLF documents counted as two
        # different lines — each side of a mixed corpus under-counted
        # and boilerplate could escape removal entirely. Consuming the
        # \r in the split keys both styles identically (reassembled
        # text normalizes line endings to \n, documented).
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")
        ).alias("__pos", "__line"),
    ).select(
        F.col(id_col),
        "__pos",
        "__line",
        key.alias("__key"),
        (F.length(trimmed) >= min_line_chars).alias("__eligible"),
    )
    hot = (
        lines.filter("__eligible")
        .select("__key", id_col)
        .distinct()
        .groupBy("__key")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__key", F.lit(True).alias("__hot"))
    )
    flagged = lines.join(hot, "__key", "left").withColumn(
        "__drop", F.col("__eligible") & F.coalesce("__hot", F.lit(False))
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line", "__drop"))
                    ),
                    lambda x: ~x["__drop"],
                ),
                lambda x: x["__line"],
            ),
        ).alias(out_col),
        F.count("*").alias("n_lines"),
        F.sum(F.col("__drop").cast("int")).alias("n_dropped"),
    )




# ---------------------------------------------------------------------------
# exact-substring duplicate spans (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr class, approximated
# at the token-window granularity so every step stays relational)


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_doc_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-document duplicate SPAN detection: every ``k``-token window
    whose exact token sequence appears in at least ``min_doc_count``
    DISTINCT documents is a duplicate window; per document, overlapping
    duplicate windows merge into maximal spans. This is the span-level
    dedup class (ExactSubstr) the whole-doc/near-dup operators miss —
    a licence footer pasted inside otherwise-unique pages, a quoted
    boilerplate paragraph, a copied code block.

    Returns one row per merged span: ``(id, span_start, span_end,
    n_windows)`` with token-index bounds [span_start, span_end) and the
    number of duplicate k-windows the span merged. Pair with a
    downstream masking/removal step keyed on (id, span bounds).

    100 TB shape — every step is map-work or an equi-keyed shuffle:

    * window generation is a map-only posexplode (one row per token
      position; rows carry the 8-byte window key, never the text);
    * document frequency is ONE groupBy on the window key over the
      (key, id)-distinct pre-aggregate (map-side partial);
    * duplicate positions come from a semi-join of positions against
      the hot-key set (hot windows are a tiny fraction of distinct
      windows, so AQE broadcasts the build side at runtime);
    * span merging is the classic gaps-and-islands: one window
      function partitioned by document (positions of one doc are
      already co-located by the semi-join's shuffle) — a new island
      starts where ``pos > prev_pos + k``, islands groupBy to spans.

    No cartesian anywhere; skew risk is a degenerate window repeated
    inside ONE document (counted once by the distinct pre-aggregate)
    or across a hot corpus — both bounded by the hot-set size, which
    ``min_doc_count`` controls.

    ``hash_fn``: "xxhash64" (fast JVM path), "poly" (oracle 30-bit), or
    "exact" — key on the window STRING (collision-free; the gate uses
    this so the DuckDB mirror needs no hash function at all).

    Collision risk (ADVICE r12): with "xxhash64" two DISTINCT k-token
    windows can share a 64-bit hash and be miscounted as one —
    birthday-bound probability ~n²/2⁶⁵ for n distinct windows (~3% at
    n = 10⁹; ~1 expected collision at n ≈ 6×10⁹), and a collision can
    both create false duplicate windows and lift a window over the
    ``min_doc_count`` bar. "poly" (30-bit) is oracle-compat only and
    collides at far smaller n. For correctness-critical span removal
    run ``hash_fn="exact"``: the shuffle key is the window string
    itself (k tokens per position instead of 8 bytes — heavier shuffle,
    zero false merges).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    df = ensure_min_parallelism(df)
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    # positions 0 .. ntok-k; sequence() is empty-safe via the when guard
    win = F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__pos") + 1, k))
    positions = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= k)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(0), F.size("__toks") - k)
            ).alias("__pos"),
        )
        .select(
            F.col(id_col),
            F.col("__pos"),
            (
                win if hash_fn == "exact" else _hash_str(win, hash_fn)
            ).alias("__key"),
        )
    )
    hot = (
        positions.select("__key", id_col)
        .distinct()
        .groupBy("__key")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_doc_count)
        .select("__key")
    )
    dup = positions.join(hot, "__key", "left_semi")
    w = Window.partitionBy(id_col).orderBy("__pos")
    islands = (
        dup.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__new",
            (
                F.col("__prev").isNull()
                | (F.col("__pos") > F.col("__prev") + k)
            ).cast("int"),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + k).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("__island")
    )



def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_doc_count: int = 2,
    hash_fn: str = "xxhash64",
    out_col: str = "clean_text",
) -> DataFrame:
    """Apply :func:`duplicate_spans`: drop every duplicated token span
    from every document and re-join the survivors with single spaces.
    One row per input document: ``(.., out_col, n_tokens,
    n_dropped_tokens)`` — the span-level sibling of ``line_dedup``'s
    contract (documents reduced to nothing keep an empty string).

    Scale shape: the span frame is tiny (merged spans only), so the
    positions-vs-spans range join broadcasts at runtime; tokens shuffle
    once on the id for reassembly. The range condition is bounded by the
    equi-key (id) — never a cartesian.

    Since removal is destructive, the :func:`duplicate_spans` collision
    caveat applies doubly here: under the default ``hash_fn="xxhash64"``
    a 64-bit collision (birthday-bound ~n²/2⁶⁵ over distinct windows)
    would DELETE non-duplicate text. Use ``hash_fn="exact"`` for
    correctness-critical corpora — the oracle gate runs that mode.
    """
    spans = duplicate_spans(
        df, text_col, id_col, k=k, min_doc_count=min_doc_count,
        hash_fn=hash_fn,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
    )
    base = df.withColumn("__toks", toks).join(per_doc, id_col, "left")
    in_span = lambda i: F.exists(  # noqa: E731
        F.coalesce(F.col("__spans"), F.array()),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.when(~in_span(i), t),
        ),
        lambda t: t.isNotNull(),
    )
    dropped = F.size(
        F.filter(
            F.sequence(F.lit(0), F.size("__toks") - 1),
            lambda i: in_span(i),
        )
    )
    # empty/NULL text splits to [''] — count that as zero tokens
    empty = F.trim(F.coalesce(F.col(text_col), F.lit(""))) == ""
    return base.select(
        *[c for c in df.columns if c != text_col],
        F.concat_ws(" ", kept).alias(out_col),
        F.when(empty, F.lit(0))
        .otherwise(F.size("__toks"))
        .cast("long")
        .alias("n_tokens"),
        F.when(empty | (F.size("__toks") == 0), F.lit(0))
        .otherwise(dropped)
        .cast("long")
        .alias("n_dropped_tokens"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bench_df: DataFrame,
    bench_text_col: str,
    ngram_k: int = 13,
    hash_fn: str = "xxhash64",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Remove documents that share any ``ngram_k``-word shingle with a
    benchmark/eval corpus (the GPT-3/Llama-style train-test
    decontamination step; 13-grams is the conventional window).

    Scale shape: the benchmark shingle set is tiny next to the corpus
    (millions of n-grams vs billions of documents), so it is broadcast
    and the contamination check is a map-side LEFT SEMI join — at real
    scale the corpus itself never shuffles (the under-parallel-scan
    guard's round-robin applies only to the local fat-row-group case).
    Set ``broadcast_bench=False`` to let AQE decide when the benchmark
    is genuinely large.

    Note: documents (or benchmark rows) shorter than ``ngram_k`` words
    produce a single whole-text shingle (word_shingles semantics), so a
    short document is only flagged on an exact whole-text benchmark hit.
    """
    def sh(col):
        return F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(col, ngram_k),
                    lambda s: _hash_str(s, hash_fn),
                )
            )
        )

    bench_sh = bench_df.select(sh(bench_text_col).alias("__sh")).distinct()
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    doc_sh = ensure_min_parallelism(df).select(
        F.col(id_col), sh(text_col).alias("__sh")
    )
    contaminated = (
        doc_sh.join(bench_sh, "__sh", "left_semi").select(id_col).distinct()
    )
    return df.join(contaminated, id_col, "left_anti")
