"""Round-16 ADVICE fixes:

* skew.ensure_min_parallelism memo: pass-through results are stored as a
  ``None`` sentinel, not the frame itself (a WeakKey entry whose value is
  its own key is immortal — every pass-through frame leaked its plan).
* tables.register_views: the skip re-validates against the live catalog
  (an outside dropTempView is repaired).
* dedup.connected_components: the small-graph driver fast path is gated
  on id types whose Python ordering provably matches Spark's —
  float/double ids (NaN-capable) take the distributed loop.
"""

from datafusion_spatial_spark.operators import dedup, skew
from datafusion_spatial_spark.sources import tables as T

SF1 = "/root/testdata/sf0.001"


# --- skew memo sentinel ---------------------------------------------------

def test_min_parallelism_passthrough_not_self_referential(spark):
    df = spark.range(0, 10).repartition(64)  # already >= any target
    out = skew.ensure_min_parallelism(df, 4)
    assert out is df
    memo = skew._MIN_PAR_MEMO.get(df)
    assert memo is not None and memo[4] is None  # sentinel, not df
    # second call resolves the sentinel back to df
    assert skew.ensure_min_parallelism(df, 4) is df


def test_min_parallelism_repartition_still_memoized(spark):
    df = spark.range(0, 10).coalesce(1)
    out1 = skew.ensure_min_parallelism(df, 8)
    out2 = skew.ensure_min_parallelism(df, 8)
    assert out1 is not df and out1 is out2
    assert out1.rdd.getNumPartitions() == 8


# --- register_views catalog re-validation ---------------------------------

def test_register_views_repairs_outside_drop(spark):
    T.register_views(spark, SF1, "region")
    n1 = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    spark.catalog.dropTempView("region")  # outside interference
    T.register_views(spark, SF1, "region")  # must NOT silently skip
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n == n1


# --- CC fast-path id-type gating ------------------------------------------

def test_cc_id_order_safe_classification():
    from pyspark.sql import types as Ty

    assert dedup._cc_id_order_safe(Ty.LongType())
    assert dedup._cc_id_order_safe(Ty.StringType())
    assert dedup._cc_id_order_safe(Ty.BinaryType())
    assert not dedup._cc_id_order_safe(Ty.DoubleType())
    assert not dedup._cc_id_order_safe(Ty.FloatType())
    assert not dedup._cc_id_order_safe(Ty.DecimalType(10, 0))


def test_cc_double_ids_take_distributed_loop(spark, monkeypatch):
    """Double ids (NaN-capable) must bypass the driver union-find."""
    calls = []
    orig = dedup._driver_union_find

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(dedup, "_driver_union_find", spy)
    pairs = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (10.0, 11.0)], "id_a double, id_b double"
    )
    got = {
        (r.id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (10.0, 10.0), (11.0, 10.0)
    }
    assert not calls  # fast path never consulted
    # and long ids still use it
    pairs_l = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got_l = {
        (r.id, r.component)
        for r in dedup.connected_components(pairs_l).collect()
    }
    assert got_l == {(1, 1), (2, 1)}
    assert calls
