"""Relation-cache immutability contract (r16, VERDICT r15 #8): a directory
mutated after first load is invisible to the memoized frame (catalog-style
staleness); the documented escape hatch, ``invalidate_relations``, sees
the new files."""

import os
import shutil

from datafusion_spatial_spark.sources import tables as T

SF1 = "/root/testdata/sf0.001"


def _copy_table(tmp_path, n_copies):
    """region.parquet as a DIRECTORY of n_copies single-file replicas —
    adding a replica is the directory mutation under test."""
    d = os.path.join(str(tmp_path), "mut")
    dst = os.path.join(d, "region.parquet")
    os.makedirs(dst, exist_ok=True)
    src = os.path.join(SF1, "region.parquet")  # a single parquet file
    for i in range(n_copies):
        shutil.copy(src, os.path.join(dst, f"c{i}.parquet"))
    return d


def test_stale_listing_and_invalidate(spark, tmp_path):
    d = _copy_table(tmp_path, 1)
    n1 = T.load_table(spark, d, "region").count()
    # mutate the dir: double the files → a fresh read sees 2x rows
    _copy_table(tmp_path, 2)
    stale = T.load_table(spark, d, "region").count()
    assert stale == n1  # memoized listing: stale by contract
    fresh_uncached = T._load_uncached(spark, d, "region").count()
    assert fresh_uncached == 2 * n1
    T.invalidate_relations(spark)
    assert T.load_table(spark, d, "region").count() == 2 * n1
