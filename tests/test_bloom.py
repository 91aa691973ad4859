"""Bloom seen-set: no false negatives, treeAggregate union, exactness."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hiispider_spark.operators import seen

M = 1 << 17  # 128 Kbit for tests
K = 7


def _hashes(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_insert_contains_no_false_negatives():
    bloom = np.zeros(M // 8, dtype=np.uint8)
    h = _hashes(5000)
    seen._insert(bloom, h, M, K)
    assert seen._contains(bloom, h, M, K).all()


def test_fpp_within_2x_estimate():
    bloom = np.zeros(M // 8, dtype=np.uint8)
    h = _hashes(5000, seed=1)
    seen._insert(bloom, h, M, K)
    probe = _hashes(20000, seed=2)
    fp = seen._contains(bloom, probe, M, K).mean()
    est = seen.estimated_fpp(5000, M, K)
    assert fp <= max(2 * est, 0.01)


def test_partition_blooms_and_tree_union(spark):
    n = 4000
    df = spark.range(n).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = seen.build_partition_blooms(df, M, K)
    assert blooms.count() == 8
    unioned = seen.union_blooms_tree(blooms, M)
    # union must contain every inserted key (no false negatives survive OR)
    h = np.array([r.url_hash for r in df.collect()], dtype=np.int64)
    bl = np.frombuffer(unioned, dtype=np.uint8)
    assert seen._contains(bl, h, M, K).all()
    # and equals the filter built by inserting everything directly
    direct = np.zeros(M // 8, dtype=np.uint8)
    seen._insert(direct, h, M, K)
    assert bytes(direct) == unioned


def test_jvm_probe_matches_numpy(spark):
    """bloom_might_contain_col (pure Column expr) is bit-identical to
    the numpy _contains over the same stored word-array filter."""
    df = spark.range(3000).select(
        F.lit(0).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = seen.build_partition_blooms(df, M, K).collect()
    words = np.asarray(blooms[0].bloom, dtype=np.int64)
    bl = words.view(np.uint8)
    probe = spark.range(2000, 8000).select(F.xxhash64("id").alias("url_hash"))
    from pyspark.sql import functions as F2

    got = (
        probe.crossJoin(
            spark.createDataFrame([(blooms[0].bloom,)], "bloom array<long>")
        )
        .select(
            "url_hash",
            seen.bloom_might_contain_col(
                F2.col("url_hash"), F2.col("bloom"), M, K
            ).alias("m"),
        )
        .collect()
    )
    h = np.array([r.url_hash for r in got], dtype=np.int64)
    want = seen._contains(bl, h.view(np.uint64), M, K)
    assert all(bool(r.m) == bool(w) for r, w in zip(got, want))


def test_filter_unseen_partitioned_modes_agree(spark):
    """Broadcast JVM probe and cogroup python probe return the same
    unseen set (both end at the exact anti-join authority)."""
    base = spark.range(4000).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = seen.build_partition_blooms(base, M, K)
    seen_exact = base.select("url_hash")
    cands = spark.range(2000, 10000).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    a = seen.filter_unseen_partitioned(
        cands, blooms, seen_exact, M, K, broadcast_filters=True
    )
    b = seen.filter_unseen_partitioned(
        cands, blooms, seen_exact, M, K, broadcast_filters=False
    )
    want = cands.join(seen_exact, "url_hash", "left_anti")
    sa = sorted(r.url_hash for r in a.collect())
    sb = sorted(r.url_hash for r in b.collect())
    sw = sorted(r.url_hash for r in want.collect())
    assert sa == sb == sw
