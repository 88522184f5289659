from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import functions as F

from ycrawl_spark.seen import Bloom, Cuckoo, anti_join_unseen, build_bloom


def test_bloom_no_false_negatives_and_fp_bound():
    b = Bloom.sized_for(5000, fpp=0.01)
    keys = [f"k{i}" for i in range(5000)]
    b.add_many(keys)
    assert b.contains_many(keys).all()
    probe = [f"absent{i}" for i in range(20000)]
    fp_rate = b.contains_many(probe).mean()
    assert fp_rate < 0.03  # 3× headroom over target 1%


def test_bloom_merge():
    a = Bloom(1 << 14, 7)
    c = Bloom(1 << 14, 7)
    a.add_many(["x1", "x2"])
    c.add_many(["y1"])
    m = a.merge(c)
    assert m.contains_many(["x1", "x2", "y1"]).all()


def test_cuckoo_insert_contains_delete():
    c = Cuckoo(1024)
    keys = [f"k{i}" for i in range(500)]
    for k in keys:
        assert c.insert(k)
    assert all(c.contains(k) for k in keys)
    for k in keys[:100]:
        assert c.delete(k)
    # deleted keys may still FP-collide with remaining fingerprints, but most gone
    still = sum(c.contains(k) for k in keys[:100])
    assert still < 10
    assert all(c.contains(k) for k in keys[100:])


def test_anti_join_with_bloom_equals_exact(spark):
    cand = spark.createDataFrame([(f"k{i}", i) for i in range(2000)], "key string, v int")
    seen = spark.createDataFrame([(f"k{i}",) for i in range(0, 2000, 3)], "key string")
    bloom = build_bloom(seen, "key", n_items_hint=700, n_shards=8)
    exact = {r["key"] for r in cand.join(seen, "key", "left_anti").collect()}
    with_bloom = {
        r["key"] for r in anti_join_unseen(cand, seen, "key", bloom, spark).collect()
    }
    assert with_bloom == exact


def test_sharded_bloom_matches_exact_antijoin(spark):
    """The partitioned-Bloom membership gate (cogrouped applyInPandas,
    no filter broadcast) must reproduce the exact anti-join result:
    false negatives impossible, false positives resolved by the exact
    re-check — same contract as the driver Bloom. The grouped
    ``applyInPandas`` functions carry type hints, so PySpark infers
    their eval type without a "Cannot infer the eval type" warning."""
    from ycrawl_spark.seen import build_sharded_bloom, sharded_maybe_tag

    seen = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 2000, 2)], "key string"
    )
    cand = spark.createDataFrame(
        [(f"k{i}",) for i in range(1500, 2500)], "key string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        shards = build_sharded_bloom(seen, n_items_hint=1000, n_shards=16)
        tagged = sharded_maybe_tag(cand, shards, 16)
    assert shards.count() <= 16
    # no false negatives: every truly-seen candidate is flagged maybe
    missed = (
        tagged.join(seen, "key", "left_semi")
        .filter(~F.col("_maybe")).count()
    )
    assert missed == 0
    # gate + exact re-check == plain exact anti-join
    definite = tagged.filter(~F.col("_maybe")).drop("_maybe")
    rechecked = (
        tagged.filter(F.col("_maybe")).drop("_maybe")
        .join(seen, "key", "left_anti")
    )
    got = {r["key"] for r in definite.unionByName(rechecked).collect()}
    want = {r["key"] for r in cand.join(seen, "key", "left_anti").collect()}
    assert got == want


def test_sharded_bloom_dirty_shard_update(spark):
    """update_sharded_bloom touches only the shards its delta hashes
    into; clean shards' bits are byte-identical before and after."""
    from ycrawl_spark.seen import build_sharded_bloom, update_sharded_bloom

    base = spark.createDataFrame([(f"a{i}",) for i in range(500)], "key string")
    shards0 = build_sharded_bloom(base, n_items_hint=1000, n_shards=16)
    before = {r["shard"]: bytes(r["bits"]) for r in shards0.collect()}
    delta = spark.createDataFrame([("delta-key-1",), ("delta-key-2",)],
                                  "key string")
    from ycrawl_spark.seen import shard_col
    dirty = {r[0] for r in delta.select(
        shard_col("key", 16).alias("s")).collect()}
    shards1 = update_sharded_bloom(shards0, delta, 16)
    after = {r["shard"]: bytes(r["bits"]) for r in shards1.collect()}
    assert set(after) == set(before) | dirty
    for s, bits in after.items():
        if s in before and s not in dirty:
            assert bits == before[s]  # clean shard untouched
    # and the delta keys are now members
    from ycrawl_spark.seen import sharded_maybe_tag
    tagged = sharded_maybe_tag(delta, shards1, 16)
    assert tagged.filter(~F.col("_maybe")).count() == 0
