"""Partitioned Bloom + exact anti-join dedup (SURVEY.md A4)."""

from __future__ import annotations

import pytest
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F

from rcspark.constants import BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES
from rcspark.dedup import (
    bloom_probe_broadcast,
    bloom_update,
    empty_bloom,
    filter_unseen,
)


def _digests(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], ["url_canon"]).withColumn(
        "digest", F.xxhash64("url_canon")
    )


@pytest.fixture(scope="module")
def bloom_with_5k(spark):
    inserted = [f"http://h{i % 7}.example/p/{i}" for i in range(5000)]
    bloom = bloom_update(_digests(spark, inserted), empty_bloom(spark)).persist()
    bloom.count()
    return inserted, bloom


def test_bloom_no_false_negatives(spark, bloom_with_5k):
    inserted, bloom = bloom_with_5k
    probed = bloom_probe_broadcast(_digests(spark, inserted), bloom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fpr_bounded(spark, bloom_with_5k):
    _, bloom = bloom_with_5k
    novel = [f"http://other{i % 5}.example/q/{i}" for i in range(20000)]
    fp = (
        bloom_probe_broadcast(_digests(spark, novel), bloom)
        .filter(F.col("maybe_seen"))
        .count()
    )
    # theoretical FPR at n=5000/32 shards, m=2^20, k=7 is ~1e-17; any
    # measurable rate means broken mixing — allow a generous 0.1%
    assert fp / len(novel) < 0.001, fp


def test_filter_unseen_exact(spark, bloom_with_5k):
    inserted, bloom = bloom_with_5k
    seen = _digests(spark, inserted).withColumn("wave", F.lit(0))
    mixed = inserted[:500] + [f"http://fresh.example/n/{i}" for i in range(500)]
    out = filter_unseen(_digests(spark, mixed), bloom, seen)
    got = sorted(r.url_canon for r in out.collect())
    assert got == sorted(f"http://fresh.example/n/{i}" for i in range(500))


def test_filter_unseen_submits_only_the_bitmap_collect(spark, bloom_with_5k):
    """Building the filter_unseen plan runs exactly one Spark job — the
    bitmap collect behind the probe's broadcast. No sizing job precedes it."""
    inserted, bloom = bloom_with_5k
    seen = _digests(spark, inserted).withColumn("wave", F.lit(0))
    cand = _digests(spark, inserted[:10] + ["http://fresh.example/j/0"])
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    handles: list = []
    before = sched.nextJobId()
    out = filter_unseen(cand, bloom, seen, persisted_out=handles)
    assert sched.nextJobId() - before == 1
    # the probe's Broadcast is handed back for release, beside the persist
    assert any(isinstance(h, Broadcast) for h in handles)
    assert [r.url_canon for r in out.collect()] == ["http://fresh.example/j/0"]
    for h in handles:
        h.unpersist()


def test_bloom_update_preserves_untouched_shards(spark):
    b0 = bloom_update(_digests(spark, ["http://a.example/1"]), empty_bloom(spark))
    before = {r.shard: r.bits for r in b0.collect()}
    b1 = bloom_update(_digests(spark, ["http://a.example/2"]), b0)
    after = {r.shard: r.bits for r in b1.collect()}
    assert set(before) == set(after) == set(range(len(before)))
    changed = [s for s in before if before[s] != after[s]]
    assert len(changed) == 1  # exactly the target shard mutated
    assert all(len(bytes(v)) == BLOOM_BITS_PER_SHARD // 8 for v in after.values())
