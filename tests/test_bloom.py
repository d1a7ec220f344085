"""Partitioned Bloom filter: zero false negatives (hard guarantee) and a
small-scale FPR audit of the parameter math (the 1e10/1e-6 design point is
parameterized through the same formulas)."""

import numpy as np
import pytest

from webarchive_discovery_spark.operators.bloom import (
    BloomParams,
    PartitionedBloom,
    bloom_negative_filter,
    bloom_negative_filter_sharded,
    build_bloom,
    build_bloom_shards,
)
from webarchive_discovery_spark.operators.cuckoo import (
    CuckooParams,
    build_cuckoo_shards,
    cuckoo_negative_filter_sharded,
)


def test_no_false_negatives_and_fpr():
    params = BloomParams(n_capacity=20_000, fpr=1e-4, num_shards=8)
    bloom = PartitionedBloom(params)
    rng = np.random.default_rng(3)
    members = rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64)
    bloom.add_hashes(members)
    assert bloom.contains_hashes(members).all()  # no false negatives, ever

    probes = rng.integers(-(2**62), 2**62, 200_000, dtype=np.int64)
    probes = np.setdiff1d(probes, members)
    fp = bloom.contains_hashes(probes).mean()
    # allow 5x the design FPR as audit slack at this small m
    assert fp <= 5 * params.fpr, f"observed FPR {fp}"


def test_merge_is_union():
    params = BloomParams(n_capacity=1000, fpr=1e-3, num_shards=4)
    a, b = PartitionedBloom(params), PartitionedBloom(params)
    xs = np.arange(100, dtype=np.int64)
    ys = np.arange(100, 200, dtype=np.int64)
    a.add_hashes(xs)
    b.add_hashes(ys)
    m = a.merge(b)
    assert m.contains_hashes(xs).all() and m.contains_hashes(ys).all()


def test_distributed_build_and_probe(spark):
    params = BloomParams(n_capacity=10_000, fpr=1e-4, num_shards=8)
    df = spark.range(0, 5000).selectExpr("xxhash64(id) as url_hash")
    bloom = build_bloom(df, "url_hash", params)
    probed = bloom_negative_filter(df, "url_hash", bloom)
    # every member must probe positive regardless of partitioning
    assert probed.filter("NOT maybe_seen").count() == 0
    other = spark.range(100_000, 140_000).selectExpr("xxhash64(id) as url_hash")
    fp = bloom_negative_filter(other, "url_hash", bloom).filter("maybe_seen").count()
    assert fp / 40_000 <= 5 * params.fpr


def test_design_point_parameters():
    # the north-rule design point: FPR 1e-6 at 1e10 URLs — verify the math
    # without allocating: ~28.8 bits/URL, k≈20
    p = BloomParams(n_capacity=10_000_000_000, fpr=1e-6, num_shards=1024)
    total_bits = p.m_bits_per_shard * p.num_shards
    assert 28 <= total_bits / p.n_capacity <= 30
    assert 18 <= p.k_hashes <= 22
    # per-shard memory ~35 MB → executor-friendly broadcast granularity
    assert p.m_bits_per_shard / 8 / 1024 / 1024 < 64


def test_sharded_build_matches_broadcast(spark):
    """The distributed shard build/probe must agree bit-for-bit with the
    broadcast-tier PartitionedBloom on the same hashes."""
    from webarchive_discovery_spark.operators.bloom import (
        BloomParams,
        bloom_negative_filter_sharded,
        build_bloom,
        build_bloom_shards,
    )

    params = BloomParams(n_capacity=5000, fpr=1e-4, num_shards=8)
    seen = spark.range(2000).selectExpr("xxhash64(cast(id as string)) as url_hash")
    probe = spark.range(1500, 4000).selectExpr(
        "id", "xxhash64(cast(id as string)) as url_hash"
    )

    broadcast_bloom = build_bloom(seen, "url_hash", params)
    shards = build_bloom_shards(seen, "url_hash", params)
    assert shards.count() <= 8

    from webarchive_discovery_spark.operators.bloom import bloom_negative_filter

    a = {r["id"]: r["maybe_seen"] for r in
         bloom_negative_filter(probe, "url_hash", broadcast_bloom).collect()}
    b = {r["id"]: r["maybe_seen"] for r in
         bloom_negative_filter_sharded(probe, "url_hash", shards, params).collect()}
    assert a == b
    # negatives are definitive: every truly-seen id must be maybe_seen
    assert all(b[i] for i in range(1500, 2000))


def test_sharded_probe_empty_shard_is_unseen(spark):
    from webarchive_discovery_spark.operators.bloom import (
        BloomParams,
        bloom_negative_filter_sharded,
        build_bloom_shards,
    )

    params = BloomParams(n_capacity=100, fpr=1e-3, num_shards=4)
    seen = spark.createDataFrame([(4,)], "url_hash long")  # only shard 0 populated
    shards = build_bloom_shards(seen, "url_hash", params)
    probe = spark.createDataFrame([(5,), (4,)], "url_hash long")  # shards 1 and 0
    got = {r["url_hash"]: r["maybe_seen"] for r in
           bloom_negative_filter_sharded(probe, "url_hash", shards, params).collect()}
    assert got[4] is True and got[5] is False


# The three seen tiers, each as (build(seen) -> filter, probe(df, filter)).
_BP = BloomParams(n_capacity=5000, fpr=1e-4, num_shards=8)
_CP = CuckooParams(n_capacity=5000, fpr=1e-4, num_shards=8)
SEEN_TIERS = {
    "broadcast_bloom": (
        lambda seen: build_bloom(seen, "url_hash", _BP),
        lambda df, f: bloom_negative_filter(df, "url_hash", f),
    ),
    "sharded_bloom": (
        lambda seen: build_bloom_shards(seen, "url_hash", _BP),
        lambda df, f: bloom_negative_filter_sharded(df, "url_hash", f, _BP),
    ),
    "sharded_cuckoo": (
        lambda seen: build_cuckoo_shards(seen, "url_hash", _CP),
        lambda df, f: cuckoo_negative_filter_sharded(df, "url_hash", f, _CP),
    ),
}

# odd hashes above 2^62: float64 cannot hold any of them exactly
_BIG = [2**62 + 2 * i + 1 for i in range(64)]


@pytest.mark.parametrize("tier", SEEN_TIERS)
@pytest.mark.parametrize("null_side", ["build", "probe"])
def test_null_hash_keeps_the_prefilter_contract(spark, tier, null_side):
    """Arrow hands pandas an int64 column that holds a NULL as float64.  A
    NULL among hashes above 2^53 in one partition used to drop their low
    bits (every member a false negative on the broadcast tier) or fail the
    sharded builds.  NULL is never inserted and always probes unseen."""
    build, probe = SEEN_TIERS[tier]
    rows = [(h,) for h in _BIG]
    with_null = spark.createDataFrame(rows + [(None,)], "url_hash long").coalesce(1)
    plain = spark.createDataFrame(rows, "url_hash long").coalesce(1)
    seen, probed = (with_null, plain) if null_side == "build" else (plain, with_null)
    got = probe(probed, build(seen)).collect()
    assert sorted(r["url_hash"] for r in got if r["maybe_seen"]) == _BIG
    assert [r["maybe_seen"] for r in got if r["url_hash"] is None] == (
        [False] if null_side == "probe" else []
    )


@pytest.mark.parametrize("tier", SEEN_TIERS)
def test_seen_tiers_match_exact_set_difference(spark, tier):
    """Differential check of every seen tier against the exact anti-join:
    "definitely unseen ∪ (maybe seen minus the exact seen-set)" must be the
    exact set difference, and no seen member may probe unseen.  Inputs:
    an empty seen set, a shard with no entries, negative hashes, hashes
    above 2^53 and NULLs on both sides."""
    build, probe = SEEN_TIERS[tier]
    rng = np.random.default_rng(11)
    hashes = (
        [int(h) for h in rng.integers(-(2**63), 2**63 - 1, 400, dtype=np.int64)]
        + _BIG + [0, -1, 2**63 - 1, -(2**63)]
    )
    # shard 7 of 8 (hash & 7 == 7, which is pmod 8 == 7) gets no entry
    members = [h for h in hashes[::2] if h % 8 != 7]
    assert any(h % 8 == 7 for h in hashes)
    universe = spark.createDataFrame(
        list(enumerate(hashes)) + [(len(hashes), None)], "id long, url_hash long"
    )
    cases = {
        "empty": [],
        "populated": [(h,) for h in members] + [(None,)],
    }
    for case, seen_rows in cases.items():
        seen = spark.createDataFrame(seen_rows, "url_hash long")
        probed = probe(universe, build(seen)).persist()
        maybe = probed.filter("maybe_seen").select("id", "url_hash")
        unseen = probed.filter("NOT maybe_seen").select("id", "url_hash").unionByName(
            maybe.join(seen, "url_hash", "left_anti").select("id", "url_hash")
        )
        exact = universe.join(seen, "url_hash", "left_anti")
        assert sorted(r["id"] for r in unseen.collect()) == sorted(
            r["id"] for r in exact.collect()
        ), case
        member_set = {r[0] for r in seen_rows if r[0] is not None}
        rows = probed.collect()
        assert len(rows) == universe.count(), case
        assert all(r["maybe_seen"] for r in rows if r["url_hash"] in member_set), case
        probed.unpersist()
