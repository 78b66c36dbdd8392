"""Sketch operators (operators/sketches.py): Bloom-filter properties —
zero false negatives by construction, FP rate near nominal, exactness of
the pre-filtered incremental dedup regardless of FP rate — and the
heavy-hitters exactness guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
    bloom_incremental_dedup,
    bloom_membership,
    build_bloom,
    heavy_hitters,
)


def test_bloom_no_false_negatives(spark):
    """Every inserted key MUST test positive — the property the
    definitely-new routing in bloom_incremental_dedup relies on."""
    df = spark.range(20_000).selectExpr("CAST(id AS STRING) AS k")
    bloom = build_bloom(df, "k", fp_rate=0.01)
    misses = bloom_membership(df, "k", bloom).filter(~F.col("_bloom_hit")).count()
    assert misses == 0


def test_bloom_fp_rate_near_nominal(spark):
    """Disjoint probe keys should false-positive at ~fp_rate; allow 3×
    slack for hash variance (20k probes → tight concentration)."""
    hist = spark.range(20_000).selectExpr("CAST(id AS STRING) AS k")
    probe = spark.range(100_000, 120_000).selectExpr("CAST(id AS STRING) AS k")
    bloom = build_bloom(hist, "k", fp_rate=0.01)
    assert 0.3 < bloom.fill_ratio < 0.7  # optimally-sized filter is ~half full
    fp = bloom_membership(probe, "k", bloom).filter(F.col("_bloom_hit")).count()
    assert fp / 20_000 < 0.03


def test_bloom_incremental_dedup_exact_even_with_bad_filter(spark):
    """The bloom only ROUTES rows (negatives skip the join, positives get
    verified) — so the result equals the plain anti-join even with an
    absurd 50% FP rate."""
    hist = spark.range(0, 5_000).selectExpr("id", "CAST(id % 977 AS STRING) AS k")
    batch = spark.range(4_000, 9_000).selectExpr("id", "CAST(id % 1009 AS STRING) AS k")
    bloom = build_bloom(hist, "k", fp_rate=0.5)
    got = sorted(
        r["id"] for r in bloom_incremental_dedup(hist, batch, "k", bloom).collect()
    )
    exact = sorted(
        r["id"]
        for r in batch.join(hist.select("k").distinct(), "k", "left_anti").collect()
    )
    assert got == exact and len(got) > 0


def test_heavy_hitters_exact_on_skew(spark):
    """Zipf-ish skew: sketch candidates + exact recount must equal the
    full groupBy top-k, including the deterministic tiebreak."""
    df = spark.range(50_000).selectExpr(
        "CAST(CAST(pow(CAST(pmod(xxhash64(id), 1000) AS DOUBLE) / 1000.0, 3.0) * 50 AS INT) AS STRING) AS v"
    )
    got = [(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", k=10).collect()]
    exact = [
        (r["v"], r["cnt"])
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("v"))
        .limit(10)
        .collect()
    ]
    assert got == exact


def test_heavy_hitters_guard_raises_on_flat_distribution(spark):
    """A flat distribution with more distinct values than the sketch
    tracks puts the k-th count inside the error bound — the driver-side
    guard must RAISE, not silently return an approximate top-k."""
    df = spark.range(40_000).selectExpr("CAST(pmod(id, 4000) AS STRING) AS v")
    with pytest.raises(Exception, match="sketch error"):
        heavy_hitters(df, "v", k=10, max_items_tracked=64).collect()


def test_heavy_hitters_includes_null_group(spark):
    """NULL is a real group: approx_top_k tracks it as item=None but
    isin() can never match null — the recount needs an explicit isNull
    arm or the most frequent value silently vanishes from an 'exact'
    answer."""
    df = spark.range(1_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN NULL ELSE CAST(pmod(id, 5) AS STRING) END AS v"
    )
    got = [(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", k=3).collect()]
    exact = [
        (r["v"], r["cnt"])
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("v"))
        .limit(3)
        .collect()
    ]
    assert got == exact
    assert got[0][0] is None and got[0][1] == 500


def test_bloom_tree_combine_many_partitions(spark):
    """Past 64 input partitions the bitmap combine goes through the
    executor-side tree OR (bounded driver transfer at cluster partition
    counts); the filter must be identical to the direct-combine result."""
    df = spark.range(5_000).selectExpr("CAST(id AS STRING) AS k")
    direct = build_bloom(df.coalesce(4), "k", expected_items=5_000, tree_combine=False)
    treed = build_bloom(df.repartition(130), "k", expected_items=5_000, tree_combine=True)
    assert direct.bits == treed.bits and direct.m == treed.m and direct.k == treed.k


def test_bloom_contains_math_properties():
    """Pure-numpy property check of the filter kernel (no Spark): for
    random (m, k) sizings and random hash pairs, setting the k probe
    bits by hand makes contains() true, and membership is monotone in
    the bit array (adding bits never un-members a key)."""
    import numpy as np

    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import BloomFilter

    rng = np.random.RandomState(7)
    for _ in range(25):
        m = int(rng.randint(8, 4096)) * 8
        k = int(rng.randint(1, 12))
        n = int(rng.randint(1, 200))
        h1 = rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        h2 = rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        bits = np.zeros(m // 8, dtype=np.uint8)
        a = h1.view(np.uint64)
        b = h2.view(np.uint64)
        for i in range(k):
            pos = (a + np.uint64(i) * b) % np.uint64(m)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
        bf = BloomFilter(bits=bits.tobytes(), m=m, k=k)
        assert bf.contains(h1, h2).all()
        # monotonicity: a saturated filter still contains everything
        full = BloomFilter(bits=b"\xff" * (m // 8), m=m, k=k)
        assert full.contains(h1, h2).all()
        # empty filter contains nothing (unless k probes all hit... they
        # can't: no bits are set)
        empty = BloomFilter(bits=b"\x00" * (m // 8), m=m, k=k)
        assert not empty.contains(h1, h2).any()


def test_heavy_hitters_auto_escalates_bounded(spark, monkeypatch):
    """Capacity 64 on 100 distinct values: the first attempt cannot prove
    exactness, the doubled attempt (128 ≥ distinct) covers every row and
    is provably exact — converging in ONE escalation, ≤2 total attempts
    (bounded extra scans), with the correct exact answer."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators import sketches as sk

    df = spark.range(40_000).selectExpr("CAST(pmod(id, 100) AS STRING) AS v")
    attempts = []
    real = sk._heavy_hitters_attempt

    def counting(d, c, k, cap):
        attempts.append(cap)
        return real(d, c, k, cap)

    monkeypatch.setattr(sk, "_heavy_hitters_attempt", counting)
    got = [(r["v"], r["cnt"]) for r in sk.heavy_hitters(df, "v", k=10, max_items_tracked=64).collect()]
    assert len(attempts) <= 2, attempts
    exact = [
        (r["v"], r["cnt"])
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("v"))
        .limit(10)
        .collect()
    ]
    assert got == exact


def test_heavy_hitters_fewer_distinct_than_k(spark):
    """Fewer distinct values than k: the sketch is under capacity, the
    candidates cover every row, and the full (shorter) exact result comes
    back — no spurious 'raise max_items_tracked' error."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import heavy_hitters

    df = spark.range(1_000).selectExpr("CAST(pmod(id, 5) AS STRING) AS v")
    got = [(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", k=10).collect()]
    assert got == [("0", 200), ("1", 200), ("2", 200), ("3", 200), ("4", 200)]


def test_heavy_hitters_empty_frame(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import heavy_hitters

    df = spark.range(0).selectExpr("CAST(id AS STRING) AS v")
    assert heavy_hitters(df, "v", k=5).collect() == []


def test_sharded_bloom_keepset_invariant(spark):
    """Sharding is invisible to correctness: incremental dedup through a
    1-shard, 4-shard and 7-shard filter produces EXACTLY the plain
    anti-join keep-set (bloom routes, the join decides), and no shard
    ever false-negatives a history key."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        bloom_incremental_dedup,
        bloom_membership,
        build_sharded_bloom,
    )

    hist = spark.range(4_000).selectExpr("CAST(id AS STRING) AS k")
    batch = spark.range(3_000, 6_000).selectExpr("CAST(id AS STRING) AS k")
    expect = {r["k"] for r in batch.join(hist, "k", "left_anti").collect()}
    for n_shards in (1, 4, 7):
        sb = build_sharded_bloom(hist, "k", n_shards=n_shards, fp_rate=0.01)
        assert sb.n_shards == n_shards
        got = {
            r["k"]
            for r in bloom_incremental_dedup(hist, batch, "k", bloom=sb).collect()
        }
        assert got == expect, f"n_shards={n_shards}"
        # zero false negatives shard-wise
        misses = (
            bloom_membership(hist, "k", sb).filter(~F.col("_bloom_hit")).count()
        )
        assert misses == 0, f"n_shards={n_shards}"


def test_sharded_bloom_fp_rate_and_shard_sizing(spark):
    """Each shard is sized for n/S keys, so the whole-filter FP rate
    stays near nominal, and per-shard bit arrays are ~1/S of the
    unsharded size (the per-broadcast bound that motivates sharding)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        bloom_membership,
        build_bloom,
        build_sharded_bloom,
    )

    hist = spark.range(20_000).selectExpr("CAST(id AS STRING) AS k")
    sb = build_sharded_bloom(hist, "k", n_shards=8, fp_rate=0.01)
    single = build_bloom(hist, "k", expected_items=20_000, fp_rate=0.01)
    assert max(len(s.bits) for s in sb.shards) < len(single.bits) / 4
    probe = spark.range(1_000_000, 1_050_000).selectExpr("CAST(id AS STRING) AS k")
    fp = bloom_membership(probe, "k", sb).filter(F.col("_bloom_hit")).count()
    assert fp / 50_000 < 0.03  # ~nominal 1%, generous margin


def test_bloom_dedup_persist_scans_batch_once(spark):
    """persist=True: after the first action materializes the cache, a
    SECOND action re-reads the cached flagged frame — zero extra batch
    scans; without persist every action re-scans the batch twice (the
    two membership branches)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        bloom_incremental_dedup,
    )

    hist = spark.range(500).selectExpr("CAST(id AS STRING) AS k")

    def make_counted_batch():
        acc = spark.sparkContext.accumulator(0)

        def tag(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        b = (
            spark.range(400, 900)
            .selectExpr("CAST(id AS STRING) AS k")
            .mapInPandas(tag, "k string")
        )
        return b, acc

    batch, acc = make_counted_batch()
    out = bloom_incremental_dedup(hist, batch, "k", persist=True)
    out.count()
    first = acc.value
    assert first == 500, (
        "persist=True must evaluate the batch ONCE within the first "
        f"action (both union branches read the cache): {first} rows scanned"
    )
    out.count()
    assert acc.value == first, "persisted flagged frame must not re-scan the batch"

    batch2, acc2 = make_counted_batch()
    out2 = bloom_incremental_dedup(hist, batch2, "k", persist=False)
    out2.count()
    base = acc2.value
    out2.count()
    assert acc2.value == 2 * base  # every action re-evaluates both branches


def test_bloom_broadcast_cached_per_digest(spark):
    """Repeated membership calls with equal-content filters reuse ONE
    broadcast (keyed by precomputed digest — no per-call rehash of the
    bits), and stale-application entries are evicted on insert."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators import sketches as sk
    from sustainable_building_energy_benchmarking_pipeline_spark.session import BLOOM_BROADCASTS

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS k")
    bloom = sk.build_bloom(df, "k", expected_items=100)
    clone = sk.BloomFilter(bits=bloom.bits, m=bloom.m, k=bloom.k)
    bc1 = sk._bloom_broadcast(df, bloom)
    bc2 = sk._bloom_broadcast(df, clone)
    assert bc1 is bc2
    app = spark.sparkContext.applicationId
    BLOOM_BROADCASTS.put("deadbeef", object(), app="stopped-app-123")
    sk._bloom_broadcast(df, sk.build_bloom(df.limit(50), "k", expected_items=50))
    assert all(k[0] == app for k in BLOOM_BROADCASTS.keys())
