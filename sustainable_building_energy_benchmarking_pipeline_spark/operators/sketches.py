"""Sketch operators for 100 TB training-data pipelines: a distributed
Bloom filter (the incremental cross-run dedup primitive) and exact heavy
hitters through a mergeable frequent-items sketch.

Scale design:
- The Bloom filter is built with ONE pass over the corpus — per-partition
  bitmaps OR-combined — and shipped as a broadcast of a few MB, so an
  incremental batch can be deduped against billions of historical keys
  without joining the history at all for the (overwhelming) majority of
  definitely-new rows; only bloom-positive rows reach the exact join.
- Heavy hitters uses Spark's built-in ``approx_top_k`` (DataSketches
  frequent-items, JVM-side, mergeable, one shuffle of sketch bytes) for
  candidates, then recounts ONLY the candidate set exactly — never a full
  groupBy over all distinct values.

No equivalent exists in the reference pipeline (its pandas scale never
needs them); these are the engine-native additions for corpus-scale work,
alongside operators/dedup.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    BLOOM_BROADCASTS,
    register_query_cache,
)

# two fixed xxhash64 seeds -> double hashing h_i = h1 + i*h2 (Kirsch &
# Mitzenmacher: k independent-enough probe positions from two hashes)
_SEED_A = 0x51_7CC1B7
_SEED_B = 0x2545F491
# third seed routes keys to shards (independent of the probe hashes so
# shard choice never correlates with bit positions)
_SEED_SHARD = 0x9E37_79B9


@dataclass(frozen=True)
class BloomFilter:
    """Immutable Bloom filter state: ``m`` bits in a packed bytearray,
    ``k`` probes per key. Positions come from Spark-side xxhash64 pairs,
    so build and membership agree across JVM/Python and across runs."""

    bits: bytes
    m: int
    k: int

    @cached_property
    def digest(self) -> str:
        """Stable content digest, computed once — the broadcast-cache key
        (hashing the multi-MB bits on every cache lookup, as the default
        dataclass __hash__ would, is exactly what this avoids)."""
        import hashlib

        return hashlib.sha256(
            self.bits + f":{self.m}:{self.k}".encode()
        ).hexdigest()

    @property
    def fill_ratio(self) -> float:
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        return float(np.unpackbits(arr).sum()) / self.m

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership for arrays of the two base hashes."""
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        m = np.uint64(self.m)
        out = np.ones(len(h1), dtype=bool)
        a = h1.astype(np.int64).view(np.uint64)
        b = h2.astype(np.int64).view(np.uint64)
        for i in range(self.k):
            pos = (a + np.uint64(i) * b) % m
            out &= (arr[(pos >> np.uint64(3)).astype(np.int64)]
                    >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return out


def _hash_pair(col: Column) -> tuple[Column, Column]:
    """The two JVM-side base hashes; strings/ints/binary all hash
    natively. Null keys hash like any other value (a dedicated slot)."""
    return F.xxhash64(col, F.lit(_SEED_A)), F.xxhash64(col, F.lit(_SEED_B))


def bloom_params(expected_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Textbook-optimal (m bits, k probes) for a capacity plan:
    m = -n·ln(p)/ln(2)², k = (m/n)·ln(2); m rounded to whole bytes."""
    n = max(1, expected_items)
    m = max(64, int(math.ceil(-n * math.log(fp_rate) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8  # whole bytes
    k = max(1, round(m / n * math.log(2)))
    return m, k


def bloom_union(a: BloomFilter, b: BloomFilter) -> BloomFilter:
    """OR-merge two filters built with the SAME (m, k) — the incremental
    ledger update: fold a new batch's filter into the running one. Set
    semantics, so re-folding a replayed batch is idempotent."""
    if (a.m, a.k) != (b.m, b.k):
        raise ValueError(
            f"bloom_union needs identical params: ({a.m},{a.k}) vs ({b.m},{b.k})"
        )
    merged = (
        np.frombuffer(a.bits, dtype=np.uint8)
        | np.frombuffer(b.bits, dtype=np.uint8)
    )
    return BloomFilter(bits=merged.tobytes(), m=a.m, k=a.k)


def build_bloom(
    df: DataFrame,
    col: str,
    expected_items: int | None = None,
    fp_rate: float = 0.01,
    tree_combine: bool | None = None,
    params: tuple[int, int] | None = None,
) -> BloomFilter:
    """One-pass distributed Bloom filter over ``df[col]``.

    Sizing: ``bloom_params`` (the textbook optimum), or pass ``params``
    =(m, k) to build union-compatible filters for an incremental ledger
    (``bloom_union`` requires identical params).
    Each partition builds a local m-bit bitmap from JVM-computed hash
    pairs (Python only does vectorized modular arithmetic) and yields
    one binary row; the bitmaps then TREE-combine — an executor-side
    grouped OR reduces P partition bitmaps to ≤64 group bitmaps before
    the driver ORs those — so driver transfer is ≤64·m/8 bytes no
    matter how many input partitions exist (a flat per-partition collect
    would ship P·m/8: gigabytes at 100 TB partition counts). OR is
    associative; add combine levels if 64 groups ever overwhelm one
    executor's task.
    """
    if params is not None:
        m, k = params
    else:
        if expected_items is None:
            expected_items = df.count()
        m, k = bloom_params(expected_items, fp_rate)
    m8 = m // 8
    mm = np.uint64(m)
    kk = k

    h1, h2 = _hash_pair(F.col(col))
    hashed = df.select(h1.alias("_h1"), h2.alias("_h2"))

    def _partition_bitmap(it):
        local = np.zeros(m8, dtype=np.uint8)
        bit_lut = (np.uint8(1) << np.arange(8, dtype=np.uint8))
        for pdf in it:
            a = pdf["_h1"].to_numpy(np.int64).view(np.uint64)
            b = pdf["_h2"].to_numpy(np.int64).view(np.uint64)
            for i in range(kk):
                pos = (a + np.uint64(i) * b) % mm
                np.bitwise_or.at(
                    local,
                    (pos >> np.uint64(3)).astype(np.int64),
                    bit_lut[(pos & np.uint64(7)).astype(np.int64)],
                )
        yield pd.DataFrame({"bits": [local.tobytes()]})

    def _or_group(pdfs):
        acc_ = np.zeros(m8, dtype=np.uint8)
        for pdf in pdfs:
            for b in pdf["bits"]:
                acc_ |= np.frombuffer(b, dtype=np.uint8)
        yield pd.DataFrame({"bits": [acc_.tobytes()]})

    bitmaps = hashed.mapInPandas(_partition_bitmap, "bits binary")
    # partition-count gate: ≤64 partitions → the direct collect ships
    # ≤64 bitmaps and the combine shuffle would only add a stage; beyond
    # that, tree-combine first. The estimate uses the scan's file list +
    # default parallelism — cheap plan metadata. (`.rdd.getNumPartitions`
    # would be exact but under AQE it EXECUTES the upstream shuffle
    # stages to finalize the plan, doubling the pipeline.) Erring low on
    # an exchange-heavy input only costs a bigger direct collect; at
    # genuine cluster scale the file count dominates and gates correctly.
    if tree_combine is None:
        try:
            est_parts = len(hashed.inputFiles())
        except Exception:
            est_parts = 0
        est_parts = max(
            est_parts, df.sparkSession.sparkContext.defaultParallelism
        )
        tree_combine = est_parts > 64
    if tree_combine:
        bitmaps = (
            bitmaps.repartition(64, F.spark_partition_id() % 64)
            .mapInPandas(_or_group, "bits binary")
        )
    parts = bitmaps.collect()
    acc = np.zeros(m8, dtype=np.uint8)
    for row in parts:
        acc |= np.frombuffer(row["bits"], dtype=np.uint8)
    return BloomFilter(bits=acc.tobytes(), m=m, k=k)


@dataclass(frozen=True)
class ShardedBloomFilter:
    """Key-space-sharded Bloom filter — the path past the single-filter
    capacity ceiling (SCALE.md: ~2·10⁹ keys at 1% FP ≈ 2.4 GB of bits,
    beyond comfortable broadcast/driver-transfer size). Keys route to a
    shard by an independent hash (``_SEED_SHARD``), each shard is a
    normal ``BloomFilter`` sized for n/S keys, and membership processes
    a shard-partitioned scan where each task pulls ONLY the broadcasts
    of the shards it actually serves — per-executor filter memory is
    (shards served)·m/S, not m. 10¹⁰ keys at 1% FP with S=64 shards is
    ~190 MB per shard: broadcastable, buildable in one pass."""

    shards: tuple[BloomFilter, ...]

    @property
    def n_shards(self) -> int:
        return len(self.shards)

    @property
    def m_total(self) -> int:
        return sum(s.m for s in self.shards)

    @cached_property
    def digest(self) -> str:
        import hashlib

        return hashlib.sha256(
            "|".join(s.digest for s in self.shards).encode()
        ).hexdigest()


def _shard_col(col: str, n_shards: int) -> Column:
    return F.pmod(F.xxhash64(F.col(col), F.lit(_SEED_SHARD)), F.lit(n_shards))


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    n_shards: int,
    expected_items: int | None = None,
    fp_rate: float = 0.01,
) -> ShardedBloomFilter:
    """One-pass sharded build. The only shuffle moves 24-byte
    (shard, h1, h2) triples — never the keys — partitioned BY SHARD, so
    each build task holds the bitmap(s) of the shard ids that hash into
    its partition (a handful), not all S of them; the grouped OR then
    yields exactly one (shard, bits) row per shard, and the driver
    assembles S filters of m/S bits each. Uniform key hashing balances
    shard fill, so every shard is sized identically for n/S keys —
    over-filled shards only drift the FP rate, never correctness
    (membership stays routing-only, see ``bloom_incremental_dedup``)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if expected_items is None:
        expected_items = df.count()
    per_shard = max(1, math.ceil(max(1, expected_items) / n_shards))
    m = max(64, int(math.ceil(-per_shard * math.log(fp_rate) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / per_shard * math.log(2)))
    m8 = m // 8
    mm = np.uint64(m)
    kk = k
    n_sh = n_shards

    h1, h2 = _hash_pair(F.col(col))
    hashed = df.select(
        _shard_col(col, n_shards).alias("_shard"),
        h1.alias("_h1"),
        h2.alias("_h2"),
    ).repartition(n_shards, "_shard")

    def _partition_bitmaps(it):
        locals_: dict[int, np.ndarray] = {}
        bit_lut = np.uint8(1) << np.arange(8, dtype=np.uint8)
        for pdf in it:
            a = pdf["_h1"].to_numpy(np.int64).view(np.uint64)
            b = pdf["_h2"].to_numpy(np.int64).view(np.uint64)
            sh = pdf["_shard"].to_numpy(np.int64)
            for s in np.unique(sh):
                sel = sh == s
                local = locals_.setdefault(int(s), np.zeros(m8, dtype=np.uint8))
                aa, bb = a[sel], b[sel]
                for i in range(kk):
                    pos = (aa + np.uint64(i) * bb) % mm
                    np.bitwise_or.at(
                        local,
                        (pos >> np.uint64(3)).astype(np.int64),
                        bit_lut[(pos & np.uint64(7)).astype(np.int64)],
                    )
        for s, local in locals_.items():
            yield pd.DataFrame({"shard": [s], "bits": [local.tobytes()]})

    def _or_shard(key, pdf):
        acc_ = np.zeros(m8, dtype=np.uint8)
        for b in pdf["bits"]:
            acc_ |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame({"shard": [key[0]], "bits": [acc_.tobytes()]})

    rows = (
        hashed.mapInPandas(_partition_bitmaps, "shard long, bits binary")
        .groupBy("shard")
        .applyInPandas(_or_shard, "shard long, bits binary")
        .collect()
    )
    by_shard = {int(r["shard"]): r["bits"] for r in rows}
    empty = np.zeros(m8, dtype=np.uint8).tobytes()
    return ShardedBloomFilter(
        shards=tuple(
            BloomFilter(bits=by_shard.get(s, empty), m=m, k=k)
            for s in range(n_sh)
        )
    )


def sharded_bloom_membership(
    df: DataFrame, col: str, sharded: ShardedBloomFilter
) -> DataFrame:
    """``df`` plus ``_bloom_hit`` against a sharded filter. Each shard's
    bits ride their OWN broadcast; rows are repartitioned by shard id
    first, so a task touches only its shards' broadcasts and an executor
    only ever pulls the shards it serves — the per-executor memory bound
    that makes 10¹⁰-key filters feasible. The kernel groups each Arrow
    batch by shard and probes vectorized per group."""
    bcs = [_bloom_broadcast(df, s) for s in sharded.shards]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _member(shard: pd.Series, h1: pd.Series, h2: pd.Series) -> pd.Series:
        sh = shard.to_numpy(np.int64)
        a = h1.to_numpy(np.int64)
        b = h2.to_numpy(np.int64)
        out = np.zeros(len(sh), dtype=bool)
        for s in np.unique(sh):
            bits, m, k = bcs[int(s)].value  # lazy pull: only shards seen
            bf = BloomFilter(bits=bits, m=m, k=k)
            sel = sh == s
            out[sel] = bf.contains(a[sel], b[sel])
        return pd.Series(out)

    a, b = _hash_pair(F.col(col))
    shard = _shard_col(col, sharded.n_shards)
    return (
        df.withColumn("_sbf_shard", shard)
        .repartition(sharded.n_shards, "_sbf_shard")
        .withColumn("_bloom_hit", _member(F.col("_sbf_shard"), a, b))
        .drop("_sbf_shard")
    )


def _bloom_broadcast(df: DataFrame, bloom: BloomFilter):
    """One Spark broadcast per filter content, so repeated membership
    calls in a long-lived session (per-micro-batch incremental dedup)
    reuse ONE broadcast instead of pinning a fresh megabyte-scale copy
    each call. Keyed by the filter's precomputed sha256 digest — an
    O(1) lookup, never re-hashing the multi-MB bits."""
    sc = df.sparkSession.sparkContext
    bc = BLOOM_BROADCASTS.get(bloom.digest, app=sc.applicationId)
    if bc is None:
        bc = BLOOM_BROADCASTS.put(
            bloom.digest, sc.broadcast((bloom.bits, bloom.m, bloom.k)),
            app=sc.applicationId,
        )
    return bc


def bloom_membership(
    df: DataFrame, col: str, bloom: "BloomFilter | ShardedBloomFilter"
) -> DataFrame:
    """``df`` plus a boolean ``_bloom_hit`` column. The filter bytes ride
    a real Spark broadcast (one copy per executor, not per task — and one
    per filter per application, cached, not one per call); the Python
    side is a vectorized Pandas UDF over the two JVM hashes. A
    ``ShardedBloomFilter`` routes through the sharded path (per-shard
    broadcasts, shard-partitioned scan)."""
    if isinstance(bloom, ShardedBloomFilter):
        return sharded_bloom_membership(df, col, bloom)
    bc = _bloom_broadcast(df, bloom)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _member(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits, m, k = bc.value
        bf = BloomFilter(bits=bits, m=m, k=k)
        return pd.Series(bf.contains(h1.to_numpy(np.int64), h2.to_numpy(np.int64)))

    a, b = _hash_pair(F.col(col))
    return df.withColumn("_bloom_hit", _member(a, b))


def bloom_incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    col: str,
    bloom: "BloomFilter | ShardedBloomFilter | None" = None,
    expected_items: int | None = None,
    persist: bool = False,
    cache_out: "list[DataFrame] | None" = None,
) -> DataFrame:
    """EXACT incremental dedup of ``batch`` against ``history`` with a
    Bloom pre-filter: the deterministic keep-set (batch keys absent from
    history) of an anti-join, at a fraction of its cost.

    Shape: bloom-negative rows are DEFINITELY new — no false negatives —
    and skip the join entirely; only the bloom-positive sliver (true
    dups + ~fp_rate of the new rows) is anti-joined against history.
    With 1% FP and a mostly-new batch, the join input shrinks ~100×;
    the history side still prunes/pushes down normally. Result equality
    with the plain anti-join is independent of the filter's FP rate —
    the bloom only routes rows, never decides them.

    Pass a prebuilt ``bloom`` (e.g. maintained across a run ledger) or
    let it build one from ``history``; ``expected_items`` is the filter's
    capacity plan — production incremental dedup knows its history size,
    so passing it skips the sizing count job (over-capacity only lowers
    the FP rate below nominal, never correctness).

    Cost note: the two output branches (definitely-new, verified-new)
    each evaluate the membership subtree, so the batch is scanned twice
    — still the winning trade against anti-joining the FULL batch into
    the history shuffle. ``persist=True`` caches the flagged frame so
    the batch (and the membership UDF) evaluates ONCE across both
    branches and across repeated actions — opt in when the batch is
    expensive to recompute or the result has multiple consumers; the
    cache lives until Spark evicts it or the caller releases it —
    pass ``cache_out=[]`` to receive the cached ancestor and unpersist
    it deterministically (the streaming curation sink does, per
    micro-batch); without a handle the frame registers with
    ``session.register_query_cache`` so ``clear_query_cache()``
    releases it (round-12 — no caller can leak an unreachable persist).

    ``bloom`` may be a ``ShardedBloomFilter`` (see ``build_sharded_bloom``)
    for histories past the single-filter capacity ceiling — the routing/
    exactness contract is identical.
    """
    if bloom is None:
        bloom = build_bloom(history, col, expected_items=expected_items)
    flagged = bloom_membership(batch, col, bloom)
    if persist:
        flagged = flagged.persist()
        if cache_out is not None:
            # hand the cached ancestor to the caller so a long-lived
            # consumer (e.g. the streaming curation sink) can unpersist
            # it per batch instead of leaking one entry per invocation
            cache_out.append(flagged)
        else:
            # no explicit handle requested: register with the session
            # release registry so clear_query_cache() (the bench
            # harness's per-query hygiene) still releases it — callers
            # never leak an unreachable persisted frame (ADVICE r11 #4)
            register_query_cache(flagged)
    definitely_new = flagged.filter(~F.col("_bloom_hit")).drop("_bloom_hit")
    maybe_dup = flagged.filter(F.col("_bloom_hit")).drop("_bloom_hit")
    verified_new = maybe_dup.join(
        history.select(F.col(col)).distinct(), on=col, how="left_anti"
    )
    return definitely_new.unionByName(verified_new)


def _heavy_hitters_attempt(
    df: DataFrame, col: str, k: int, capacity: int
) -> DataFrame | None:
    """One sketch-candidates + exact-recount pass at the given sketch
    ``capacity``. Returns the exact result frame, or None when exactness
    cannot be proven at this capacity (caller escalates)."""
    probe = df.agg(
        F.expr(f"approx_top_k({col}, {capacity}, {capacity})").alias("tk"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    cand_items = [r["item"] for r in (probe["tk"] or [])]
    n_total = probe["n"]
    spark = df.sparkSession
    dtype = dict(df.dtypes)[col]

    # literal-plan result builder (round-12): createDataFrame(list)
    # parallelizes even a 20-row result into defaultParallelism
    # pickled-RDD slices, each launching/claiming a Python worker —
    # measured 0.55 s WARM (2.0 s cold) at 32 cores for 20 rows, over
    # a third of z02's whole wall. A literal explode plans as a JVM
    # local relation: zero Python tasks, zero shuffles (guide §4.1 —
    # eliminate the Python boundary; the values are already driver
    # scalars from the bounded recount).
    def _rows_df(rows):
        if not rows:
            return spark.range(0).select(
                F.lit(None).cast(dtype).alias(col),
                F.lit(None).cast("bigint").alias("cnt"),
            )
        return (
            spark.range(1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(v).cast(dtype).alias(col),
                                F.lit(int(c)).cast("bigint").alias("cnt"),
                            )
                            for v, c in rows
                        ]
                    )
                ).alias("_s")
            )
            .select("_s.*")
        )

    if n_total == 0:
        return _rows_df([])

    # NULL is a real group (approx_top_k tracks it as item=None) but
    # isin() can never match null — recount it via an explicit isNull arm
    non_null = [v for v in cand_items if v is not None]
    cond = F.col(col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) < len(cand_items):
        cond = cond | F.col(col).isNull()
    # full candidate recount (≤ capacity rows — driver-bounded): both the
    # top-k AND the coverage sum come from this one collected list
    rows = (
        df.filter(cond)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    # Spark's ORDER BY cnt DESC, col ASC (nulls first) as a Python key
    ordered = sorted(rows, key=lambda r: (-r["cnt"], r[col] is not None, r[col]))
    covered = sum(r["cnt"] for r in rows) == n_total
    if covered:
        # the candidates account for EVERY row, so no value was ever
        # evicted unseen: the recount is exact even when the column has
        # fewer than k distinct values — return the full (shorter) top
        top = ordered[:k]
    else:
        if len(ordered) < k:
            return None  # sketch couldn't even nominate k candidates
        top = ordered[:k]
        # any value outside the tracked set has true count ≤ ε·N with
        # ε ≈ 3.5/capacity; the k-th exact count must clear that bound
        # to PROVE no omitted value belongs in the top-k
        if top[-1]["cnt"] <= 3.5 * n_total / capacity:
            return None
    return _rows_df([(r[col], r["cnt"]) for r in top]).orderBy(
        F.desc("cnt"), F.asc(col)
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    max_items_tracked: int = 4096,
    max_capacity: int | None = None,
) -> DataFrame:
    """EXACT top-``k`` most frequent values of ``df[col]`` (nulls
    included, like a plain group-by) without a full distinct-value
    aggregation. ``approx_top_k`` (DataSketches frequent-items — one
    pass, mergeable sketch bytes on the shuffle) is asked for its FULL
    tracked set (the capacity, not just k); the candidate set is then
    recounted exactly and the result returned only when exactness is
    PROVEN, one of two ways:

    - coverage: the candidates' exact counts sum to the total row count,
      so nothing was ever evicted — exact even when the column has fewer
      than k distinct values (the full, shorter top is returned);
    - separation: the k-th exact count exceeds the sketch's ε·N error
      bound (ε ≈ 3.5/capacity), so no omitted value can belong in the
      top-k.

    When neither holds, the engine AUTO-ESCALATES: capacity doubles and
    the two-pass probe re-runs, up to ``max_capacity`` (default
    4·max_items_tracked — at most two extra attempts), then raises — the
    guard stays driver-side because in-plan assert_true gets pruned by
    AQE's empty-side join elimination. Output: (value, cnt), count-desc /
    value-asc.

    Scale: two passes per attempt — (sketch + total count) in one
    aggregate job, then a recount scan filtered to the candidate values
    (≤ capacity literals, pushed into the scan); distinct-value
    cardinality never hits a shuffle. The driver holds only the
    candidate recount (≤ capacity rows) and the final k."""
    if max_capacity is None:
        max_capacity = max_items_tracked * 4
    capacity = max_items_tracked
    while True:
        out = _heavy_hitters_attempt(df, col, k, capacity)
        if out is not None:
            return out
        if capacity * 2 > max_capacity:
            raise ValueError(
                f"heavy_hitters: k-th count is within the sketch error "
                f"bound even at capacity {capacity} (ceiling "
                f"{max_capacity}) — the distribution is too flat for a "
                f"provably-exact sketch top-{k}; raise max_capacity or "
                f"use a full groupBy"
            )
        capacity *= 2
