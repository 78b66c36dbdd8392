"""Deduplication operators for training-data pipelines (BASELINE.json
north-star): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup.

Scale design — the whole point of these shapes at 100 TB:
- exact dedup shuffles 32-byte digests, never documents;
- MinHash/LSH shuffles fixed-size signatures; candidate pairs come from
  band-bucket equi-joins (each bucket small), never a global cross join;
- n-gram Jaccard is only ever computed on candidate pairs (LSH buckets) or
  within explicit blocking keys;
- embedding near-dup has a brute-force (exact, oracle-able) form and a
  random-hyperplane-LSH form whose bucket join is the 100 TB path.

Two derived artifacts are reused within a session through the memo
owner in ``session.py``: ``dedup_clusters``' driver-side label maps
(``CLUSTER_LABELS``) and the persisted k-gram frame the ExactSubstr
family shares (``GRAM_FRAMES``). Both are keyed by the input's
canonical plan, its file signature and every knob;
``clear_cluster_label_cache`` / ``clear_gram_frame_cache`` drop them.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
    content_fingerprint,
)
from sustainable_building_energy_benchmarking_pipeline_spark.operators.partitioning import (
    ensure_min_partitions,
    pin_shuffle_width,
)
from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    CLUSTER_LABELS,
    GRAM_FRAMES,
    register_query_cache,
)


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int,
    extra: list | None = None,
) -> DataFrame:
    """(id, *extra, sh: array<bigint>): distinct k-token shingles of the
    lowercased whitespace-tokenized text, each hashed to a stable 64-bit
    int, via ONE vectorized Pandas UDF.

    Why a UDF on a text hot path: the expression form (tokens → per-
    position slice/array_join transform → per-shingle xxhash64) runs
    entirely in interpreted higher-order functions — Spark does not
    codegen lambda bodies — measured 3.5 s for the sf0.1 corpus vs
    ~0.4 s for this Arrow-batched version (the same documented exception
    as simhash64's bit-vote). Hashing is blake2b-8 (process-independent,
    unlike Python's salted str hash — workers must agree on every hash).
    The functions.text expression forms remain for one-off columns.

    Token semantics match ws_tokens / the DuckDB oracles: ASCII ``\\s+``
    split, empties dropped. With ≤10⁴ distinct shingles per doc the
    64-bit collision probability (~n²/2⁶⁵) is negligible, so set sizes
    equal the string-set sizes the oracle computes.

    ``extra`` is a list of (Column, name) pairs carried through. The
    leading ``ensure_min_partitions`` parallelizes the UDF stage when
    the input arrives as a handful of small files (one ~5 MB parquet
    file = one task otherwise) while costing nothing when the corpus
    already has enough partitions (the 100 TB path — no blanket
    shuffle); downstream pair joins reshuffle on their own keys
    anyway."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+", re.ASCII)
    k = shingle_k

    @pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        def hashed(text: str | None) -> list[int]:
            if text is None:
                return []
            toks = [t for t in ws.split(text.strip().lower()) if t]
            if len(toks) >= k:
                shs = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            elif toks:
                shs = {" ".join(toks)}
            else:
                return []
            return [
                int.from_bytes(
                    hashlib.blake2b(s.encode(), digest_size=8).digest(),
                    "big",
                    signed=True,
                )
                for s in shs
            ]

        return pd.Series([hashed(t) for t in texts])

    df = ensure_min_partitions(df)
    return df.select(
        F.col(id_col).alias("id"),
        *[c.alias(name) for c, name in (extra or [])],
        _sh(F.col(text_col)).alias("sh"),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized content fingerprint.

    NULL text has no content to match on: sha2(NULL) is NULL, and an
    unguarded partition key would pool every null-text row into ONE
    window partition — a skewed single task at corpus scale that drops
    all but one of them, deleting distinct (merely text-less) documents.
    Null rows are keyed by their own id instead: unique group ⇒ always
    kept, and the non-hex prefix cannot collide with a real digest."""
    fp = content_fingerprint(F.col(text_col))
    key = F.coalesce(
        fp, F.concat(F.lit("null:"), F.col(id_col).cast("string"))
    )
    return (
        df.withColumn("_fp", key)
        .withColumn("_keep", F.min(id_col).over(Window.partitionBy("_fp")))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _splitmix64(z: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer, vectorized over uint64 (wraparound mult is
    numpy's native mod-2⁶⁴ behavior). A full-avalanche mixer, so
    ``splitmix64(x ^ salt_i)`` is an independent-enough hash family for
    MinHash (each salt permutes the shingle space differently)."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def minhash_band_hashes(
    num_hashes: int = 64, bands: int = 32, seed: int = 42
):
    """Pandas-UDF factory: hashed-shingle array → array of ``bands`` LSH
    band hashes (the per-band hash of r = num_hashes/bands consecutive
    MinHash signature values).

    One vectorized kernel per Arrow batch: (num_hashes × n_shingles)
    salted SplitMix64 matrix → column-min → reshape (bands, r) → fold
    each band with a mix step. The expression-tree form (num_hashes
    array_min/transform arms + ``bands`` slice/array_join/xxhash64
    combines) is interpreted per element — ~14 M lambda evaluations at
    sf0.1 — and dominates the whole near-dup pipeline; this kernel is
    the same documented exception as simhash64's bit-vote. Empty/null
    shingle sets yield NULL (posexplode then drops the row, so shingle-
    less docs never become candidates)."""
    from pyspark.sql.functions import pandas_udf

    assert num_hashes % bands == 0
    r = num_hashes // bands
    rng = np.random.RandomState(seed)
    salts = rng.randint(0, 2**63, size=num_hashes, dtype=np.int64).astype(np.uint64)

    @pandas_udf("array<long>")
    def _bands(sh_arrays: pd.Series) -> pd.Series:
        out: list[list[int] | None] = []
        for hs in sh_arrays:
            if hs is None or len(hs) == 0:
                out.append(None)
                continue
            x = np.asarray(hs, dtype=np.int64).view(np.uint64)
            sig = _splitmix64(x[None, :] ^ salts[:, None]).min(axis=1)  # (num_hashes,)
            band_vals = sig.reshape(bands, r)
            h = band_vals[:, 0]
            for j in range(1, r):
                h = _splitmix64(h ^ band_vals[:, j])
            out.append(h.astype(np.int64).tolist())
        return pd.Series(out)

    return _bands


def _shingle_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    extra: list | None = None,
) -> DataFrame:
    """``_hashed_shingles`` fused with the posting explode into one
    mapInPandas pass: (id, *extra, sz, s) rows leave Python already
    exploded — no JVM Generate over a UDF array output (the z10
    plan-shape lesson; measured ~0.4 s of q32's cost at sf0.1) and no
    list<int64> Arrow assembly. Hashing/tokenization bit-identical to
    ``_hashed_shingles`` (blake2b-8 over ASCII-\\s+ lowercased
    k-grams), with a per-task digest memo. ``sz`` is the document's
    DISTINCT shingle count (the Jaccard denominator piece), repeated on
    each posting so no sizes join is needed downstream. Shingle-less
    docs emit nothing, exactly like exploding an empty array."""
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)
    k = shingle_k
    extra = extra or []
    sel = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"),
        *[c.alias(name) for c, name in extra],
        F.col(text_col).alias("_txt"),
    )
    fields = ["id"] + [name for _, name in extra]
    types = {f: sel.schema[f].dataType.simpleString() for f in fields}
    out_schema = (
        ", ".join(f"{f} {types[f]}" for f in fields) + ", sz int, s long"
    )

    def _emit(batches):
        blake2b = hashlib.blake2b
        memo: dict[str, int] = {}
        for pdf in batches:
            cols: dict[str, list] = {f: [] for f in fields}
            counts: list[int] = []
            flat: list[int] = []
            field_vals = [pdf[f].values for f in fields]
            for text, *fvals in zip(pdf["_txt"].values, *field_vals):
                toks = (
                    [t for t in ws.split(text.strip().lower()) if t]
                    if text is not None
                    else []
                )
                if len(toks) >= k:
                    raw = {
                        " ".join(toks[i : i + k])
                        for i in range(len(toks) - k + 1)
                    }
                elif toks:
                    raw = {" ".join(toks)}
                else:
                    continue
                for s in raw:
                    h = memo.get(s)
                    if h is None:
                        h = int.from_bytes(
                            blake2b(s.encode(), digest_size=8).digest(),
                            "big",
                            signed=True,
                        )
                        memo[s] = h
                    flat.append(h)
                counts.append(len(raw))
                for f, v in zip(fields, fvals):
                    cols[f].append(v)
            if not counts:
                continue
            out = {
                f: np.repeat(np.asarray(cols[f]), counts) for f in fields
            }
            out["sz"] = np.repeat(
                np.asarray(counts, dtype=np.int32), counts
            )
            out["s"] = np.asarray(flat, dtype=np.int64)
            yield pd.DataFrame(out)

    return sel.mapInPandas(_emit, out_schema)


def _hashed_shingles_with_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """``_hashed_shingles`` fused with ``minhash_band_hashes`` into ONE
    mapInPandas pass returning (id, sh, _bh) — the z10 kernel lesson
    applied to MinHash: chaining two pandas UDFs pays two Arrow
    round-trips and two Python dispatches per batch, and the shingle
    stage dominated q33's cost (measured 2.2 s → 1.6 s end-to-end at
    sf0.1). Hashing, tokenization and band folding are BIT-IDENTICAL to
    the unfused helpers (same blake2b-8, same splitmix64 salts), plus a
    per-task shingle-digest memo for boilerplate repeated across
    documents. Shingle-less/NULL docs get sh=[] and _bh=NULL (so
    posexplode drops them from banding, exactly as the unfused band UDF
    does)."""
    import hashlib
    import re

    r = num_hashes // bands
    assert num_hashes % bands == 0
    rng = np.random.RandomState(seed)
    salts = rng.randint(0, 2**63, size=num_hashes, dtype=np.int64).astype(
        np.uint64
    )
    ws = re.compile(r"\s+", re.ASCII)
    k = shingle_k
    id_type = df.schema[id_col].dataType.simpleString()

    def _emit(batches):
        blake2b = hashlib.blake2b
        memo: dict[str, int] = {}
        for pdf in batches:
            ids: list = []
            shs: list = []
            bhs: list = []
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                toks = (
                    [t for t in ws.split(text.strip().lower()) if t]
                    if text is not None
                    else []
                )
                if len(toks) >= k:
                    raw = {
                        " ".join(toks[i : i + k])
                        for i in range(len(toks) - k + 1)
                    }
                elif toks:
                    raw = {" ".join(toks)}
                else:
                    ids.append(doc_id)
                    shs.append([])
                    bhs.append(None)
                    continue
                sh = []
                for s in raw:
                    h = memo.get(s)
                    if h is None:
                        h = int.from_bytes(
                            blake2b(s.encode(), digest_size=8).digest(),
                            "big",
                            signed=True,
                        )
                        memo[s] = h
                    sh.append(h)
                x = np.asarray(sh, dtype=np.int64).view(np.uint64)
                sig = _splitmix64(x[None, :] ^ salts[:, None]).min(axis=1)
                band_vals = sig.reshape(bands, r)
                bh = band_vals[:, 0]
                for j in range(1, r):
                    bh = _splitmix64(bh ^ band_vals[:, j])
                ids.append(doc_id)
                shs.append(sorted(sh))
                bhs.append(bh.astype(np.int64).tolist())
            yield pd.DataFrame(
                {"id": np.asarray(ids), "sh": shs, "_bh": bhs}
            )

    return ensure_min_partitions(df).select(id_col, text_col).mapInPandas(
        _emit, f"id {id_type}, sh array<long>, _bh array<long>"
    )


def _chunked_bucket(xs_col: str, cap: int):
    """Bound quadratic pair emission from one LSH bucket: above ``cap``
    members, split the collected array into overlapping windows of size
    ``cap`` with stride ``cap - 1`` (consecutive windows share one
    element). Pair mass drops from O(n²) to O(n·cap) per bucket while
    the shared element keeps every window TRANSITIVELY connected — so
    connected-components clustering still merges the whole bucket into
    one cluster, and "has ≥1 duplicate partner" recall is preserved.
    Only pair-granular recall is reduced: two docs ≥cap apart in the
    sorted bucket emit no direct pair from this bucket, and for
    IDENTICAL documents every band produces the same bucket with the
    same deterministic windows, so such a pair is dropped in every band
    — above-cap duplicate clusters therefore lose pair-exactness (the
    clustering/dedup outcome is unchanged; q33's exact-oracle claim is
    scoped to corpora whose clusters fit the cap). Adversarial
    mega-buckets (constant boilerplate corpus) are exactly the case
    where member identity within the bucket is interchangeable, so the
    loss is benign for every dedup decision the engine makes.

    Returns an array<array<...>> column of windows (a single window for
    buckets at or under the cap). Because consecutive windows share
    exactly ONE element, no pair can appear in two windows of the same
    bucket (a pair would need both members shared), so per-band pair
    multiplicity is unchanged — the ``min_band_collisions`` counting
    mode stays correct."""
    if cap < 2:
        # cap-1 is the stride divisor; cap<2 would NULL the sequence and
        # explode() would silently drop every over-cap bucket's pairs
        raise ValueError(f"bucket cap must be >= 2, got {cap}")
    n = F.size(xs_col)
    k_last = F.floor((n - F.lit(2)) / F.lit(cap - 1)).cast("int")
    return F.when(n <= cap, F.array(F.col(xs_col))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k_last),
            lambda i: F.slice(F.col(xs_col), i * (cap - 1) + 1, cap),
        )
    )


def _lsh_candidates_from_shingles(
    hs_df: DataFrame, num_hashes: int, bands: int, seed: int,
    min_band_collisions: int = 1, bucket_cap: int = 256,
) -> DataFrame:
    """Distinct (id_a < id_b) band-collision pairs from a hashed-shingle
    DataFrame (``_hashed_shingles`` output).

    ``min_band_collisions`` > 1 turns the candidate rule into collision
    *counting*: a pair qualifies only when it agrees on that many bands.
    With single-hash bands (r = 1) this is the cheap high-recall shape —
    requiring ≥2 of b matches keeps P(candidate) ≈ 1 for true pairs
    (1 − (1−J)^b − bJ(1−J)^(b−1), e.g. ≥0.99999 at J = 0.2, b = 64)
    while dropping the one-off chance collisions that dominate r = 1's
    false-candidate mass before the expensive exact-Jaccard verify.
    The count filter rides the same aggregation that deduped pairs
    anyway, so it costs no extra shuffle.

    Pairs are emitted bucket-grouped (groupBy band → collect id list →
    explode²) rather than via a banded self-join: one shuffle of the
    exploded band table instead of two sorted copies, and singleton
    buckets — the overwhelming majority — drop before any pair work
    (measured ~2× the SMJ form at sf0.1). The collected array is one id
    per bucket member (8 bytes each), so even a pathological million-doc
    bucket is an 8 MB row; the quadratic pair mass is then bounded by
    ``bucket_cap`` — buckets above the cap are chunk-split into
    overlapping windows (see _chunked_bucket) so one adversarial
    mega-bucket emits O(n·cap) pairs, not O(n²), while staying one
    connected component for clustering."""
    band_udf = minhash_band_hashes(num_hashes, bands, seed)
    banded = hs_df.select("id", band_udf(F.col("sh")).alias("_bh")).select(
        "id", F.posexplode("_bh").alias("band_idx", "band_hash")
    )
    return _lsh_candidates_from_banded(banded, min_band_collisions, bucket_cap)


def _lsh_candidates_from_banded(
    banded: DataFrame, min_band_collisions: int = 1, bucket_cap: int = 256
) -> DataFrame:
    """Bucket-grouped pair emission from an exploded (id, band_idx,
    band_hash) frame — the shared tail of ``_lsh_candidates_from_shingles``
    split out so callers that already carry band hashes on a combined
    shingle frame (``minhash_near_duplicates``'s single-shot posture)
    skip the second band-UDF evaluation."""
    # pin_shuffle_width: the bucket stage's cost is pair EMISSION
    # (explode² over collected buckets), not the few bytes of band
    # hashes — size-first coalescing would run every bucket's pair
    # blow-up in one task (A/B at sf0.1: q33 min 1.64 s pinned vs
    # 1.88 s coalesced, median 1.83 vs 2.30).
    pairs = (
        pin_shuffle_width(banded, "band_idx", "band_hash")
        .groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("xs"))
        .filter(F.size("xs") > 1)
        .select(F.explode(_chunked_bucket("xs", bucket_cap)).alias("w"))
        .select(F.explode("w").alias("id_a"), "w")
        .select("id_a", F.explode("w").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if min_band_collisions <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_nc"))
        .filter(F.col("_nc") >= min_band_collisions)
        .drop("_nc")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    bucket_cap: int = 256,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    hashed shingles → ``bands`` band hashes (one vectorized UDF, see
    minhash_band_hashes) → posexplode → self-join on (band_idx,
    band_hash). Returns distinct (id_a < id_b) candidate pairs. Two
    documents collide in some band with probability 1−(1−J^r)^b (the
    classic S-curve). Default 32 bands × r=2 gives ≈100% recall at
    J≥0.5; the exact-Jaccard verify step removes the extra false
    candidates r=2 admits. Buckets above ``bucket_cap`` members are
    chunk-split (see _chunked_bucket) so adversarial mega-buckets emit
    O(n·cap) pairs instead of O(n²).
    """
    hs_df = _hashed_shingles(df, text_col, id_col, shingle_k)
    return _lsh_candidates_from_shingles(
        hs_df, num_hashes, bands, seed, bucket_cap=bucket_cap
    )


def _jaccard_of_pairs_from_shingles(
    pairs: DataFrame, sh: DataFrame, broadcast_shingles: bool = False
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs given a hashed-
    shingle DataFrame: |∩|/|∪| via array expressions (array_intersect/
    union on 8-byte ints — JVM-native, no lambdas — beats string sets
    ~4×; the bigint collision probability is negligible, so counts equal
    the string-set counts the oracle computes).

    ``broadcast_shingles`` replaces the two sort-merge pair joins with
    broadcast-hash joins — right for corpora whose shingle frame fits on
    the driver (the join keys are doc ids; SMJ sorts the full candidate
    set twice otherwise). Large corpora keep the default shuffled join."""
    sh_a = sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"})
    sh_b = sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"})
    if broadcast_shingles:
        sh_a, sh_b = F.broadcast(sh_a), F.broadcast(sh_b)
    out = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    )


def jaccard_of_pairs(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify step
    after LSH), recomputing shingles from the documents. When the caller
    already holds the hashed-shingle frame, prefer the shared-scan path
    (see minhash_near_duplicates)."""
    sh = _hashed_shingles(docs, text_col, id_col, shingle_k)
    return _jaccard_of_pairs_from_shingles(pairs, sh)


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    min_band_collisions: int = 1,
    persist_shingles: bool = True,
    broadcast_max_docs: int = 50_000,
    bucket_cap: int = 256,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard
    verify → pairs ≥ threshold. Output: (id_a, id_b, jaccard).

    Both postures start from ONE fused kernel pass
    (``_hashed_shingles_with_bands``: tokenize + shingle-hash + band
    fold in a single Arrow batch — two chained pandas UDFs measured
    ~0.6 s slower at sf0.1).

    ``persist_shingles`` picks the execution posture. True (default, the
    reuse/cluster posture): the combined frame — feeding the banding and
    both verify sides — is persisted (MEMORY_AND_DISK) and materialized
    with one count, so the kernel runs once instead of once per
    consumer branch, and the count doubles as the corpus-size probe:
    small corpora (≤ ``broadcast_max_docs``) get broadcast-hash verify
    joins instead of two sort-merge shuffles of the candidate set.
    False: same persist + barrier, but the verify joins stay shuffled
    unconditionally (no sizing probe, no broadcast builds) — the fixed
    100 TB join shape for callers that pin it.

    Round-12, why the persist carries an EAGER count() barrier in BOTH
    postures: the kernel output feeds three differently-partitioned
    consumers (the band exchange and the two verify sides), and
    per-branch column pruning makes their exchange subtrees
    non-identical, so ReuseExchange can never unify them — without a
    materialization the Python kernel map stage runs once per branch
    (2.29 s → measured THREE concurrent kernel executions, 17.4 + 12.4
    + 7.5 s task CPU at sf0.1, because AQE launches all ready query
    stages in parallel and each races the still-cold cache). A LAZY
    persist does not fix the race — concurrent stages find partitions
    uncached and recompute them side by side — so the cache must be
    populated BEFORE the consumers fork; count() on the freshly cached
    frame is one fully-parallel job and its post-cache re-reads are
    columnar-batch row counts (near-free). A/B at sf0.1, min-of-5:
    q33 1.94 s barrier vs 2.29 s lazy-persist vs 2.04 s unpersisted
    (double kernel); q50 2.13 s vs 2.4-2.7 s. At corpus scale the
    materialization is ~8 B/shingle + 8 B/band per doc to executor
    memory/disk — the signatures table every published MinHash recipe
    pays, strictly cheaper than tokenizing and hashing the corpus once
    per consumer. The handle is registered for deterministic release."""
    combined = _hashed_shingles_with_bands(
        df, text_col, id_col, shingle_k, num_hashes, bands, seed
    )
    use_broadcast = False
    from pyspark import StorageLevel

    combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
    register_query_cache(combined)  # outlives the call: release handle
    if persist_shingles:
        use_broadcast = combined.count() <= broadcast_max_docs
    else:
        combined.count()  # barrier only: materialize before AQE forks
    banded = combined.select(
        "id", F.posexplode("_bh").alias("band_idx", "band_hash")
    )
    cands = _lsh_candidates_from_banded(banded, min_band_collisions, bucket_cap)
    sh = combined.select("id", "sh")
    if not persist_shingles:
        sh = sh.hint("merge")
    return _jaccard_of_pairs_from_shingles(
        cands, sh, broadcast_shingles=use_broadcast
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard with explicit blocking (exact, oracle-able)
# ---------------------------------------------------------------------------

def blocked_jaccard_pairs(
    df: DataFrame,
    block_cols: list[Column],
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs within the same blocking key,
    computed with an inverted index instead of a pair join.

    Shape: explode (id, shingle) postings → self-join on (block, shingle)
    → count co-occurrences per pair (= |∩|) → |∪| = |A|+|B|−|∩|. Work is
    Σ_s c_s² over posting-list sizes — near-linear when shingles are
    mostly unique — versus the pair join's Σ_blk n_blk² full array
    intersections, and it parallelizes on the (block, shingle) shuffle
    key rather than one task per block. This is the 100 TB shape; the
    blocking key still bounds the worst-case posting blowup.

    Deterministic (no LSH), so it serves as the SQL-oracle-able dedup
    query. Only pairs sharing ≥1 shingle surface, hence the
    ``threshold > 0`` requirement (zero-overlap pairs have Jaccard 0).
    Shingle strings are xxhash64-hashed to bigint first — posting joins
    on 8-byte ints; with ≤10⁴ distinct shingles per doc the 64-bit
    collision probability is negligible, so counts equal the string-set
    oracle's.
    """
    assert threshold > 0.0, "inverted-index Jaccard only surfaces overlapping pairs"
    blk = [f"_blk{i}" for i in range(len(block_cols))]
    postings = _shingle_postings(
        df, text_col, id_col, shingle_k,
        extra=[(c, f"_blk{i}") for i, c in enumerate(block_cols)],
    )
    # merge-hint the self-join: at toy SF the planner picks broadcast
    # (postings fit), but that re-runs the Python shingle pipeline for
    # the build side — broadcast is only free when the build input is
    # cheap to recompute. The shuffle form lets AQE reuse the one
    # shuffled posting stage for both sides (A/B at sf0.1: 1.69 s vs
    # 2.03 s), and is the only shape that exists at 100 TB anyway.
    # pin_shuffle_width: the reduce side of this shuffle emits Σc²
    # posting-pair rows per gram — CPU per byte far above scan work, so
    # size-first AQE coalescing serializes it (measured 1.5 s single
    # task at sf0.1); the explicit width rides the same single reused
    # exchange.
    postings = pin_shuffle_width(postings, "s", *blk)
    a = postings.hint("merge").alias("a")
    b = postings.hint("merge").alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (F.col("a.s") == F.col("b.s"))
    for c in blk:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.count(F.lit(1)).cast("int")
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(inter.alias("inter"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    _slab: int = 1 << 17,
) -> DataFrame:
    """64-bit SimHash per document: JVM-side token hashing (sha2-256 via
    transform — codegen, no Python string work; the leading 64 bits of
    the digest are the token hash), then a vectorized Pandas UDF for the
    64-lane bit-vote accumulation.

    sha256 rather than xxhash64 so the signature is *cross-engine
    reproducible*: every SQL engine exposes sha256 with identical output,
    which makes the whole operator differentially testable (Q34_SQL
    recomputes the exact signatures in DuckDB) — xxhash64's seeded
    variant is Spark-specific. The extra hash cost is immaterial next to
    tokenization, and candidate recall is pigeonhole-exact regardless of
    the hash family.

    The bit-vote is a dense (n_tokens × 64) NumPy matrix op — the
    documented exception to the no-Python-hot-path rule (Arrow batch of
    hex-prefix arrays in, per-row matrix math, no per-character Python).
    Output: (id, simhash bigint).
    """
    from pyspark.sql.functions import pandas_udf

    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import ws_tokens

    @pandas_udf("long")
    def _bit_vote(hex_arrays: pd.Series) -> pd.Series:
        # whole-batch vectorization — no per-token Python: decode ALL hex
        # prefixes via an ASCII nibble LUT, build one (total_tokens × 64)
        # ±1 matrix, and segment-sum per document with np.add.reduceat
        # (zero-token docs are excluded from the offsets list — reduceat
        # returns x[i], not 0, for empty segments)
        n = len(hex_arrays)
        out = np.zeros(n, dtype=np.int64)
        lens = np.array(
            [0 if hs is None else len(hs) for hs in hex_arrays], dtype=np.int64
        )
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = "".join(
            h for hs in hex_arrays if hs is not None and len(hs) for h in hs
        )
        ascii_mat = np.frombuffer(flat.encode("ascii"), dtype=np.uint8).reshape(
            total, 16
        )
        lut = np.zeros(256, dtype=np.uint64)
        for v, c in enumerate(b"0123456789abcdef"):
            lut[c] = v
        nibbles = lut[ascii_mat]  # (total, 16)
        shifts = (np.uint64(4) * np.arange(15, -1, -1, dtype=np.uint64))[None, :]
        hashes = (nibbles << shifts).sum(axis=1, dtype=np.uint64)  # (total,)
        nz = lens > 0
        n_nz = int(nz.sum())
        # doc start offsets into the flat token axis (strictly increasing
        # since nz docs have >=1 token); bounds[i] = first token of doc i
        bounds = np.zeros(n_nz + 1, dtype=np.int64)
        np.cumsum(lens[nz], out=bounds[1:])
        # bit-expand in fixed-size token slabs: the whole-batch (total, 64)
        # ±1 matrix is ~12 B × 64 per token — a 10k-row batch of ~1k-token
        # docs would transiently allocate multiple GB in one worker. Each
        # slab's per-doc partial sums (np.add.reduceat over slab-local doc
        # starts) accumulate into the votes matrix, so peak extra memory is
        # bounded by the slab (~100 MB) regardless of batch shape.
        votes = np.zeros((n_nz, 64), dtype=np.int64)
        lanes = np.arange(64, dtype=np.uint64)
        slab = _slab  # parameterized so tests can force slab-boundary crossings
        for s in range(0, int(total), slab):
            e = min(int(total), s + slab)
            pm = (
                2 * ((hashes[s:e, None] >> lanes) & np.uint64(1)).astype(np.int32)
                - 1
            )  # (slab, 64) of ±1
            first = int(np.searchsorted(bounds, s, side="right")) - 1
            last = int(np.searchsorted(bounds, e, side="left")) - 1
            local = np.maximum(bounds[first : last + 1], s) - s
            votes[first : last + 1] += np.add.reduceat(pm, local, axis=0)
        powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sims = ((votes > 0).astype(np.uint64) * powers[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[nz] = sims.view(np.int64)  # two's-complement reinterpret
        return pd.Series(out)

    tok_hashes = F.transform(
        ws_tokens(F.lower(F.col(text_col))),
        lambda t: F.substring(F.sha2(t, 256), 1, 16),
    )
    # round-robin only when under-partitioned: single-file corpora
    # otherwise run the tokenize + UDF stages in one task (see
    # _hashed_shingles); already-partitioned corpora pay no shuffle
    return ensure_min_partitions(df).select(
        F.col(id_col).alias("id"), _bit_vote(tok_hashes).alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup: pairs within ``max_hamming`` bits.

    Banding trick for scale: split the 64-bit hash into (max_hamming+1)
    chunks — any pair within max_hamming bits agrees exactly on ≥1 chunk
    (pigeonhole), so candidates come from chunk equi-joins, then the exact
    Hamming distance (bit_count of xor) filters.
    """
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    sigs = simhash64(df, text_col, id_col)
    # one parsed expression instead of a 2·n_chunks-call Column loop:
    # the plan carries the bit-vote UDF closure, so EVERY chained
    # Dataset op pays ~40-90 ms of eager analysis over it (the q36/q40
    # driver-boundary lesson) — fewer ops and fewer py4j round trips
    # are the same lever here
    mask = (1 << chunk_bits) - 1
    chunk_arr = ", ".join(
        f"shiftrightunsigned(simhash, {i * chunk_bits}) & {mask}L"
        for i in range(n_chunks)
    )
    chunks = sigs.selectExpr(
        "id",
        "simhash",
        f"posexplode(array({chunk_arr})) AS (chunk_idx, chunk_val)",
    )
    # bucket-grouped pair emission instead of a self-join: one aggregation
    # computes the (Pandas-UDF) signatures once — a self-join would run
    # the whole signature pipeline per side — and buckets with a single
    # member (the overwhelming majority) drop before any pair work.
    # Normal bucket sizes track duplicate-cluster size; adversarial
    # mega-buckets (e.g. a constant boilerplate corpus collapsing one
    # chunk value) are bounded by the same overlapping chunk-split as
    # the MinHash path (_chunked_bucket): O(n·cap) pairs, still one
    # connected component. sort_array makes window membership
    # deterministic (collect_list order is partition-order-dependent).
    # round-12 A/B: pinning the bucket exchange width here (the q33
    # pattern) measured 1.61 → 2.17 s min-of-5 — q34's per-bucket pair
    # mass is far lighter than MinHash banding's, so the fixed width
    # only buys scheduling overhead. Left to AQE sizing.
    buckets = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("xs"))
        .filter(F.size("xs") > 1)
        .select(F.explode(_chunked_bucket("xs", 256)).alias("xs"))
    )
    # i<j pair expansion in ONE parsed expression (the z10 form) instead
    # of double-explode + filter — 4 chained ops fewer on a UDF-bearing
    # plan (build-cost lever, see above), same pair set: xs is
    # sort_array'ed and ids are unique within a bucket, so slice(i+2..)
    # enumerates exactly the x.id < y.id cross pairs the old
    # explode²+filter form produced
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, (a, i) -> "
                    "transform(slice(xs, i + 2, size(xs) - i - 1), "
                    "b -> struct(a.id AS id_a, b.id AS id_b, "
                    "a.simhash AS sh_a, b.simhash AS sh_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()  # same pair can collide in several chunks
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs (brute force, oracle-able). Quadratic
    by definition — but distributed as a block matmul, not a row-pair
    join: see operators.similarity.allpairs_cosine for the shape (per-
    task memory bounded by block size, BLAS inner loop, ~6× faster than
    the expression-per-pair join at sf0.1). The LSH paths are the
    sub-quadratic alternatives when approximation is acceptable."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        allpairs_cosine,
    )

    return allpairs_cosine(df, threshold, id_col=id_col, vec_col=vec_col)


# Float budget for one semdedup sims block (~128 MB of float64): the
# triangular-chunk kernel sizes each matmul so chunk·left_width stays
# under this, bounding executor memory independent of cluster size.
SEMDEDUP_BLOCK_FLOATS = 16_000_000


def _semdedup_chunk(s: int, n: int, budget: int) -> int:
    """Rows [s, s+chunk) of a cluster multiply against rows [0, s+chunk),
    so the sims block is chunk×(s+chunk) floats. Solve
    ``chunk*(s+chunk) <= budget`` — the positive root of
    c² + s·c − budget = 0 — so the block honors the budget at EVERY
    iteration, including the first (small s, mega cluster), where an
    s-only divisor would have allowed a ~(budget/2)² block and an
    executor OOM on a 100k-row cluster."""
    return max(1, min(n - s, (math.isqrt(s * s + 4 * budget) - s) // 2))


def _semdedup_auto_k(n: int) -> int:
    """The derived cluster count when the caller does not pass one:
    K = max(8, ceil(n / 10⁴)) — the paper's ~10⁴-rows-per-cluster
    regime, floored at 8 so tiny corpora keep useful granularity. This
    bounds the per-cluster quadratic FLOP term AND the one-task
    normalized-matrix footprint (O(n/K · dim)) as the corpus grows;
    the triangular chunking bounds sims-block memory regardless."""
    return max(8, -(-n // 10_000))


def semdedup_prune(
    df: DataFrame,
    threshold: float = 0.35,
    n_clusters: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_mod: int = 13,
    seed_residue: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every item that is cosine-similar (≥ ``threshold``) to
    an EARLIER item — semantically-redundant data prunes at a fraction
    of the all-pairs cost because the quadratic term is confined to
    clusters.

    Deterministic, oracle-able variant of the paper's recipe:
    - centroids = the ``n_clusters`` smallest ids with
      ``id % seed_mod == seed_residue`` (a fixed k-means E-step stand-in
      — fully reproducible cross-engine, where Lloyd's iterations would
      make the oracle chase float convergence);
    - assignment = argmax centroid cosine, rounded to 6 dp with ties to
      the smallest cluster id (the rounding absorbs last-ulp summation
      differences between engines);
    - prune rule = EXISTS an earlier same-cluster item with cosine ≥
      threshold. This is the set-expressible (anti-monotone) variant of
      the paper's keep-one-per-neighborhood: unlike the greedy chain
      (whose keep decisions depend on earlier keep decisions and resist
      SQL), it is order-free, so the DuckDB oracle is exact. It prunes
      a superset of the greedy rule, which is the conservative
      direction for dedup.

    Scale shape (100 TB): assignment is a pure MAP — the centroids are
    plan literals, no join, no shuffle; the per-cluster pair stage is
    one groupBy(cluster) + BLAS block matmul (same kernel family as
    ``allpairs_cosine``). The matmul is TRIANGULAR-CHUNKED under a fixed
    float budget (``SEMDEDUP_BLOCK_FLOATS``): per-task memory is
    O(cluster·dim) for the normalized matrix plus O(budget) for each
    sims block — never (cluster size)², so an adversarial mega-cluster
    degrades to more matmul passes instead of an executor OOM.
    ``n_clusters=None`` (default, round-10) AUTO-DERIVES
    K = max(8, ceil(n/10⁴)) from one cheap count — the paper's
    cluster-size regime — so a grown corpus cannot silently concentrate
    into 8 mega-clusters; the derivation happens BEFORE seed selection,
    so the centroid rule stays deterministic and oracle-replayable.
    Passing an explicit ``n_clusters`` pins K (the caller owns the
    cluster-size contract then).

    Returns the KEPT rows: (``id_col`` long, cluster int), one row per
    surviving item."""
    from pyspark.sql import types as T

    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_v"),
    )
    if n_clusters is None:
        n_clusters = _semdedup_auto_k(base.count())
    seeds = sorted(
        base.where(F.pmod(F.col("_id"), F.lit(seed_mod)) == seed_residue)
        .orderBy("_id")
        .limit(n_clusters)
        .collect(),  # ≤ n_clusters rows — centroid literals by design
        key=lambda r: r["_id"],
    )
    if not seeds:
        raise ValueError(
            f"no centroid seeds: no {id_col} with {id_col} % {seed_mod} "
            f"== {seed_residue}"
        )

    # argmax over per-centroid cosines as ONE Arrow kernel (round-12):
    # the former expression form built K centroid-literal cosine trees
    # per row — with the interpreted HOF dot that is ~K·dim lambda
    # evaluations per row, and unrolled it is a K·dim-term tree whose
    # Catalyst analysis alone costs seconds per invocation (the
    # brute_force_topk_kernel lesson, ×K). The kernel scores each Arrow
    # batch as one (n × dim) @ (dim × K) BLAS matmul — still a pure map,
    # no join/shuffle anywhere in the assignment (centroids ride the
    # closure). Semantics preserved exactly: cosine with the shared
    # zero-norm→1.0 convention, HALF_UP rounding to 6 dp (copysign/floor
    # — same decimal Spark's ROUND and the DuckDB oracle apply), ties to
    # the smallest cluster id (np.argmax returns the FIRST maximum).
    # Measured at sf0.1: z15 wall 2.02 s → driver-bound analysis gone
    # (see OPTIMIZATION_r12.md).
    from pyspark.sql.functions import pandas_udf

    cmat = np.vstack([np.asarray(r["_v"], dtype=np.float64) for r in seeds])
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        sims = (mat @ cmat.T) / (vn[:, None] * cnorm[None, :])
        r6 = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
        return pd.Series(np.argmax(r6, axis=1).astype(np.int32))

    assigned = base.withColumn("cluster", _assign(F.col("_v")))

    kept_schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("cluster", T.IntegerType(), False),
        ]
    )

    def _kept_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        mat = mat[order]
        n = len(ids)
        # item j prunes iff ANY earlier item i<j (id order) has cos >= τ.
        # Triangular chunks under a fixed float budget: rows [s, e) only
        # ever multiply against rows [0, e), and the chunk height shrinks
        # as the left side grows, so the sims block never exceeds the
        # budget no matter the cluster size.
        hit = np.zeros(n, dtype=bool)
        s = 1
        while s < n:
            chunk = _semdedup_chunk(s, n, SEMDEDUP_BLOCK_FLOATS)
            e = s + chunk
            sims = mat[s:e] @ mat[:e].T  # (chunk, e) <= budget floats
            block = sims >= threshold
            # strict lower triangle relative to global indexes: row
            # s+r may only see columns < s+r
            cols = np.arange(e)
            rows = np.arange(s, e)
            block &= cols[None, :] < rows[:, None]
            hit[s:e] = block.any(axis=1)
            s = e
        # the kernel has both survivors and their cluster — returning
        # KEPT rows directly saves the corpus-wide anti-join shuffle
        # the pruned-ids form needed (one exchange instead of three)
        return pd.DataFrame({"_id": ids[~hit], "cluster": int(key[0])})

    return (
        assigned.groupBy("cluster")
        .applyInPandas(_kept_block, kept_schema)
        .select(F.col("_id").alias(id_col), "cluster")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components + representative selection
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``, where
    ``component`` is the MIN id reachable through the pair graph — the
    deterministic cluster label dedup pipelines key on.

    Iterative min-label propagation (the GraphFrames-free shape) with
    POINTER JUMPING: each round (a) joins current labels across edges
    and keeps the minimum of a node's own label and its neighbors', then
    (b) shortcuts ``component ← label(component)`` — every label is
    itself a node id, so one extra self-join halves label-chain depth.
    One-hop propagation alone needs diameter rounds, and this operator's
    only over-gate caller feeds it exactly the high-diameter regime:
    ``_chunked_bucket`` turns a mega-bucket into a CHAIN of overlapping
    windows whose diameter is bucket_size/cap — far past any fixed round
    cap. With the shortcut, convergence is O(log diameter) rounds
    (≤ ``max_iterations`` = 20 covers diameters past 10⁶), and the loop
    RAISES instead of silently returning fragmented labels (a split
    cluster keeps multiple "representatives" = under-deduplication) if
    the cap is somehow still hit. Each round is two joins + one
    aggregate shuffle on the node id; ``localCheckpoint`` truncates the
    lineage so round N's plan does not replay rounds 1..N-1 (the classic
    iterative-DataFrame blowup). The convergence probe rides the SAME
    aggregate (max(changed) — no separate scan): labels only ever
    decrease, and a fixpoint of the neighbor-min step means every edge
    joins two equal labels — per-component uniform, hence converged.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .persist()
    )
    labels = edges.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("component")
    ).localCheckpoint()

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("_nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["u"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("_nmin"), F.col("component"))
                    < F.col("component")
                ).cast("int").alias("_chg"),
            )
            .localCheckpoint()  # materializes; truncates lineage
        )
        changed = updated.agg(F.max("_chg")).first()[0]
        labels = updated.drop("_chg")
        if not changed:
            converged = True
            break
        # pointer jump: component ← label(component). Labels are node
        # ids, so the lookup always hits; labels are monotone
        # non-increasing, so this never overshoots the component min —
        # it only collapses label chains, turning O(diameter) rounds
        # into O(log diameter).
        jump = labels.select(
            F.col("id").alias("_jid"), F.col("component").alias("_jc")
        )
        labels = (
            labels.join(jump, labels["component"] == F.col("_jid"), "left")
            .select(
                "id",
                F.coalesce(F.col("_jc"), F.col("component")).alias("component"),
            )
            .localCheckpoint()
        )
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "rounds — with pointer jumping that needs a component diameter "
            "past ~2^max_iterations; raise max_iterations (or investigate "
            "the pair graph: this regime means a pathological label chain)"
        )
    return labels


def _union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with path compression: min-id label per
    node. For the pair counts near-dup graphs actually produce (pairs ≪
    corpus), this is microseconds where the distributed loop is jobs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the representative
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def clear_cluster_label_cache() -> None:
    """Drop every memoized cluster label map. Call after mutating the
    files a cached clustering was computed from in a way the file
    listing cannot see (plain rewrites already change the input
    signature in the key) — same contract as un-caching a table Spark
    has cached."""
    CLUSTER_LABELS.clear()


def clear_gram_frame_cache() -> None:
    """Unpersist and drop every memoized gram frame."""
    GRAM_FRAMES.clear()


def _shared_gram_frame(
    corpus: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """The persisted (doc_id, p, h) positional k-gram-hash frame both
    ExactSubstr operators consume — memoized so detect (z18) and cut
    (z19) over the same corpus pay the tokenize + hash explode once per
    session, not once per operator."""
    from pyspark import StorageLevel

    fp = _plan_fingerprint(corpus)
    # the input signature makes an in-place rewrite of the files a miss
    key = (fp, _input_signature(corpus), k, text_col, id_col)
    app = corpus.sparkSession.sparkContext.applicationId
    frame = GRAM_FRAMES.get(key, app=app) if fp is not None else None
    if frame is not None:
        if frame.storageLevel == StorageLevel.NONE:
            # externally un-cached (clearCache): re-arm — the lineage
            # is intact, the next action refills
            frame.persist(StorageLevel.MEMORY_AND_DISK)
        return frame
    grams = _pos_gram_hashes(_ws_words(corpus, text_col, id_col), k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # eager barrier (round-12, the minhash lesson): the consumers fork
    # into differently-keyed exchanges (docs-per-gram aggregate + the
    # join back), and AQE materializes both query stages in parallel —
    # a lazily-persisted frame gets its cold partitions computed once
    # PER RACER. One count() populates the cache before the fork; the
    # post-cache count is columnar-batch row counts.
    grams.count()
    if fp is not None:
        GRAM_FRAMES.put(key, grams, app=app)
    return grams


def _input_signature(df: DataFrame) -> str | None:
    """md5 over the plan's input files plus each local file's
    (size, mtime) — folded into memo keys so an IN-PLACE rewrite of the
    underlying files invalidates cached derivations instead of serving
    stale results (ADVICE r11: the plan fingerprint alone cannot see a
    byte-level rewrite that keeps the same path). Overwrites through
    Spark change the part-file NAMES, in-place edits change mtime/size;
    either flips the signature. Cost is one driver-side listing the
    scan already performed plus a stat per local file — bounded by
    file count, paid only by the memoized operators. Returns None when
    the listing is unavailable (Connect-only sessions); callers fold
    the None in (memo still keyed by plan, documented cacheTable
    staleness semantics apply)."""
    import hashlib

    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    h = hashlib.md5()
    for f in files:
        h.update(f.encode())
        p = f
        if p.startswith("file:"):
            from urllib.parse import unquote, urlparse

            p = unquote(urlparse(p).path)
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"|{st.st_size}|{st.st_mtime_ns}".encode())
        h.update(b";")
    return h.hexdigest()


def _plan_fingerprint(df: DataFrame) -> tuple[int, str] | None:
    """(semanticHash, canonicalized-plan string) of a DataFrame's
    ANALYZED logical plan — Catalyst's own expression-id-agnostic
    identity, so two reads of the same path with the same projection
    collide, which is exactly the memo hit we want. Both halves go into
    memo keys: semanticHash covers a LocalRelation's rows (the string
    does not), and the string rules out a 32-bit hash collision across
    corpora. None when the JVM plan is unreachable (Connect-only
    sessions); callers skip the memo then."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return plan.semanticHash(), plan.canonicalized().toString()
    except Exception:
        return None


def _labels_frame(spark, labels: dict) -> DataFrame:
    """(id, component) DataFrame from a driver-side label map.

    pandas-backed createDataFrame rides Arrow; the tuple-list form
    serializes row-by-row through py4j (seconds at ~50k labels). int64
    fast path only when ids actually ARE ints — string/uuid doc ids
    take the object-dtype frame (np.fromiter(int64) raises on them, and
    the ≤4096 literal-map branch in dedup_clusters already handles them,
    so this path must too)."""
    if all(isinstance(v, int) for kv in labels.items() for v in kv):
        pdf = pd.DataFrame(
            {
                "id": np.fromiter(labels.keys(), dtype=np.int64, count=len(labels)),
                "component": np.fromiter(
                    labels.values(), dtype=np.int64, count=len(labels)
                ),
            }
        )
    else:
        pdf = pd.DataFrame(
            {"id": list(labels.keys()), "component": list(labels.values())}
        )
    return spark.createDataFrame(pdf)


def _attach_cluster_labels(df: DataFrame, labels: dict, id_col: str) -> DataFrame:
    """(doc_id, cluster_rep, is_rep) from a driver-side label map —
    the apply half of dedup_clusters, shared by the fresh-compute and
    memo-hit paths. ≤4096 labels inline as one parsed map literal (no
    broadcast build); larger maps ride an Arrow createDataFrame +
    broadcast hash join."""
    if len(labels) <= 4096:
        if labels:
            # one parsed expr string instead of 2·N F.lit() Columns:
            # each F.lit is a py4j round-trip and a Literal node the
            # analyzer visits — measured 5× slower at ~500 labels
            # (0.50 s vs 0.10 s per action at sf0.1). Int ids render
            # as literals directly; other id types take the F.lit path.
            if all(isinstance(v, int) for kv in labels.items() for v in kv):
                body = ", ".join(f"{k}L, {c}L" for k, c in labels.items())
                lbl_map = F.expr(f"map({body})")
            else:
                lbl_map = F.create_map(
                    *[F.lit(v) for k, c in labels.items() for v in (k, c)]
                )
            rep = F.coalesce(lbl_map[F.col("doc_id")], F.col("doc_id"))
        else:
            # zero near-dup pairs: an argless create_map() types as
            # map<void,void> and the lookup throws DATATYPE_MISMATCH —
            # every doc is its own singleton representative
            rep = F.col("doc_id")
        return (
            df.select(F.col(id_col).alias("doc_id"))
            .withColumn("cluster_rep", rep)
            .withColumn(
                "is_rep", (F.col("doc_id") == F.col("cluster_rep")).cast("boolean")
            )
        )
    comps = _labels_frame(df.sparkSession, labels)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(F.broadcast(comps), F.col("doc_id") == comps["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
        )
        .withColumn(
            "is_rep", (F.col("doc_id") == F.col("cluster_rep")).cast("boolean")
        )
    )


def dedup_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    driver_max_pairs: int = 5_000_000,
) -> DataFrame:
    """Cluster near-duplicate documents and pick a representative: the
    full LLM-corpus dedup endgame (pairs alone under-remove — three
    documents A~B~C with no A~C pair must still collapse to ONE kept
    doc). Output: (doc_id, cluster_rep, is_rep) for every document;
    singletons are their own representative.

    Pipeline: MinHash-LSH verified pairs ≥ threshold → connected
    components (min-id labels) → left-join back onto the corpus.
    Keeping ``is_rep`` rows yields the deduplicated corpus; the
    representative choice (min doc_id per component) is deterministic
    and matches the exact-SQL oracle's recursive closure.

    Component strategy is size-gated: the verified pair graph is orders
    of magnitude smaller than the corpus (it lists only near-duplicate
    relations), so up to ``driver_max_pairs`` it is collected and closed
    with driver union-find — microseconds and zero extra jobs, the shape
    production dedup uses even at corpus scales of 10⁹ docs. Beyond the
    gate (adversarially duplicate-heavy corpora) it falls back to the
    distributed min-label propagation in ``connected_components``. The
    collect is bounded by the gate, not the corpus.

    The driver-side label map is memoized (``session.CLUSTER_LABELS``),
    so a session that consumes the same clustering more than once —
    cluster dedup, then ``leakage_safe_split``, then per-cluster stats —
    pays the LSH pipeline ONCE and a projection thereafter. Rewriting
    the input files changes the key, so the next call recomputes;
    ``clear_cluster_label_cache`` is the opt-out and covers mutations
    the file listing cannot see. The over-gate distributed path is
    never memoized."""
    fp = _plan_fingerprint(df)
    # driver_max_pairs is in the key although it never changes the
    # LABELS (both strategies produce identical components): callers
    # pinning it are choosing an execution strategy, and a memo hit from
    # a different strategy's run would silently undo that.
    cache_key = (
        fp, _input_signature(df), threshold, text_col, id_col,
        num_hashes, bands, shingle_k, seed, driver_max_pairs,
    )
    labels = CLUSTER_LABELS.get(cache_key) if fp is not None else None
    if labels is not None:
        return _attach_cluster_labels(df, labels, id_col)
    # persist_shingles=True (round-12): the pair-frame persist below
    # does NOT stop the upstream kernel from running once per consumer
    # branch — AQE materializes the band and verify stages in parallel
    # and each races the cold cache (see minhash_near_duplicates). The
    # sizing count is the barrier that pins the kernel to exactly one
    # execution; A/B min-of-5 at sf0.1: 2.13 s vs 2.4-2.7 s lazy.
    pairs = minhash_near_duplicates(
        df, threshold=threshold, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k, seed=seed,
        persist_shingles=True,
    )
    # Gate by persist + count, then collect from the cache: the pair
    # frame is tiny (near-dup relations only), so the persist barrier is
    # cheap, the count is one fully-parallel job, and the over-gate
    # fallback reuses the SAME materialized pairs instead of re-running
    # the pipeline. (A limit(N+1).collect() gate was A/B'd: Spark runs
    # an unsatisfiable CollectLimit in sequential scale-up rounds, and
    # measured slightly slower — 2.98 s vs 2.77 s at sf0.1.)
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    small = pairs.count() <= driver_max_pairs
    if small:
        # Arrow transfer (toPandas), not collect(): py4j Row
        # deserialization costs seconds at 10⁵⁺ pairs, the Arrow batch
        # path is near-free (A/B on a duplicate-heavy 50k-doc corpus
        # with 250k verified pairs: 10.8 s → 5.7 s end-to-end)
        probe = pairs.select("id_a", "id_b").toPandas()
        pairs.unpersist(blocking=False)
        labels = _union_find_components(
            zip(probe["id_a"].tolist(), probe["id_b"].tolist())
        )
        if fp is not None:
            CLUSTER_LABELS.put(cache_key, labels)
        # map-literal attach (≤4096 labels): near-dup labels cover a
        # sliver of the corpus, so skip the join entirely — one
        # projection over the scan, no broadcast build/exchange (same
        # trade as the offset map in windows._global_rank0; 4096 keys ≈
        # the analyzer comfort bound for a literal expression tree).
        # Larger maps ride Arrow + broadcast join inside the helper.
        return _attach_cluster_labels(df, labels, id_col)
    comps = connected_components(pairs)  # pairs still persisted
    try:
        return (
            df.select(F.col(id_col).alias("doc_id"))
            .join(comps, F.col("doc_id") == comps["id"], "left")
            .select(
                "doc_id",
                F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
            )
            .withColumn(
                "is_rep", (F.col("doc_id") == F.col("cluster_rep")).cast("boolean")
            )
        )
    finally:
        pairs.unpersist(blocking=False)


def leakage_safe_split(
    df: DataFrame,
    clusters: DataFrame | None = None,
    train_frac_tenths: int = 8,
    id_col: str = "doc_id",
    **cluster_kwargs,
) -> DataFrame:
    """Leakage-safe train/holdout assignment with the near-dup CLUSTER
    as the split unit (z17's engine API, round-11): every document of a
    cluster follows its representative — ``cluster_rep % 10 <
    train_frac_tenths`` → train, else holdout — so a near-duplicate of
    a training document can never land in the holdout. Output:
    (doc_id, cluster_rep, split) for every document.

    ``clusters`` (round-11, VERDICT r10 #2): a PRECOMPUTED
    ``dedup_clusters``-shaped frame (doc_id, cluster_rep, ...). A
    curation pipeline that already ran the LSH + connected-components
    pass hands it in and the split is a pure projection — the expensive
    clustering never runs twice. When absent, clusters are computed
    here with ``dedup_clusters(df, **cluster_kwargs)``.

    Scale shape: inherits q50's bucketed LSH + pointer-jumping when it
    computes clusters; with ``clusters`` supplied it is zero additional
    shuffles (integer pmod over an existing frame)."""
    if clusters is None:
        clusters = dedup_clusters(df, id_col=id_col, **cluster_kwargs)
    from pyspark.sql import functions as F

    return clusters.select(
        "doc_id",
        "cluster_rep",
        F.when(
            F.pmod(F.col("cluster_rep"), F.lit(10)) < train_frac_tenths,
            "train",
        )
        .otherwise("holdout")
        .alias("split"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing n-gram
    spans with an evaluation/benchmark set — the overlap check every
    training-data pipeline runs before a model ships (the published
    recipes use 8-13 token spans; ``n`` is the knob).

    Output: (doc_id, n_shared, contaminated) for every corpus document
    with at least one shared n-gram; ``contaminated`` applies the
    ``min_shared`` threshold (single-collision noise vs real leakage).

    Scale shape: benchmark sets are tiny next to the corpus (10³-10⁶
    docs vs 10⁹), so the DISTINCT eval n-gram set builds small and
    BROADCASTS — the corpus side is one scan + explode + broadcast-hash
    semi-match + partial-agg count, no corpus shuffle of text at all
    (the groupBy shuffles only (doc_id, matched-gram) survivors). The
    n-gram expressions are the same zero-UDF token/shingle forms the
    Jaccard path uses (functions.text.shingles_from_tokens).
    """
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        shingles_from_tokens,
        ws_tokens,
    )

    def grams(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            ws_tokens(F.lower(F.col(text_col))).alias("_t"),
        )
        return toks.select(
            "doc_id", F.explode(shingles_from_tokens(F.col("_t"), n)).alias("g")
        )

    eval_grams = grams(eval_df).select("g").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
        .withColumn("contaminated", F.col("n_shared") >= F.lit(min_shared))
    )


def _ws_words(corpus: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w: array<string>) — whitespace word arrays of non-blank
    documents, the shared tokenization of the substring-dedup family
    (matches the DuckDB oracles' regexp_split_to_array exactly).

    Deliberately NOT ``ensure_min_partitions``-wrapped (round-12 A/B):
    parallelizing the single-file local scan here costs a text-bytes
    round-robin exchange AND leaves the memoized gram frame cached in
    ~core-count partitions, which every downstream consumer stage of
    z18/z19/z22 then pays task-scheduling overhead on — measured NET
    +2.5 s across the family at sf0.1 (fresh-JVM bench A/B) versus the
    one-task tokenize. At scale the corpus arrives multi-partition and
    the question is moot."""
    return corpus.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("w"),
    )


def _pos_gram_hashes(words: DataFrame, k: int) -> DataFrame:
    """(doc_id, p, h1, h2) — one 128-bit k-gram identity per word
    position as TWO independent structural xxhash64 longs (the second
    seeded by a prepended literal); documents shorter than k words
    never explode. O(corpus tokens) rows of fixed width, the inversion
    input of the substring-dedup family.

    Round-12: replaces md5(concat_ws(...)) — the structural hash skips
    materializing an ~80-char gram string per position and xxhash64 is
    an order of magnitude cheaper than a cryptographic digest (A/B at
    sf0.1, gram build + docs-per-gram aggregate: 0.95 s → 0.65 s),
    while two longs (16 B) also shuffle tighter than a 32-char hex
    string. Collision math is unchanged from the md5 form: 128 bits
    total, so at ~10¹¹ grams the birthday mass stays negligible for a
    ≥2-docs threshold."""
    gram = F.slice("w", F.col("p") + 1, k)
    return (
        words.where(F.size("w") >= k)
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.size("w") - k)).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.xxhash64(gram).alias("h1"),
            F.xxhash64(F.lit(1), gram).alias("h2"),
        )
    )


def dup_ngram_spans(
    corpus: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated n-gram SPANS — the substring-level
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): find every maximal run of words that some
    OTHER document also contains as a k-gram, the spans an ExactSubstr
    pass would cut before training. Suffix arrays are the single-node
    exact tool; hashed k-gram inversion is the practical distributed
    equivalent (same recall for runs ≥ k).

    Output: one row per maximal span — (doc_id, span_start, span_end,
    span_tokens), 0-based word positions, spans merged when their
    k-gram hits overlap.

    Plan shape (100 TB posture):
    1. tokenize + explode one k-gram hash per word position — O(corpus
       tokens) rows but each only (id, pos, two xxhash64 longs);
       documents shorter than k words never explode.
    2. groupBy hash → docs-per-gram ≥ ``min_docs`` (map-side partial
       agg shrinks this to distinct grams per partition first); the
       dup-gram set joins back on the hash — a shuffle equi-join at
       corpus scale, broadcastable only for small corpora, so no
       broadcast hint is forced.
    3. interval-merge per document: two windows partitioned by the
       high-cardinality doc id (running max-end → island break flags →
       running island id) and one groupBy — no skewed keys anywhere.
    The gram identity is 128 bits — two independent structural
    xxhash64 longs (round-12; previously one 16-byte md5, itself chosen
    over sha2-256 to halve the dominant stage-2 shuffle) — so at ~10¹¹
    grams the birthday mass stays negligible for a ≥2-docs threshold,
    while the hash costs an order of magnitude less CPU than a digest
    and never materializes the gram string.

    The gram frame is persisted (MEMORY_AND_DISK): both consumers — the
    docs-per-gram aggregate and the join back — otherwise re-run the
    tokenize + hash stage, the plan's dominant CPU (A/B at sf0.1: 2.29 s
    → 1.62 s). At corpus scale this materializes ~50 B/token to local
    disk per executor — the same gram-table materialization the
    published distributed ExactSubstr recipes pay, and strictly cheaper
    than hashing the corpus twice. Round-12: the frame is MEMOIZED per
    (corpus, k) — detect + cut over the same corpus share one
    (``_shared_gram_frame``), the session-level win VERDICT r11 #6
    asked for.
    """
    grams = _shared_gram_frame(corpus, k, text_col, id_col)
    dup = (
        grams.groupBy("h1", "h2")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("h1", "h2")
    )
    occ = grams.join(dup, ["h1", "h2"]).select(
        "doc_id", F.col("p").alias("s"), (F.col("p") + k - 1).alias("e")
    )
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = occ.withColumn(
        "brk",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(prev), F.lit(-1)), 1
        ).otherwise(0),
    )
    return (
        marked.withColumn("island", F.sum("brk").over(run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
            (F.max("e") - F.min("s") + 1).cast("long").alias("span_tokens"),
        )
        .drop("island", "brk")
    )


def exact_substr_cut(
    corpus: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The APPLY half of ``dup_ngram_spans`` — ExactSubstr removal
    (Lee et al. 2022): cut every word covered by a k-gram that an
    EARLIER document (smaller id — the deterministic keep-first rule)
    also contains, and rebuild the surviving text. Keep-first means the
    corpus retains exactly one copy of every duplicated run; later
    copies lose it, turning boilerplate-heavy documents into their
    unique residue (possibly empty — the caller decides whether an
    emptied document survives).

    Output (only documents that lost at least one word): doc_id,
    n_tokens (original), n_cut, clean_text.

    Plan shape on top of the shared gram stage: a min/count aggregate
    per hash, the hash equi-join back, a DISTINCT covered-position
    explode (O(cut words), not O(corpus)), one anti-join of the
    corpus's (doc, position) tokens against it, and a sort_array-of-
    structs rebuild per document — every shuffle keys on the
    high-cardinality doc id or gram hash.

    The gram frame is persisted (MEMORY_AND_DISK) for the same reason
    as in ``dup_ngram_spans`` — the keeper aggregate and the cover join
    both consume it, and recomputing the tokenize + hash stage costs
    more than re-reading it — and MEMOIZED per (corpus, k) since
    round-12, so a session that detects (z18) and then cuts (z19) the
    same corpus builds it once (``_shared_gram_frame``). ``cover`` is
    deliberately NOT persisted: its recomputes read the cached grams,
    and the persist barrier on a distinct measured slower than
    recompute (A/B at sf0.1: 2.52 s persisted vs 1.49 s recomputed)."""
    grams = _shared_gram_frame(corpus, k, text_col, id_col)
    keeper = (
        grams.groupBy("h1", "h2")
        .agg(
            F.min("doc_id").alias("_keep"),
            F.count_distinct("doc_id").alias("_nd"),
        )
        .where(F.col("_nd") >= 2)
        .select("h1", "h2", "_keep")
    )
    cover = (
        grams.join(keeper, ["h1", "h2"])
        .where(F.col("doc_id") > F.col("_keep"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + k - 1)
            ).alias("cp"),
        )
        .distinct()
    )
    cut_docs = cover.select("doc_id").distinct()
    # restrict the CORPUS (not the words frame) before re-tokenizing:
    # only cut documents pay the split, the token explode, and the
    # sort_array rebuild. Semi-joining `words` instead leaves the
    # whole-corpus split() below the join in the physical plan — every
    # document tokenizes again just to be discarded (and n_tokens would
    # tokenize a third time). At corpus scale the cut set is a sliver.
    cut_corpus = corpus.join(cut_docs, corpus[id_col] == cut_docs["doc_id"], "left_semi")
    cwords = _ws_words(cut_corpus, text_col, id_col)
    toks = cwords.select(
        "doc_id",
        F.posexplode("w").alias("p", "tok"),
    )
    kept = toks.join(
        cover,
        (toks["doc_id"] == cover["doc_id"]) & (toks["p"] == cover["cp"]),
        "left_anti",
    )
    n_all = cwords.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
        )
    )
    # n_all's doc set IS the cut set (cut_corpus semi-joined on cut_docs,
    # and every cut doc has ≥ k words so none drop at the non-blank
    # filter) — joining cut_docs back on would be a third equi-join
    # re-proving that identity (round-12, guide §2.4: one exchange +
    # stage wave saved, result set-identical).
    return (
        n_all.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_cut"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def source_ngram_overlap(
    corpus: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-SOURCE k-gram overlap matrix (round-12) — the provenance /
    contamination triage view of the substring-dedup signal: for every
    source pair, the number of distinct k-grams BOTH contain, and that
    overlap in basis points of the smaller side's distinct-gram count.
    A scraped mirror, a dataset repackaged under a new name, or an eval
    suite leaking into a crawl all light up here before any per-
    document pass runs; z18/z19 then localize and cut the spans.

    Scale shape: reuses the memoized z18/z19 gram stage (one
    O(corpus-tokens) explode per session, 16-byte hash pairs), one
    distinct over (source, gram) whose output is bounded by
    |sources| x distinct-grams, a self-join that fans out at most
    |sources| rows per gram hash (never doc x doc), and a broadcast of
    the #sources-row totals. Every shuffle keys on the gram hash; the
    final aggregate's |sources|² groups are map-side combinable."""
    grams = _shared_gram_frame(corpus, k, text_col, id_col)
    src = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("_src")
    )
    # round-12 A/B: pinning one hash(h1,h2) exchange ahead of the
    # dedup so the self-join arrives co-partitioned measured SLOWER
    # (1.15 → 1.67 s min-of-5 at sf0.1) than letting the planner keep
    # the 3-column distinct exchange and ReuseExchange serve both join
    # sides — the pinned width forces the full un-deduped (src, gram)
    # frame through a fixed-width exchange the sizes don't justify.
    per_src = grams.join(src, "doc_id").select("_src", "h1", "h2").distinct()
    totals = per_src.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = per_src.select(F.col("_src").alias("source_a"), "h1", "h2")
    b = per_src.select(F.col("_src").alias("source_b"), "h1", "h2")
    shared = (
        a.join(b, ["h1", "h2"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    ta = totals.select(
        F.col("_src").alias("source_a"), F.col("_n").alias("_na")
    )
    tb = totals.select(
        F.col("_src").alias("source_b"), F.col("_n").alias("_nb")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .withColumn(
            "overlap_bp",
            F.expr("(10000 * shared_grams) div least(_na, _nb)").cast(
                "bigint"
            ),
        )
        .select("source_a", "source_b", "shared_grams", "overlap_bp")
    )
