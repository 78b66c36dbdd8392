"""Similarity search over embedding columns (BASELINE.json north-star):
brute-force cosine top-k as the exact baseline, random-hyperplane LSH as
the approximate scale path.

Scale design: brute force is one scan (fine when the query set is small —
the query side broadcasts); LSH turns top-k into an equi-join on bucket
signatures so the corpus shuffles once by bucket and each comparison pool
is small. Recall is tunable via (n_planes, n_tables); the pytest suite
measures recall against the exact baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sustainable_building_energy_benchmarking_pipeline_spark.operators.partitioning import (
    pin_shuffle_width,
)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array<float|double> columns, JVM-side (no UDF).

    With ``dim`` given, unrolls to a flat ``Σ a[i]*b[i]`` add chain —
    plain GetArrayItem/Multiply/Add expressions that whole-stage codegen
    compiles (the hot-pair-join path). Without it, falls back to
    zip_with+aggregate higher-order functions, which are interpreted
    per-element (~10× slower — fine for one-pass row-wise use only).
    """
    if dim is not None:
        terms = [
            a.getItem(i).cast("double") * b.getItem(i).cast("double")
            for i in range(dim)
        ]
        # balanced pairwise reduction: depth log2(dim) instead of a
        # dim-deep left-nested Add chain (deep nesting trips janino's
        # limits and drops the expression out of codegen)
        while len(terms) > 1:
            terms = [
                terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        return terms[0]
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    # zero-norm guard: Spark 4 runs ANSI mode by default, so a bare
    # division throws DIVIDE_BY_ZERO the moment one all-zero embedding
    # (padding / failed encode) enters the corpus. Substitute denominator
    # 1.0 → cosine 0.0, the same convention every Arrow kernel in this
    # module (and the z06 oracle SQL) uses, so expression and kernel
    # paths agree. Catalyst's common-subexpression elimination keeps the
    # duplicated denominator tree from evaluating twice under codegen.
    denom = norm(a, dim) * norm(b, dim)
    return dot(a, b, dim) / F.when(denom != 0.0, denom).otherwise(F.lit(1.0))


def normalized(
    df: DataFrame, vec_col: str, out_col: str = "_nv", num_partitions: int | None = None
) -> DataFrame:
    """Append a unit-normalized copy of ``vec_col``.

    Pair joins should join on normalized vectors so cosine degrades to a
    bare dot product — norms are computed once per row here instead of
    once per *pair* (at N rows that's N norms, not N² — the difference
    between 2 k and 2 M norm evaluations on the sf0.1 embeddings table).

    One vectorized Pandas UDF (matrix row-normalize per Arrow batch —
    the dense-linear-algebra exception): partition-preserving, no
    shuffle, and immune to the CollapseProject pitfall the expression
    form has (the norm aggregate gets inlined dim× inside the transform
    lambda unless an optimization barrier separates them). Zero vectors
    pass through unscaled. ``ensure_min_partitions`` parallelizes
    single-file corpora only.
    """
    from pyspark.sql.functions import pandas_udf

    from sustainable_building_energy_benchmarking_pipeline_spark.operators.partitioning import (
        ensure_min_partitions,
    )

    @pandas_udf("array<double>")
    def _unit(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series(list(mat / norms[:, None]))

    return ensure_min_partitions(df, num_partitions).withColumn(
        out_col, _unit(F.col(vec_col))
    )


def brute_force_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector (the ANN baseline/oracle).

    The query is a literal array — constant-folded, no join at all. Top-k
    plans as TakeOrderedAndProject. Ties broken by id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        corpus.select(
            F.col(id_col).alias("id"),
            cosine(F.col(vec_col), q, dim=len(query_vec)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def brute_force_topk_kernel(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched BLAS kernel (the q27 form).

    Same contract as :func:`brute_force_topk`, different engine path: the
    query vector ships inside a scalar pandas_udf closure and each Arrow
    batch scores as ONE numpy matmul (`M @ q`) — the fastest per-row form
    for dense dim-64 dots, and it skips the ~2 s Catalyst analysis/codegen
    bill the 64-way unrolled expression tree pays per invocation
    (measured at sf0.1: 2.2 s unrolled vs 0.46 s kernel, warm fleet).
    Still one scan + TakeOrderedAndProject; no shuffle, no join. Prefer
    the expression form only where a UDF fleet is unavailable or the
    plan must stay pure-JVM (e.g. inside codegen'd pair joins).
    """
    q = np.asarray(query_vec, dtype=np.float64)
    # zero-norm convention (shared with cosine()/every sibling kernel):
    # substitute 1.0 so a zero vector scores 0.0 instead of NaN
    qn = float(np.sqrt(q @ q)) or 1.0

    @F.pandas_udf("double")
    def _cos(col: pd.Series) -> pd.Series:
        if len(col) == 0:  # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype="float64")
        M = np.stack(col.to_numpy()).astype(np.float64, copy=False)
        d = M @ q
        n1 = np.sqrt(np.einsum("ij,ij->i", M, M))
        n1[n1 == 0] = 1.0
        return pd.Series(d / (n1 * qn))

    return (
        corpus.select(
            F.col(id_col).alias("id"),
            _cos(F.col(vec_col)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def allpairs_cosine(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_chunks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via distributed block matmul.

    The corpus is split into ``n_chunks`` row blocks; every block *pair*
    (i ≤ j) becomes one group (rows replicated n_chunks× via explode),
    and each group computes its (|A| × dim) @ (dim × |B|) product as a
    single NumPy matmul inside applyInPandas. This is the scalable shape
    for exact pairwise similarity: per-task memory is bounded by
    (corpus/n_chunks)² regardless of corpus size, work distributes over
    n_chunks·(n_chunks+1)/2 independent tasks, and the dense inner loop
    is BLAS — versus a row-pair join evaluating dim-term expressions
    per pair interpreted (measured ~6× slower at sf0.1; the pair join
    also resists whole-stage codegen inside BroadcastNestedLoopJoin).

    Output: (id_a < id_b, cosine double), exact — the oracle-able
    brute-force baseline the LSH path is verified against.
    """
    spark = df.sparkSession
    if n_chunks is None:
        n_chunks = max(2, int(spark.sparkContext.defaultParallelism ** 0.5) * 2)

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), True),
    ])

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = key
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        ids = pdf["_id"].to_numpy()
        if gi == gj:
            sims = mat @ mat.T
            ia, ib = np.triu_indices(len(ids), k=1)
            id_a, id_b = ids[ia], ids[ib]
            cos = sims[ia, ib]
        else:
            a_mask = (pdf["_c"] == gi).to_numpy()
            A, B = mat[a_mask], mat[~a_mask]
            ids_a, ids_b = ids[a_mask], ids[~a_mask]
            sims = A @ B.T
            ia, ib = np.nonzero(sims >= threshold)
            id_a, id_b = ids_a[ia], ids_b[ib]
            cos = sims[ia, ib]
        keep = cos >= threshold
        id_a, id_b, cos = id_a[keep], id_b[keep], cos[keep]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    rep = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int").alias("_c"),
        )
        .withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
        .withColumn("_gi", F.least("_c", "_p"))
        .withColumn("_gj", F.greatest("_c", "_p"))
        # exactly one replica per (row, group): a row of chunk c meets
        # group (min(c,p), max(c,p)) once per partner p, and distinct
        # partners give distinct groups — no dedup pass needed
        .drop("_p")
    )
    # pin_shuffle_width: each (gi, gj) group is one block matmul — the
    # stage's cost is FLOPs, not the few MB of vectors, so size-first
    # coalescing must not serialize the chunk grid into one task.
    return (
        pin_shuffle_width(rep, "_gi", "_gj")
        .groupBy("_gi", "_gj")
        .applyInPandas(block_pair, out_schema)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side literals; tiny)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def ann_lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket in each of
    ``n_tables`` independent hash tables, exact-rerank the union.

    One scan: all table signatures come from a single vectorized Pandas
    UDF — one (batch × dim) @ (dim × n_tables·n_planes) matmul per Arrow
    batch, then sign-bit packing (the dense-linear-algebra exception to
    the no-Python rule; an expression-tree form with n_tables·n_planes
    unrolled dots compiles a multi-thousand-node predicate, which costs
    more in codegen than the query itself at this scale). The probe is an
    OR of per-table bucket equalities; at scale the corpus signature
    table is computed once and reused across queries; candidates per
    query ≈ corpus/2^n_planes × n_tables.
    """
    from pyspark.sql.functions import pandas_udf

    dim = len(query_vec)
    all_planes = np.vstack(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables*n_planes, dim)
    powers = 2 ** np.arange(n_planes, dtype=np.int64)

    q = np.asarray(query_vec, dtype=np.float64)
    q_bits = (all_planes @ q) >= 0
    q_sigs = [
        int((q_bits[t * n_planes : (t + 1) * n_planes] * powers).sum())
        for t in range(n_tables)
    ]
    qn = q / (np.linalg.norm(q) or 1.0)

    # the exact-cosine rerank value rides along in the SAME kernel: a
    # brute_force_topk over the candidates would rebuild its dim-unrolled
    # dot/norm expression tree per query — multi-thousand Catalyst nodes
    # whose analyze/optimize/codegen time (~2 s) dwarfs scoring 10³
    # candidates; here it's one extra BLAS matvec on rows already in the
    # Arrow batch
    @pandas_udf("struct<sigs: array<long>, cos: double>")
    def _sig_cos(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"sigs": [], "cos": []})
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ all_planes.T) >= 0  # (n, n_tables*n_planes)
        sigs = np.stack(
            [
                (bits[:, t * n_planes : (t + 1) * n_planes] * powers).sum(axis=1)
                for t in range(n_tables)
            ],
            axis=1,
        )  # (n, n_tables)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        cos = (mat @ qn) / norms
        return pd.DataFrame({"sigs": list(sigs), "cos": cos})

    # asNondeterministic (round-12, guide §4.4): the bucket probe below
    # FILTERS on this UDF's output, and the optimizer's filter pushdown
    # otherwise duplicates the evaluation — the executed plan carried
    # TWO ArrowEvalPython nodes, i.e. the whole-corpus signature matmul
    # ran twice per query. The function is pure; the marking only
    # forbids the optimizer from re-evaluating it below the filter.
    _sig_cos = _sig_cos.asNondeterministic()

    with_sig = corpus.withColumn("_sc", _sig_cos(F.col(vec_col)))
    # ONE parsed expression for the bucket probe (round-12): the
    # Column-object form (24 × getField/getItem/==/| chained calls) is
    # ~120 py4j round trips costing 0.4-1.1 s of pure driver time per
    # query build — more than the query's whole execution. F.expr
    # parses the same OR-chain in a single call; the analyzed plan is
    # identical (same GetArrayItem/EqualTo/Or tree).
    probe = F.expr(
        " OR ".join(
            f"_sc.sigs[{t}] = {qs}L" for t, qs in enumerate(q_sigs)
        )
    )
    return (
        with_sig.filter(probe)
        .select(
            F.col(id_col).alias("id"),
            F.col("_sc").getField("cos").alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("id"))
        .limit(k)
    )


def _collect_train_sample(
    corpus: DataFrame, vec_col: str, id_col: str, train_sample: int
) -> np.ndarray:
    """Bounded, DETERMINISTIC quantizer training sample: ordered by the
    id column before the limit, because a bare limit() returns whichever
    rows the scan produces first — partition-layout/AQE dependent, which
    would make the 'seeded' quantizer irreproducible across sessions."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    )
    if not rows:
        raise ValueError("cannot train an IVF quantizer on an empty corpus")
    return np.array([np.asarray(r[1], dtype=np.float64) for r in rows])


def _sampled_lloyds(
    sample: np.ndarray, nlist: int, seed: int, max_iter: int
) -> np.ndarray:
    """numpy Lloyd's over a driver-side sample (the FAISS training
    posture): seeded init without replacement, empty clusters keep their
    previous centroid. Shared by ivf_topk(trainer='sample') and
    ivf_topk_exact (which sphere-normalizes its sample first)."""
    rng = np.random.RandomState(seed)
    centroids = sample[
        rng.choice(len(sample), size=min(nlist, len(sample)), replace=False)
    ]
    for _ in range(max_iter):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = np.vstack(
            [
                sample[assign == c].mean(axis=0)
                if (assign == c).any()
                else centroids[c]
                for c in range(len(centroids))
            ]
        )
        if np.allclose(new, centroids):
            break
        centroids = new
    return centroids


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    trainer: str = "mllib",
    train_sample: int = 10_000,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means coarse
    quantizer → per-vector nearest-centroid assignment → probe the
    ``nprobe`` centroids nearest the query → exact rerank within those
    lists. The complementary scale path to RP-LSH (``ann_lsh_topk``):
    data-adaptive cells instead of data-oblivious hyperplanes.

    Spark shape: assignment is one vectorized matmul per Arrow batch,
    probing is a partition-prunable equi-filter on the centroid id — at
    scale the corpus is written partitioned by ``_cell`` and a query
    touches nprobe/nlist of the data. Candidates ≈ corpus·nprobe/nlist.

    ``trainer`` picks the quantizer posture: ``"mllib"`` fits
    distributed KMeans over the whole corpus (the every-vector-votes
    shape); ``"sample"`` runs driver-side numpy Lloyd's on a
    ``train_sample``-bounded sample — the production-IVF posture (FAISS
    trains on ~max(10⁴, 50·nlist) samples: centroid quality needs a
    sample, not the corpus) and MUCH cheaper in fixed overhead (MLlib's
    fit is dozens of jobs; the sample fit is one bounded collect).
    Recall at a given (nlist, nprobe) is gated by the same pytest for
    either trainer.
    """
    from pyspark.sql.functions import pandas_udf

    dim = len(query_vec)
    if trainer == "sample":
        sample = _collect_train_sample(corpus, vec_col, id_col, train_sample)
        centroids = _sampled_lloyds(sample, nlist, seed, max_iter)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(train)
        centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])  # (nlist, dim)

    @pandas_udf("int")
    def _nearest_cell(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    # guide §4.4: the isin filter below is on the UDF's output column —
    # unmarked, filter pushdown duplicates the assignment matmul into a
    # second ArrowEvalPython below the filter (one eval per corpus row
    # per node). Pure function; marking only pins one evaluation.
    _nearest_cell = _nearest_cell.asNondeterministic()

    q = np.asarray(query_vec, dtype=np.float64)
    probe_cells = (
        ((centroids - q[None, :]) ** 2).sum(axis=1).argsort()[:nprobe].tolist()
    )
    cand = corpus.withColumn("_cell", _nearest_cell(F.col(vec_col))).filter(
        F.col("_cell").isin([int(c) for c in probe_cells])
    )
    # kernel rerank: the fleet is already up for _nearest_cell, and the
    # expression form would pay its dim-unrolled analysis bill here
    return brute_force_topk_kernel(cand.drop("_cell"), query_vec, k, vec_col, id_col)


def ivf_topk_exact(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    train_sample: int = 10_000,
) -> DataFrame:
    """EXACT top-k via an IVF index with triangle-inequality cell pruning
    — the fixed-``nprobe`` ``ivf_topk``'s provably lossless sibling.

    All vectors are unit-normalized, so cosine order ≡ L2 order
    (d² = 2 − 2·cos). For a cell with centroid cᵢ and radius
    rᵢ = max_{x∈cell} ‖x̂ − cᵢ‖, any member satisfies
    ‖q̂ − x̂‖ ≥ ‖q̂ − cᵢ‖ − rᵢ, so once an upper bound d_τ on the kth
    neighbor distance is known, cells with ‖q̂ − cᵢ‖ − rᵢ > d_τ cannot
    hold a top-k member and are skipped. The result is therefore exactly
    brute-force top-k for ANY centroid set — k-means quality (and any
    cross-session nondeterminism in it) affects only how many cells are
    pruned, never the answer. On clustered corpora the probe touches
    O(k/nlist) of the data; on adversarially uniform vectors it degrades
    to a full scan, still correct.

    The coarse quantizer trains driver-side with numpy Lloyd's on a
    ``train_sample``-bounded sample — the shape production IVF builds
    use at any corpus size (FAISS trains on ~max(10⁴, 50·nlist)
    samples): centroid quality needs a sample, not the corpus, and a
    10⁴×64 float matrix is megabytes. The distributed-MLlib training
    path stays available in ``ivf_topk`` (whose recall DOES depend on
    cell quality); here sampling affects pruning power only.

    Two bounded Spark jobs after training: (1) per-cell stats (nlist
    rows: count + radius), (2) exact rerank over every cell the
    stats-derived kth-distance bound cannot exclude (at scale: the
    corpus is written partitioned by ``_cell`` and job 2 is a
    partition-pruned scan). The assigned frame is persisted across them.
    """
    from pyspark import StorageLevel
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)

    sample = _collect_train_sample(corpus, vec_col, id_col, train_sample)
    snorms = np.linalg.norm(sample, axis=1)
    snorms[snorms == 0] = 1.0
    sample = sample / snorms[:, None]  # Lloyd's on the unit sphere
    centroids = _sampled_lloyds(sample, nlist, seed, max_iter)
    cnorms = np.linalg.norm(centroids, axis=1)
    cnorms[cnorms == 0] = 1.0
    centroids = centroids / cnorms[:, None]  # cells live on the unit sphere too

    @pandas_udf("struct<cell: int, dist: double>")
    def _cell_dist(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "dist": pd.Series([], dtype="float64")})
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        cells = d2.argmin(axis=1)
        return pd.DataFrame({
            "cell": cells.astype("int32"),
            "dist": np.sqrt(d2[np.arange(len(cells)), cells]),
        })

    assigned = corpus.withColumn("_cd", _cell_dist(F.col(vec_col))).select(
        "*", F.col("_cd.cell").alias("_cell"), F.col("_cd.dist").alias("_cdist")
    ).drop("_cd").persist(StorageLevel.MEMORY_AND_DISK)
    # outlives the call (the returned rerank reads it): release handle
    from sustainable_building_energy_benchmarking_pipeline_spark.session import register_query_cache

    register_query_cache(assigned)

    # job 1: nlist tiny rows — cell populations and radii
    stats = {
        r["_cell"]: (r["n"], r["r"])
        for r in assigned.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n"), F.max("_cdist").alias("r"))
        .collect()
    }
    d_cell = np.sqrt(((centroids - qn[None, :]) ** 2).sum(axis=1))
    order = np.argsort(d_cell, kind="stable")

    # kth-distance upper bound from cell stats alone — no scan needed:
    # every member of cell i lies within d_i + r_i of the query (triangle
    # inequality), so once the nearest cells cumulatively hold ≥ k
    # vectors, the kth neighbor is within max(d_i + r_i) over that
    # prefix. Weaker than scanning the seed cells for the true kth
    # distance (probes a few more cells) but saves a whole job and a
    # second compiled scoring pass — the better trade for one-shot
    # queries; a query-batch service amortizes and can re-tighten.
    d_tau, have, prefix_max = float("inf"), 0, 0.0
    for c in order:
        ci = int(c)
        if ci not in stats:
            continue
        have += stats[ci][0]
        prefix_max = max(prefix_max, d_cell[ci] + stats[ci][1])
        if have >= k:
            d_tau = prefix_max
            break

    # job 2: exact rerank over every cell the bound cannot exclude
    probe = [
        int(c) for c in order
        if int(c) in stats and d_cell[int(c)] - stats[int(c)][1] <= d_tau + 1e-9
    ]
    # assigned stays persisted for the returned (lazy) rerank — an
    # unpersist here would evict the blocks before the caller's action
    # runs; the executor LRU reclaims them under pressure. Kernel rerank:
    # the fleet is already up for _cell_dist, and the expression form
    # would pay its dim-unrolled analysis bill on every invocation
    return brute_force_topk_kernel(
        assigned.filter(F.col("_cell").isin(probe)), query_vec, k, vec_col, id_col
    )


def pairwise_topk_per_label(
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int | None = None,
    n_chunks: int | None = None,
) -> DataFrame:
    """k nearest neighbors within each label block — the grouped form of
    similarity search, as a distributed block matmul (the allpairs_cosine
    shape) + a candidate-merge window.

    Each label's rows are split into ``n_chunks`` chunks; every (label,
    chunk-pair) group computes its sims as ONE NumPy matmul and emits
    only its block-local top-k per row; a final window keeps the global
    top-k among the ≤ n_chunks·k candidates per id (block-local top-k is
    a superset filter: the true top-k within a label is the top-k of the
    per-block top-ks). Per-task memory is bounded by
    (max_label_rows/n_chunks)² sims; the expression-pair-join form this
    replaces evaluated a dim-term dot per pair interpreted — measured
    ~5× slower at sf0.1. ``dim`` is accepted for API compatibility (the
    kernel reads vector length from the data).

    ``n_chunks`` defaults from defaultParallelism rather than a
    count-the-labels pre-job (an extra full scan just to size chunks);
    at 100 TB size it from table stats: n_chunks ≈ max label rows /
    4096 keeps each block matmul comfortably in task memory.

    Ties break by (cosine DESC, neighbor_id ASC) in both the block
    kernel and the merge window, so results are deterministic."""
    from pyspark.sql import Window

    if n_chunks is None:
        n_chunks = max(2, int(corpus.sparkSession.sparkContext.defaultParallelism ** 0.5))

    fields = {f.name: f.dataType for f in corpus.schema.fields}
    out_schema = T.StructType([
        T.StructField("id", fields[id_col], True),
        T.StructField("label", fields[label_col], True),
        T.StructField("neighbor_id", fields[id_col], True),
        T.StructField("cosine_sim", T.DoubleType(), True),
    ])

    def topk_frame(sims: np.ndarray, ids_a, ids_b, lbl) -> pd.DataFrame:
        kk = min(k, sims.shape[1])
        rows = {"id": [], "neighbor_id": [], "cosine_sim": []}
        for i in range(sims.shape[0]):
            order = np.lexsort((ids_b, -sims[i]))[:kk]
            keep = order[np.isfinite(sims[i][order])]
            rows["id"].extend([ids_a[i]] * len(keep))
            rows["neighbor_id"].extend(ids_b[keep])
            rows["cosine_sim"].extend(sims[i][keep])
        out = pd.DataFrame(rows)
        out.insert(1, "label", lbl)
        return out

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lbl, gi, gj = key
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        ids = pdf["_id"].to_numpy()
        if gi == gj:
            sims = mat @ mat.T
            np.fill_diagonal(sims, -np.inf)
            return topk_frame(sims, ids, ids, lbl)
        a_mask = (pdf["_c"] == gi).to_numpy()
        A, B = mat[a_mask], mat[~a_mask]
        ids_a, ids_b = ids[a_mask], ids[~a_mask]
        sims = A @ B.T
        return pd.concat(
            [topk_frame(sims, ids_a, ids_b, lbl), topk_frame(sims.T, ids_b, ids_a, lbl)],
            ignore_index=True,
        )

    rep = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("_lbl"),
            F.col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int").alias("_c"),
        )
        .withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
        .withColumn("_gi", F.least("_c", "_p"))
        .withColumn("_gj", F.greatest("_c", "_p"))
        .drop("_p")
    )
    # pin_shuffle_width: one block matmul per (label, gi, gj) group —
    # FLOP-bound, so the width must not follow shuffle bytes.
    cands = (
        pin_shuffle_width(rep, "_lbl", "_gi", "_gj")
        .groupBy("_lbl", "_gi", "_gj")
        .applyInPandas(block_pair, out_schema)
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hard_negative_topk(
    corpus: DataFrame,
    k: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_chunks: int | None = None,
) -> DataFrame:
    """For every vector, the top-k most-similar neighbors with a
    DIFFERENT label — hard-negative mining, the candidate generator of
    contrastive training (the complement of ``pairwise_topk_per_label``,
    which searches WITHIN a label). Reference anchor: the engine's
    similarity family (q35-q37) — this is its cross-label member.

    Shape: the same distributed block-GEMM as the per-label kNN, but
    chunks pair GLOBALLY (every (i ≤ j) chunk pair is one task) and the
    kernel masks same-label sims to -inf before the block-local top-k.
    Block-local top-k remains a superset filter (the global top-k among
    different-label rows is the top-k of per-block different-label
    top-ks), merged by one window. Per-task memory is bounded by
    (N/n_chunks)² sims.

    Exact by construction — this is the oracle-able form, quadratic in
    N like q35; at 10¹⁰-row scale mine hard negatives through the IVF
    path (q49/q89: probe the query's nearest centroids, drop same-label
    candidates) and reserve this operator for the ≤10⁷-row re-rank tier.

    Ties break (cosine DESC, neighbor_id ASC) in both kernel and merge
    window, so results are deterministic."""
    from pyspark.sql import Window

    if n_chunks is None:
        n_chunks = max(
            2, int(corpus.sparkSession.sparkContext.defaultParallelism ** 0.5)
        )

    fields = {f.name: f.dataType for f in corpus.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField("id", fields[id_col], True),
            T.StructField("label", fields[label_col], True),
            T.StructField("neighbor_id", fields[id_col], True),
            T.StructField("neighbor_label", fields[label_col], True),
            T.StructField("cosine_sim", T.DoubleType(), True),
        ]
    )

    def topk_frame(sims: np.ndarray, ids_a, lbl_a, ids_b, lbl_b) -> pd.DataFrame:
        kk = min(k, sims.shape[1])
        rows = {"id": [], "label": [], "neighbor_id": [], "neighbor_label": [],
                "cosine_sim": []}
        for i in range(sims.shape[0]):
            order = np.lexsort((ids_b, -sims[i]))[:kk]
            keep = order[np.isfinite(sims[i][order])]
            rows["id"].extend([ids_a[i]] * len(keep))
            rows["label"].extend([lbl_a[i]] * len(keep))
            rows["neighbor_id"].extend(ids_b[keep])
            rows["neighbor_label"].extend(lbl_b[keep])
            rows["cosine_sim"].extend(sims[i][keep])
        return pd.DataFrame(rows)

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = key
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        ids = pdf["_id"].to_numpy()
        lbls = pdf["_lbl"].to_numpy()
        if gi == gj:
            sims = mat @ mat.T
            np.fill_diagonal(sims, -np.inf)
            sims[lbls[:, None] == lbls[None, :]] = -np.inf
            return topk_frame(sims, ids, lbls, ids, lbls)
        a_mask = (pdf["_c"] == gi).to_numpy()
        A, B = mat[a_mask], mat[~a_mask]
        ids_a, ids_b = ids[a_mask], ids[~a_mask]
        lbl_a, lbl_b = lbls[a_mask], lbls[~a_mask]
        sims = A @ B.T
        sims[lbl_a[:, None] == lbl_b[None, :]] = -np.inf
        return pd.concat(
            [
                topk_frame(sims, ids_a, lbl_a, ids_b, lbl_b),
                topk_frame(sims.T, ids_b, lbl_b, ids_a, lbl_a),
            ],
            ignore_index=True,
        )

    rep = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("_lbl"),
            F.col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int").alias("_c"),
        )
        .withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
        .withColumn("_gi", F.least("_c", "_p"))
        .withColumn("_gj", F.greatest("_c", "_p"))
        .drop("_p")
    )
    # pin_shuffle_width: FLOP-bound block-GEMM groups (see
    # pairwise_topk_per_label).
    cands = (
        pin_shuffle_width(rep, "_gi", "_gj")
        .groupBy("_gi", "_gj")
        .applyInPandas(block_pair, out_schema)
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
