"""Behavioral invariants for the corpus-quality scoring queries
(z11 LM-perplexity tiers, z12 per-source KL drift) beyond the DuckDB
oracle equality the registry suite already enforces."""

from __future__ import annotations

import math

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES

z11_lm_perplexity_tiers = QUERIES["z11_lm_perplexity_tiers"].fn
z12_source_kl_drift = QUERIES["z12_source_kl_drift"].fn

SF_DIR = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_z11_tier_invariants(spark):
    """Terciles are ordered (every head score ≤ every middle score ≤
    every tail score), all three are populated, every tokenized doc
    appears exactly once, and nll ≥ 0 (a unigram count never exceeds
    the corpus total)."""
    out = z11_lm_perplexity_tiers(spark, SF_DIR).collect()
    assert len(out) == len({r.doc_id for r in out})
    by_tier = {}
    for r in out:
        assert r.nll >= 0.0, r
        by_tier.setdefault(r.tier, []).append(r.nll)
    assert set(by_tier) == {"head", "middle", "tail"}
    assert max(by_tier["head"]) <= min(by_tier["middle"])
    assert max(by_tier["middle"]) <= min(by_tier["tail"])
    n = len(out)
    # cume_dist >= 1/3 at the threshold ⇒ head holds at least a third
    # (ties can only grow it); same for head+middle at two thirds.
    assert len(by_tier["head"]) >= n / 3 - 1
    assert len(by_tier["head"]) + len(by_tier["middle"]) >= 2 * n / 3 - 1


def test_z11_zero_token_docs_excluded(spark, tmp_path):
    """A whitespace-only document carries no LM signal and must be
    absent from the scored output, not scored as NULL."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta alpha gamma", "en", "s0", 22),
            (2, "   ", "en", "s0", 3),
            (3, "alpha beta beta delta", "en", "s0", 21),
        ],
    )
    ids = {r.doc_id for r in z11_lm_perplexity_tiers(spark, sf).collect()}
    assert ids == {1, 3}


def test_z12_kl_nonnegative_real_corpus(spark):
    """Gibbs' inequality: KL(P_source ‖ P_corpus) ≥ 0 for every source,
    and token counts reconcile with the corpus total."""
    rows = z12_source_kl_drift(spark, SF_DIR).collect()
    assert rows, "expected at least one source"
    for r in rows:
        assert r.kl_nats >= 0.0, r
        assert r.n_tokens > 0


def test_z12_single_source_kl_zero(spark, tmp_path):
    """With one source, P_source ≡ P_corpus, so KL is exactly 0 (every
    log term is ln(1))."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a b c a", "en", "only", 7),
            (2, "b c d", "en", "only", 5),
        ],
    )
    rows = z12_source_kl_drift(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0].source == "only"
    assert rows[0].kl_nats == 0.0


def test_z12_disjoint_vocab_closed_form(spark, tmp_path):
    """A source whose vocabulary never overlaps the other sources' has
    KL = ln(N / n_s) exactly: each of its tokens is corpus-exclusive,
    so p_c = p_s · n_s/N and every log term collapses to ln(N/n_s).
    With fully disjoint sources the SMALLER source drifts further."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "x x y z", "en", "weird", 7),
            (2, "a b c a b c a b", "en", "normal", 15),
        ],
    )
    rows = {r.source: r for r in z12_source_kl_drift(spark, sf).collect()}
    n = 12
    assert abs(rows["weird"].kl_nats - math.log(n / 4)) <= 1e-6
    assert abs(rows["normal"].kl_nats - math.log(n / 8)) <= 1e-6
    assert rows["weird"].kl_nats > rows["normal"].kl_nats


z13_dsir_importance = QUERIES["z13_dsir_importance"].fn
z14_ngram_novelty = QUERIES["z14_ngram_novelty"].fn


def test_z13_target_docs_score_higher(spark):
    """DSIR sanity: the target class (lang='en') must out-score the
    non-target mean — the importance weight estimates ln(p_target/q_raw)
    so a doc drawn FROM the target distribution averages a positive
    per-gram score (non-negative KL between target and raw)."""
    out = z13_dsir_importance(spark, SF_DIR).collect()
    en = [r.dsir_micronats / max(r.n_bigrams, 1) for r in out if r.lang == "en"]
    other = [r.dsir_micronats / max(r.n_bigrams, 1) for r in out if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_z13_every_doc_present_exactly_once(spark):
    out = z13_dsir_importance(spark, SF_DIR).collect()
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(ids) == docs.count()


def test_z13_uniform_corpus_scores_zero(spark, tmp_path):
    """When target == raw (all docs lang='en'), every bucket ratio is
    exactly 1 → ln = 0 → every weight is exactly 0 micro-nats."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma", "en", "s0", 16),
            (2, "beta gamma delta", "en", "s0", 16),
            (3, "gamma delta alpha", "en", "s1", 17),
        ],
    )
    out = z13_dsir_importance(spark, sf).collect()
    assert all(r.dsir_micronats == 0 for r in out)


def test_z14_novel_counts_partition_corpus_grams(spark):
    """Conservation: Σ novel_grams over all docs == # distinct trigrams
    in the corpus (every gram has exactly one first owner), and
    novel ≤ total per doc with novelty_bp in [0, 10000]."""
    out = z14_ngram_novelty(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    grams = set()
    for d in docs:
        t = [w for w in d.text.strip().lower().split() if w]
        grams.update(
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        )
    assert sum(r.novel_grams for r in out) == len(grams)
    for r in out:
        assert r.novel_grams <= r.n_grams
        if r.n_grams > 0:
            assert 0 <= r.novelty_bp <= 10000
        else:
            assert r.novelty_bp is None and r.novel_grams == 0


def test_z14_duplicate_doc_has_zero_novelty(spark, tmp_path):
    """An exact duplicate appearing later contributes nothing new; the
    first copy owns all its grams (novelty_bp 10000 when its grams are
    corpus-unique)."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a b c d e", "en", "s0", 9),
            (2, "a b c d e", "en", "s0", 9),
            (3, "x y z w", "en", "s1", 7),
        ],
    )
    out = {r.doc_id: r for r in z14_ngram_novelty(spark, sf).collect()}
    assert out[1].novelty_bp == 10000
    assert out[2].novel_grams == 0 and out[2].novelty_bp == 0
    assert out[3].novelty_bp == 10000


def test_z07_zero_token_docs_survive(spark, tmp_path):
    """Empty / whitespace-only docs must not crash z07 (the unguarded
    slice length was -1 and the dup division hit ANSI DIVIDE_BY_ZERO);
    they report dup 0.0, share 0.0, unflagged — same as the oracle."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a a a a a a b", "en", "s0", 13),
            (2, "   ", "en", "s0", 3),
            (3, "", "en", "s1", 0),
            (4, "x y", "en", "s1", 3),
        ],
    )
    out = {r.doc_id: r for r in QUERIES["z07_repetition_filter"].fn(spark, sf).collect()}
    assert set(out) == {1, 2, 3, 4}
    for i in (2, 3):
        r = out[i]
        assert r.n_tokens == 0
        assert r.dup_token_frac == 0.0 and r.top_bigram_share == 0.0
        assert r.rep_flagged is False
    assert out[1].rep_flagged is True


# --- round-12: overlapping chunking + UniMax allocation ------------------


def test_chunk_overlap_covers_and_reconstructs(spark):
    """Every token is covered, consecutive chunks overlap by
    width − stride, no chunk exceeds width, and concatenating each
    chunk's stride-prefix (plus the last chunk's tail) rebuilds the
    document's token stream exactly."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        chunk_documents,
    )

    texts = [
        (1, "a b c d e f g h i j"),          # 10 words: 2 chunks (W4 S3)
        (2, "solo"),                          # 1 word: 1 chunk
        (3, " ".join(f"w{i}" for i in range(13))),  # 13: starts 0,3,6,9,12
        (4, "   "),                           # whitespace-only: dropped
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = chunk_documents(docs, width=4, stride=3).orderBy(
        "doc_id", "chunk_idx"
    )
    rows = out.collect()
    assert not [r for r in rows if r.doc_id == 4]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in texts[:3]:
        words = text.split()
        chunks = by_doc[doc_id]
        # starts are the stride grid; idx is dense
        assert [c.chunk_start for c in chunks] == list(
            range(0, len(words), 3)
        )
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        # width bound + exact coverage of the tail
        for c in chunks[:-1]:
            assert c.n_chunk_words == min(4, len(words) - c.chunk_start)
        last = chunks[-1]
        assert last.chunk_start + last.n_chunk_words == len(words)
    # hash determinism: same chunk text → same hash across docs
    two = spark.createDataFrame(
        [(10, "x y z"), (11, "x y z")], "doc_id long, text string"
    )
    hs = {
        r.chunk_hash
        for r in chunk_documents(two, width=4, stride=3).collect()
    }
    assert len(hs) == 1


def test_unimax_allocation_invariants(spark, tmp_path):
    """z21's waterfall contracts on a hand-built corpus (epoch cap 1,
    budget 3/4 of all tokens): capped languages get exactly cap·t,
    uncapped ones share the remaining budget evenly (equal allocs,
    floor division), the total never exceeds the budget and undershoots
    by less than the number of uncapped languages (floor loss only)."""
    sizes = {"aa": 10, "bb": 20, "cc": 400, "dd": 700}
    text = {lang: " ".join("t" for _ in range(n)) for lang, n in sizes.items()}
    sf = _write_docs(
        spark,
        tmp_path,
        [(i, text[lang], lang, "s", len(text[lang])) for i, lang in enumerate(sizes)],
    )
    # budget = 3/4 of 1130 = 847; ascending aa,bb,cc,dd
    out = {r.lang: r for r in QUERIES["z21_unimax_budget"].fn(spark, sf).collect()}
    assert out["aa"].capped and out["aa"].alloc_tokens == 10
    assert out["bb"].capped and out["bb"].alloc_tokens == 20
    # cc's full epoch (400) fits under its running even share
    # ((847−30)//2 = 408), so it is capped too; dd alone is the pivot
    # and absorbs the exact remainder 847−430 = 417
    assert out["cc"].capped and out["cc"].alloc_tokens == 400
    assert not out["dd"].capped and out["dd"].alloc_tokens == 417
    total_alloc = sum(r.alloc_tokens for r in out.values())
    assert total_alloc <= 847 and 847 - total_alloc < 1  # 1 uncapped lang
    assert out["aa"].epochs_bp == 10000
    assert out["dd"].epochs_bp == (10000 * 417) // 700
    # epoch cap truly binds: no language exceeds cap·t
    for lang, n in sizes.items():
        assert out[lang].alloc_tokens <= n


def _unimax_closed_form(tokens, cap, budget):
    """Pure-Python mirror of z21's closed form: ascending sizes, pivot = first i with cap·t_i > running even
    share (computed under the all-capped-prior assumption), caps before
    the pivot, the pivot's even share for everyone after."""
    ts = sorted(tokens)
    n = len(ts)
    cum = 0
    piv = None
    pshare = None
    for i, t in enumerate(ts, start=1):
        share = (budget - cum) // (n - i + 1)
        if cap * t > share:
            piv, pshare = i, share
            break
        cum += cap * t
    out = []
    for i, t in enumerate(ts, start=1):
        out.append(cap * t if piv is None or i < piv else pshare)
    return out


def _unimax_sequential(tokens, cap, budget):
    """The paper's greedy waterfall: walk ascending, allocate the
    epoch cap while it fits the ACTUAL remaining even share; from the
    first language where it does not, give every remaining language
    that share."""
    ts = sorted(tokens)
    n = len(ts)
    out = []
    rem = budget
    for i, t in enumerate(ts):
        share = rem // (n - i)
        if cap * t <= share:
            out.append(cap * t)
            rem -= cap * t
        else:
            out.extend([share] * (n - i))
            break
    return out


def test_unimax_closed_form_equals_sequential_waterfall():
    """The window-function closed form (what the Spark plan and the
    DuckDB oracle both compute) is algebraically the sequential greedy:
    before the pivot every allocation was the cap, so the running even
    shares coincide; 200 random integer corpora pin the equivalence,
    plus the conservation bound (never over budget when the budget
    binds, floor-loss-only undershoot)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        tokens=st.lists(
            st.integers(min_value=1, max_value=10**9), min_size=1, max_size=40
        ),
        cap=st.integers(min_value=1, max_value=5),
        budget=st.integers(min_value=0, max_value=4 * 10**10),
    )
    @settings(max_examples=200, deadline=None)
    def check(tokens, cap, budget):
        closed = _unimax_closed_form(tokens, cap, budget)
        seq = _unimax_sequential(tokens, cap, budget)
        assert closed == seq
        total = sum(closed)
        cap_total = cap * sum(tokens)
        if total < cap_total:  # budget binds somewhere
            assert total <= budget
            # undershoot only from floor division: < #langs at the pivot
            assert budget - total < len(tokens) or budget >= cap_total
        for alloc, t in zip(closed, sorted(tokens)):
            assert alloc <= cap * t

    check()


def test_chunk_documents_matches_python_reference(spark):
    """Spark's sequence/posexplode/slice chunker against a pure-Python
    reference over randomized corpora, widths and strides (stride ≤
    width) — pins the 1-based slice and end-inclusive sequence
    semantics the implementation depends on."""
    import hashlib
    import random

    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        chunk_documents,
    )

    rng = random.Random(12012)
    for trial in range(4):
        width = rng.randint(1, 9)
        stride = rng.randint(1, width)
        rows = []
        expected = []
        for doc_id in range(12):
            n = rng.randint(0, 23)
            words = [f"w{rng.randint(0, 9)}" for _ in range(n)]
            rows.append((doc_id, " ".join(words)))
            for idx, s in enumerate(range(0, max(n, 1), stride)):
                if n == 0:
                    break
                piece = words[s : s + width]
                expected.append(
                    (
                        doc_id,
                        idx,
                        s,
                        len(piece),
                        hashlib.md5(
                            " ".join(piece).encode()
                        ).hexdigest(),
                    )
                )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (
                r.doc_id,
                r.chunk_idx,
                r.chunk_start,
                r.n_chunk_words,
                r.chunk_hash,
            )
            for r in chunk_documents(
                docs, width=width, stride=stride
            ).collect()
        )
        assert got == sorted(expected), (width, stride, trial)


def test_z23_length_drift_hand_corpus(spark, tmp_path):
    """KS on a corpus with a KNOWN answer: source A is all 5-word docs,
    source B all 10-word. At l=5 the corpus CDF is 1/2 while A's is 1
    and B's is 0 — both drift by exactly 1/2 (5000 bp). An identical-
    distribution source drifts 0."""
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES

    rows = []
    for i in range(4):
        rows.append((i, " ".join("a" for _ in range(5)), "en", "A", 9))
    for i in range(4, 8):
        rows.append((i, " ".join("b" for _ in range(10)), "en", "B", 19))
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.source: r for r in QUERIES["z23_length_drift"].fn(spark, sf).collect()}
    assert out["A"].ks_bp == 5000 and out["B"].ks_bp == 5000
    assert out["A"].n_docs == 4 and out["B"].n_docs == 4
    # a source that IS the corpus distribution drifts zero
    rows2 = [(i, "x y z", "en", "same", 5) for i in range(6)]
    sf2 = _write_docs(spark, tmp_path / "u", rows2)
    out2 = QUERIES["z23_length_drift"].fn(spark, sf2).collect()
    assert len(out2) == 1 and out2[0].ks_bp == 0
