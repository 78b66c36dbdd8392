"""Text-analysis column expressions for training-data pipelines
(BASELINE.json north-star: language-ID, quality scoring, token counting,
document fingerprinting). All pure ``F.*`` compositions — JVM-side,
whole-stage-codegen, no Python in the hot path.

These operate on the ``documents`` table (doc_id, text, lang, source,
n_chars) but take plain columns so they compose with any corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish pre-tokenization pattern: word runs, digit runs, or single
# non-space symbols (the GPT-2 pre-tokenizer family shape, simplified to
# a JVM-regex-safe form).
BPE_TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language identifier. Deliberately small: the operator is the point, the
# lexicons are swappable.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (empty-safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("bigint")


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization via regexp_extract_all (word/digit/symbol runs)."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text)).cast("bigint")


def punct_ratio(text: Column) -> Column:
    """Share of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped).cast("double") / F.length(text)
    ).otherwise(0.0)


def quality_score_from_tokens(
    toks: Column, ltoks: Column, text: Column
) -> Column:
    """Composite heuristic quality score in [0, 1] — the Gopher/C4-style
    rule family: length band, word-length band, punctuation share,
    stopword presence. Weights are illustrative; each component is a
    documented, swappable expression.

    Takes MATERIALIZED token arrays (raw-case ``toks``, lowercase
    ``ltoks`` — each its own projection, see shingles_from_tokens):
    Catalyst does not CSE across lambda boundaries, so a
    single-expression form that tokenizes inline would re-run the
    whitespace tokenizer once per component on every row of a
    corpus-scale scan. Callers select the two arrays first (the
    module's materialize-the-token-array convention; the q30 oracle
    builds the same two arrays).
    """
    n_tok = F.size(toks).cast("bigint")
    len_ok = (n_tok >= 10) & (n_tok <= 100000)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    awl = F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks)
    ).otherwise(0.0)
    awl_ok = (awl >= 2.0) & (awl <= 12.0)
    punct_ok = punct_ratio(text) < 0.3
    hits = F.size(F.filter(ltoks, lambda t: t.isin(*LANG_PROFILES["en"])))
    stopr = F.when(
        F.size(ltoks) > 0, hits.cast("double") / F.size(ltoks)
    ).otherwise(0.0)
    stop_ok = stopr > 0.01
    return (
        len_ok.cast("double") * 0.3
        + awl_ok.cast("double") * 0.3
        + punct_ok.cast("double") * 0.2
        + stop_ok.cast("double") * 0.2
    )


def language_scores(toks: Column, text: Column) -> dict[str, Column]:
    """Per-language stopword-hit scores from a MATERIALIZED lowercase
    token array (see shingles_from_tokens for why the token array must be
    its own projection — the K membership filters would otherwise each
    re-run the tokenizer). zh rarely whitespace-tokenizes, so its score
    is a single-pass ``regexp_count`` over a character class instead (one
    string traversal vs a per-character replace chain).

    Materialize these in their own ``select`` before the argmax — each
    score is referenced ~7× by the argmax CASE chain, and inlining the
    full expressions there bloats codegen (measured ~1.5× warm, larger
    cold while the JIT chews the giant method).
    """

    def hit_count(words: list[str]) -> Column:
        # factory binds `words` eagerly; a default-arg lambda would make
        # Spark's higher-order-function wrapper treat it as a lambda param
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {
        lang: hit_count(words)
        for lang, words in LANG_PROFILES.items()
        if lang != "zh"
    }
    scores["zh"] = F.regexp_count(
        text, F.lit("[" + "".join(LANG_PROFILES["zh"]) + "]")
    ).cast("int")
    return scores


def language_argmax(scores: dict[str, Column]) -> Column:
    """'und' when no profile hits, else the first language (profile order)
    achieving the max score. Feed it materialized score COLUMNS, not the
    raw expressions (see language_scores)."""
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_PROFILES:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def language_pred_kernel(lower_text: Column) -> Column:
    """Arrow-kernel form of ``language_scores`` → ``language_argmax`` over
    an ALREADY-LOWERCASED text column (keep ``F.lower`` JVM-side so case
    folding is bit-identical to the expression form and the oracle).

    Why a kernel (round-13, guide §4.1/§4.2): the expression form's K
    membership filters are higher-order-function lambdas, which Spark
    evaluates INTERPRETED per element — they never enter whole-stage
    codegen — measured 6.9 s of task CPU at sf0.1 (the registry's
    per-byte CPU outlier; 100 TB multiplies CPU, not wall). One Python
    pass with C-speed ``str.split``/set membership replaces ~50
    interpreted lambda evaluations per token. The explode+codegen
    rewrite was measured WORSE (18.2 s CPU — per-token UnsafeRows);
    this kernel is the remaining honest lever.

    Semantics matched to the expression form exactly:
    - tokenization: Java ``\\s`` is the ASCII class ``[ \\t\\n\\x0B\\f\\r]``
      (spelled out; Python's ``\\s``/``str.split`` are Unicode-wide and
      would split differently — the ``winnowing_postings`` precedent);
    - en/es/fr/de scores: count of tokens IN the profile set;
    - zh score: per-character count of the zh profile chars (equals
      ``regexp_count`` over the char class — lowercasing never alters
      CJK chars, so counting in the lowered text is identical);
    - argmax: 'und' when best <= 0, else first profile-order language
      reaching the max.

    ``tests/test_language_kernel.py`` holds the two forms equal row for
    row (Hypothesis text over 1-3 partitions: NULL, empty, Java-``\\s``
    and non-ASCII whitespace, CJK, ties, a very long document).
    """
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile("[ \t\n\x0b\f\r]+")
    order = tuple(LANG_PROFILES)  # profile order for first-max ties
    idx = {lang: i for i, lang in enumerate(order)}
    # one dict probe per token (stopwords overlap across languages —
    # 'la'/'de'/'un' are in both es and fr — so map word → index tuple)
    word_langs: dict[str, tuple[int, ...]] = {}
    for lang, words in LANG_PROFILES.items():
        if lang == "zh":
            continue
        for w in words:
            word_langs[w] = word_langs.get(w, ()) + (idx[lang],)
    zh_chars = tuple(LANG_PROFILES["zh"])
    zh_i = idx["zh"]
    n_langs = len(order)

    @pandas_udf("string")
    def _pred(lt: pd.Series) -> pd.Series:
        out = []
        get = word_langs.get
        for t in lt:
            if t is None:
                # expression form: every WHEN condition is NULL for NULL
                # text, so the CASE falls through to otherwise('und')
                out.append("und")
                continue
            scores = [0] * n_langs
            for tok in ws.split(t):
                hit = get(tok)
                if hit is not None:
                    for i in hit:
                        scores[i] += 1
            scores[zh_i] = sum(t.count(c) for c in zh_chars)
            best = max(scores)
            if best <= 0:
                out.append("und")
                continue
            out.append(order[scores.index(best)])
        return pd.Series(out)

    return _pred(lower_text)


def content_fingerprint(text: Column) -> Column:
    """Whitespace-normalized SHA-256 content fingerprint (F20) — the exact-
    dedup key: case-folded, runs of whitespace collapsed."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.sha2(normalized, 256)


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-token shingle array (distinct) from an ALREADY-MATERIALIZED token
    array column — the unit set for Jaccard/MinHash. Zero UDFs, linear in
    document length.

    ``toks`` must be a plain column reference, not the tokenization
    expression: this expression references it from inside transform
    lambdas, and Catalyst does not common-subexpression-eliminate across
    lambda boundaries — an inline ``split`` would re-run the regex once
    per shingle position (measured ~10× slowdown). Project the token
    array first (see operators.dedup call sites), then pass ``F.col``.
    """
    n = F.size(toks)
    joined = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.when(n >= k, F.array_distinct(joined)).otherwise(
        F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(
            F.array().cast("array<string>")
        )
    )


# --- PII detection / redaction -------------------------------------------
#
# The standard pre-training scrub (emails, phone numbers, IPv4) as plain
# Java-regex expressions — JVM-side, codegen-friendly, no UDF. Patterns
# stay in the RE2-compatible subset (char classes, bounded quantifiers, no
# backrefs) so a DuckDB oracle can run the identical strings.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # phone = ≥9 digits joined by optional single dashes, or ≥7 digits
    # after a literal '+' (international prefix). The digit COUNT is the
    # discriminator: an ISO date (2026-08-15) is a 9+-char digit/dash
    # run but only 8 digits, so a char-length rule ("\+?\d[\d-]{7,}\d",
    # the previous form) redacted every yyyy-MM-dd in the corpus as
    # [PHONE] — silently destroying dates in a training-data scrub.
    "phone": r"\+\d(?:-?\d){6,}|\d(?:-?\d){8,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

# Replacement order matters: IPv4 before phone (a dashed phone regex can
# never match a dotted IP, but an IP's digit runs could seed a partial
# phone match once neighbors are rewritten), email first since its local
# part may contain digits a later pass would chew up.
_PII_ORDER = ("email", "ipv4", "phone")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts (email/phone/ipv4) for audit metrics —
    one ``regexp_count`` scan per pattern, all JVM expressions."""
    return {
        name: F.regexp_count(text, F.lit(pat)) for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII span with a ``[TYPE]`` tag. Chained
    ``regexp_replace`` — a fixed number of passes over the string
    regardless of match count, order fixed by ``_PII_ORDER``."""
    out = text
    for name in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], f"[{name.upper()}]")
    return out


def winnowing_postings(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 4, w: int = 5
):
    """Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the
    MOSS local-fingerprinting algorithm) as an EXPLODED posting frame
    ``(id_col, fp)``: hash every k-token gram, slide a w-hash window,
    keep each window's MINIMUM hash, dedupe. Guarantee: two documents
    sharing any run of ≥ k+w−1 tokens share a fingerprint — the
    rolling-hash fingerprint family, robust to local edits where
    whole-document sha256 (q26/q31) is all-or-nothing. A document with
    fewer than k tokens has no fingerprint; one with fewer than w grams
    keeps its single minimum.

    Engine-portable by construction (the q34 trick): the "hash" is the
    first 12 hex chars of sha256(gram) compared as STRINGS — fixed-width
    lowercase hex is lexicographically ordered exactly like the number
    it encodes, and every engine computes the identical digest, so
    fingerprints (and the DuckDB oracle) agree bit-for-bit.

    Tokenization, hashing and the posting explode run inside one
    ``mapInPandas`` kernel. The expression form (nested
    ``transform``/``slice``/``array_min``) is interpreted per element
    AND gets re-inlined per reference when a ``Generate`` (explode)
    sits above it — CollapseProject + column pruning duplicated the
    gram transform 11× in the optimized plan (24 s for 500 docs). Three
    measured wins over a tokens-array → pandas_udf → ``F.explode``
    pipeline (z10 at sf0.1, 3.3 s → 1.5 s end-to-end):

    1. Arrow ships ONE text string per input row instead of a boxed
       ``array<string>`` (list<utf8> child-array assembly dominated
       that kernel's serde cost);
    2. rows leave Python already exploded, so no JVM ``Generate``
       sits above the UDF output (the Generate leg alone measured
       ~1 s);
    3. a per-TASK digest memo skips re-hashing grams repeated across
       documents (boilerplate), not just within one row batch.

    Tokenization matches ``ws_tokens`` bit-for-bit: split on Java's
    ASCII ``\\s`` class ``[ \\t\\n\\x0B\\f\\r]+`` and drop empties
    (Python's ``\\s`` is Unicode-wide, so the class is spelled out).
    Partition-preserving (no shuffle); per-row work O(tokens·k +
    windows·w); fingerprints are per-document DISTINCT and sorted, so
    the output is a set-semantics posting list."""
    import hashlib
    import re

    ws = re.compile("[ \t\n\x0b\f\r]+")
    id_type = df.schema[id_col].dataType.simpleString()

    def _emit(batches):
        sha256 = hashlib.sha256
        memo: dict[str, str] = {}
        for pdf in batches:
            ids: list = []
            fplists: list[list[str]] = []
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                toks = [t for t in ws.split(text) if t] if text is not None else []
                n = len(toks)
                if n < k:
                    continue
                hs = []
                for i in range(n - k + 1):
                    g = " ".join(toks[i : i + k])
                    h = memo.get(g)
                    if h is None:
                        h = sha256(g.encode("utf-8")).hexdigest()[:12]
                        memo[g] = h
                    hs.append(h)
                if len(hs) >= w:
                    fps = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
                else:
                    fps = {min(hs)}
                ids.append(doc_id)
                fplists.append(sorted(fps))
            if not ids:
                continue  # mapInPandas permits yielding fewer frames
            counts = [len(x) for x in fplists]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(np.asarray(ids), counts),
                    "fp": [f for fl in fplists for f in fl],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        _emit, f"{id_col} {id_type}, fp string"
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 32,
    stride: int = 24,
):
    """Overlapping word-window chunking — the context-window prep step
    of a RAG / training pipeline: each document becomes ⌈n/stride⌉
    chunks of ``width`` whitespace tokens starting every ``stride``
    tokens (the final chunk may be shorter), so consecutive chunks
    overlap by ``width − stride`` tokens and every token is covered.
    Output: (id, chunk_idx, chunk_start, n_chunk_words, chunk_hash) —
    the hash (md5 of the space-joined chunk) is the join key downstream
    chunk-level dedup or embedding caches use.

    Scale shape: pure column expressions end-to-end — one
    ``posexplode(sequence(0, n−1, stride))`` per document bounded by
    O(corpus_tokens / stride) output rows, ``slice`` + ``concat_ws`` +
    ``md5`` inside whole-stage codegen, no shuffle at all (the explode
    is partition-preserving; callers group or join on the result with
    their own keys). At 100 TB this is a map-only pass whose output is
    ~(1 + overlap) × input bytes; the two ``slice`` references per row
    are O(width) each and safe under CollapseProject (unlike the
    winnowing transform above, which is why THAT one is a kernel).

    Tokenization matches z18/z19 (``split(trim(text), '\\s+')`` on
    non-empty docs), so chunk boundaries line up with the substring
    dedup family's word positions."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    piece = F.slice(F.col("_w"), F.col("chunk_start") + 1, width)
    return (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), words.alias("_w"))
        .select(
            id_col,
            "_w",
            F.posexplode(
                F.sequence(
                    F.lit(0), F.size("_w") - 1, F.lit(stride)
                )
            ).alias("chunk_idx", "chunk_start"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.size(piece).cast("bigint").alias("n_chunk_words"),
            F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
        )
    )
