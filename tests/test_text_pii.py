"""PII detection/redaction (functions.text): pattern coverage and
mask-order invariants; winnowing fingerprints against a pure-Python
reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.functions import text as T


def test_pii_counts_and_redaction(spark):
    s = (
        "write bob.smith+x@mail.example.org or call +1-555-0142-7 "
        "from host 192.168.1.254 today"
    )
    df = spark.createDataFrame([(s,)], "t string")
    counts = T.pii_counts(F.col("t"))
    row = df.select(
        counts["email"].alias("e"),
        counts["phone"].alias("p"),
        counts["ipv4"].alias("i"),
        T.redact_pii(F.col("t")).alias("r"),
    ).first()
    assert (row.e, row.p, row.i) == (1, 1, 1)
    assert row.r == (
        "write [EMAIL] or call [PHONE] from host [IPV4] today"
    )


def test_redact_pii_clean_text_untouched(spark):
    s = "no contact info here, just words and the number 42"
    df = spark.createDataFrame([(s,)], "t string")
    assert df.select(T.redact_pii(F.col("t")).alias("r")).first().r == s


def test_winnowing_fingerprint_guarantee(spark):
    """Winnowing invariants of ``winnowing_postings`` (z10's kernel,
    k=4, w=5): (a) two docs sharing a run of ≥ k+w−1 = 8 tokens share
    ≥1 fingerprint; (b) a doc shorter than k tokens, an empty text and
    a NULL text get no fingerprint; (c) a doc with ≥k tokens but fewer
    than w grams still gets exactly one fingerprint (the global min);
    (d) the kernel matches a pure-Python reference implementation."""
    import hashlib
    from collections import defaultdict

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, "xx yy " + shared + " zz"),
        (2, shared + " qq rr ss tt uu vv ww"),
        (3, "one two three"),  # < k tokens
        (4, "p q r s t"),  # 5 tokens → 2 grams < w
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = defaultdict(set)
    for r in T.winnowing_postings(df, "text", "doc_id", k=4, w=5).collect():
        out[r["doc_id"]].add(r["fp"])
    assert out[1] & out[2], "docs sharing an 8-token run must share a fp"
    assert out[3] == out[5] == out[6] == set()
    assert len(out[4]) == 1

    def ref_fps(text, k=4, w=5):
        t = (text or "").split()
        if len(t) < k:
            return set()
        hs = [
            hashlib.sha256(" ".join(t[i : i + k]).encode()).hexdigest()[:12]
            for i in range(len(t) - k + 1)
        ]
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    for doc_id, text in rows:
        assert out[doc_id] == ref_fps(text), doc_id
