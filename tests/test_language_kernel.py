"""q29's Arrow kernel ``language_pred_kernel`` against its reference,
the expression form ``language_argmax(language_scores(...))``.

The kernel re-implements Java's tokenizer and the stopword/character
scores in Python; this differential test pins that it agrees with the
JVM expression row for row on hostile text: empty and NULL documents,
Java-``\\s`` whitespace (``\\x0B``, ``\\f``), non-ASCII whitespace that
must NOT split (U+00A0, U+3000), CJK-only text, profile ties, glued
tokens, upper case and a very long document, over 1-3 partitions.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
    LANG_PROFILES,
    language_argmax,
    language_pred_kernel,
    language_scores,
    ws_tokens,
)

_WORDS = sorted({w for words in LANG_PROFILES.values() for w in words})
_PIECES = _WORDS + [w.upper() for w in _WORDS if w.isascii()] + [
    "xyz",
    "Ünïcode",
    "😀",
    "İ",
]
# Java's \s is [ \t\n\x0B\f\r]; U+00A0 and U+3000 are not in it
_SEPS = [" ", "\t", "\n", "\x0b", "\f", "\r", "\u00a0", "\u3000", "  ", ""]

_text = st.none() | st.lists(
    st.tuples(st.sampled_from(_SEPS), st.sampled_from(_PIECES)), max_size=12
).map(lambda parts: "".join(s + w for s, w in parts))

_EDGES = [
    "",
    None,
    "   ",
    "the\x0band\fof",  # Java-\s separators: three en hits
    "la\u00a0la de",  # U+00A0 glues both 'la' into one non-stopword
    "el\u3000la",  # U+3000 does not split either: no hit at all
    "的是在了和",  # CJK only: zh by character count
    "the el",  # en/es tie -> en (profile order)
    "le der",  # fr/de tie -> fr
    "la",  # es and fr share 'la' -> es
    "in",  # en and de share 'in' -> en
    "THE And OF",
    " ".join(["der", "the", "die"] * 4000) + "的" * 5000,  # very long
]


def _predictions(spark, texts, n_parts):
    rdd = spark.sparkContext.parallelize(list(enumerate(texts)), n_parts)
    df = spark.createDataFrame(rdd, "id long, text string")
    lowered = F.lower(F.col("text"))
    scores = df.select(
        "id",
        lowered.alias("_lt"),
        *[
            s.alias(f"_s_{lang}")
            for lang, s in language_scores(ws_tokens(lowered), F.col("text")).items()
        ],
    )
    rows = scores.select(
        "id",
        language_pred_kernel(F.col("_lt")).alias("kernel"),
        language_argmax(
            {lang: F.col(f"_s_{lang}") for lang in LANG_PROFILES}
        ).alias("expr"),
    ).collect()
    return {r["id"]: (r["kernel"], r["expr"]) for r in rows}


@given(texts=st.lists(_text, max_size=30), n_parts=st.integers(1, 3))
@example(texts=_EDGES, n_parts=3)
@example(texts=_EDGES[:2], n_parts=3)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_language_kernel_matches_expression_form(spark, texts, n_parts):
    got = _predictions(spark, texts, n_parts)
    assert len(got) == len(texts)
    diverged = {
        i: (texts[i], k, e) for i, (k, e) in got.items() if k != e
    }
    assert not diverged, f"kernel vs expression form: {diverged}"


def test_language_kernel_edge_answers(spark):
    """The expected labels of the hand-picked edges, so the two forms
    cannot agree on a wrong answer unnoticed."""
    got = _predictions(spark, _EDGES, 2)
    assert [got[i][0] for i in range(len(_EDGES))] == [
        "und", "und", "und", "en", "es", "und", "zh",
        "en", "fr", "es", "en", "en", "de",
    ]
