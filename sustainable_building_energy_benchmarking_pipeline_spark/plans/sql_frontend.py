"""Spark-SQL front-end strings for the registry queries whose DuckDB
oracle text is not ANSI-portable (DuckDB list/lambda builtins, 1-based
slicing, ``quantile_cont``, ``ASOF JOIN`` ...).

The reference drives its store exclusively through SQL strings
(reference src/db.py:138-163), so SQL-string parity is product surface,
not test scaffolding: a user porting reference SQL must be able to run
every query shape through ``spark.sql(...)``.

For 21 queries the text here IS the implementation: their registry entry
is ``QuerySpec(partial(run_sql, SPARK_SQL[name]), oracle)``, and the
DuckDB oracle checks the translation. For the queries that keep a
DataFrame body, ``tests/test_sql_surface.py`` asserts the text gives the
body's answer at sf0.001. ``run_sql`` and ``QuerySpec`` live here too,
since both registry modules import them and this module imports nothing
from ``plans``.

Dialect translation notes (DuckDB → Spark):
- ``string_split_regex``→``split``, ``list_filter``→``filter``,
  ``list_transform``→``transform``, ``list_sum``→``aggregate``,
  ``LEN``→``size``/``length``, ``list_distinct``→``array_distinct``,
  ``array_to_string``→``array_join``, ``UNNEST``→``LATERAL VIEW
  explode``; 1-based ``l[i]``/``l[i:j]`` → ``element_at``/``slice``.
- ``sha256(x)``→``sha2(x, 256)``; ``epoch_us``→``unix_micros``;
  ``make_timestamp(us)``→``timestamp_micros``;
  ``quantile_cont``→``percentile``; ``time_bucket``→unix-second floor.
- ``ASOF JOIN`` → max-ts-per-left + join-back (same inner semantics).
- ``WITH RECURSIVE`` transitive closure (q50) → unrolled min-label
  propagation (near-dup graphs are unions of near-cliques; sf0.001's
  diameter is covered by 4 rounds — parity-tested, not assumed).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    EXPECTED_TESTDATA_COLUMNS,
    load_table,
)


@dataclass(frozen=True)
class QuerySpec:
    """One registry query: ``fn(spark, sf_dir) -> DataFrame`` and its
    DuckDB oracle text (``None``: rows-only check)."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]


# A testdata table named as a whole word. On the registry's texts this
# finds exactly their FROM/JOIN tables: no CTE, alias or column is
# spelled like one.
_TABLE_NAME = re.compile(r"\b(" + "|".join(EXPECTED_TESTDATA_COLUMNS) + r")\b")


def run_sql(text: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a registry SQL text over the tables in ``sf_dir``.

    Each testdata table the text names is bound to a temp view of that
    name through ``session.load_table``, so a table missing from
    ``sf_dir`` raises there, and a view left by an earlier ``sf_dir`` is
    never read. ``spark.sql`` analyzes at once, so the returned frame
    keeps reading ``sf_dir`` after a later call rebinds the views.
    """
    for name in dict.fromkeys(_TABLE_NAME.findall(text)):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(text)


# Shared fragments -----------------------------------------------------------

_TOKS = r"filter(split(trim(lower(text)), '\\s+'), t -> t <> '')"
_TOKS_CASED = r"filter(split(trim(text), '\\s+'), t -> t <> '')"

# 3-gram shingle set of a token array (mirrors operators/dedup shingles;
# NB DuckDB's l[i:i+2] slice is INCLUSIVE of both ends = 3 elements)
_SHINGLES3 = (
    "CASE WHEN size(toks) >= 3 THEN "
    "array_distinct(transform(sequence(1, size(toks) - 2), "
    "i -> array_join(slice(toks, i, 3), ' '))) "
    "WHEN size(toks) > 0 THEN array(array_join(toks, ' ')) "
    "ELSE array() END"
)

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def _cos_topk(alias_id: str) -> str:
    """Brute-force cosine top-10 against vec_id 0 (q27/q36/q49 oracle shape)."""
    dot = _DOT.format(a="e.embedding", b="q.qv")
    n1 = _DOT.format(a="e.embedding", b="e.embedding")
    n2 = _DOT.format(a="q.qv", b="q.qv")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         {dot} AS dot, {n1} AS n1, {n2} AS n2
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
)
SELECT vec_id AS {alias_id}, ROUND(dot / (SQRT(n1) * SQRT(n2)), 4) AS cosine_sim
FROM d
ORDER BY dot / (SQRT(n1) * SQRT(n2)) DESC, {alias_id}
LIMIT 10
"""


_STOPSETS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
}
_ZH_CHARS = ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"]


def _stop_count(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _STOPSETS[lang])
    return f"size(filter(toks, t -> array_contains(array({arr}), t)))"


_ZH_COUNT = " + ".join(
    f"(length(text) - length(replace(text, '{c}', '')))" for c in _ZH_CHARS
)

_LANG_SCORES = [
    ("en", _stop_count("en")),
    ("es", _stop_count("es")),
    ("fr", _stop_count("fr")),
    ("de", _stop_count("de")),
    ("zh", f"({_ZH_COUNT})"),
]
_GREATEST = "GREATEST(" + ", ".join(s for _, s in _LANG_SCORES) + ")"
_LANG_CASE = (
    f"CASE WHEN {_GREATEST} <= 0 THEN 'und' "
    + " ".join(
        f"WHEN {score} = {_GREATEST} THEN '{lang}'" for lang, score in _LANG_SCORES
    )
    + " ELSE 'und' END"
)


SPARK_SQL: dict[str, str] = {}

# --- simple builtin swaps ---------------------------------------------------

SPARK_SQL["q08_conditional_share"] = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       ROUND(100.0D * SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_positive
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

SPARK_SQL["q19_ffill"] = """
SELECT event_id, user_id,
       ROUND(COALESCE(
         LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END, true)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0.0), 4) AS value_ffilled
FROM events
"""

SPARK_SQL["q23_hourly_profile"] = """
WITH g AS (
  SELECT CAST(HOUR(ts) AS INTEGER) AS hour, event_type,
         COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
  FROM events
  GROUP BY 1, 2
)
SELECT hour, event_type, n,
       CAST((200 * s + n) DIV (2 * n) AS DOUBLE) / 10000.0 AS avg_value
FROM g
ORDER BY hour, event_type
"""

SPARK_SQL["q24_json_extract"] = """
SELECT event_type,
       ROUND(AVG(CAST(get_json_object(props, '$.k') AS BIGINT)), 4) AS avg_k,
       MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""

SPARK_SQL["q25_text_stats"] = """
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       ROUND(AVG(size(split(text, ' '))), 4) AS avg_tokens,
       CAST(MAX(size(split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""

SPARK_SQL["q26_exact_dedup"] = """
WITH h AS (
  SELECT sha2(text, 256) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
  FROM documents GROUP BY 1
)
SELECT COUNT(*) AS n_unique,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_duplicates_removed
FROM h
"""

SPARK_SQL["q27_embedding_topk"] = _cos_topk("vec_id")
SPARK_SQL["q36_ann_lsh_topk"] = _cos_topk("id")
SPARK_SQL["q49_ivf_topk"] = _cos_topk("id")

SPARK_SQL["q28_bpe_tokens"] = r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0))) AS BIGINT) AS total_tokens,
       ROUND(AVG(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0))), 4) AS avg_tokens
FROM documents
GROUP BY source
ORDER BY source
"""

SPARK_SQL["q29_language_id"] = f"""
WITH d AS (
  SELECT lang, text, {_TOKS} AS toks FROM documents
), p AS (
  SELECT lang, {_LANG_CASE} AS lang_pred FROM d
)
SELECT lang, lang_pred, COUNT(*) AS n
FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""

SPARK_SQL["q30_quality_filter"] = f"""
WITH d AS (
  SELECT source, text,
         {_TOKS_CASED} AS ctoks,
         {_TOKS} AS toks
  FROM documents
), m AS (
  SELECT source,
         size(ctoks) AS n_tok,
         CASE WHEN size(ctoks) > 0
              THEN CAST(aggregate(ctoks, 0, (a, t) -> a + length(t)) AS DOUBLE) / size(ctoks)
              ELSE 0.0 END AS awl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\\\s]', '')) AS DOUBLE) / length(text)
              ELSE 0.0 END AS punct,
         CASE WHEN size(toks) > 0
              THEN CAST(size(filter(toks, t -> array_contains(array('the','and','of','to','a','in','is','that','for','with'), t))) AS DOUBLE) / size(toks)
              ELSE 0.0 END AS stopr
  FROM d
), s AS (
  SELECT source,
         (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0D ELSE 0.0D END) * 0.3D
       + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0D ELSE 0.0D END) * 0.3D
       + (CASE WHEN punct < 0.3 THEN 1.0D ELSE 0.0D END) * 0.2D
       + (CASE WHEN stopr > 0.01 THEN 1.0D ELSE 0.0D END) * 0.2D AS q
  FROM m
)
SELECT source,
       ROUND(AVG(q), 4) AS avg_quality,
       CAST(SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
       COUNT(*) AS n_docs
FROM s GROUP BY source ORDER BY source
"""

SPARK_SQL["q31_fingerprint_dedup"] = r"""
SELECT COUNT(DISTINCT sha2(lower(regexp_replace(trim(text), '\\s+', ' ')), 256)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT sha2(lower(regexp_replace(trim(text), '\\s+', ' ')), 256)) AS n_duplicates
FROM documents
"""

# --- dedup / similarity family ---------------------------------------------

SPARK_SQL["q32_jaccard_neardup"] = f"""
WITH d AS (
  SELECT doc_id, lang, CAST(FLOOR(n_chars / 100) AS BIGINT) AS blk,
         {_TOKS} AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, blk, {_SHINGLES3} AS sh FROM d
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
           / size(array_distinct(concat(a.sh, b.sh))) AS jaccard
  FROM s a JOIN s b
    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM p WHERE jaccard >= 0.04
ORDER BY id_a, id_b
"""

SPARK_SQL["q33_minhash_neardup"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, {_SHINGLES3} AS sh FROM d
), z AS (
  SELECT doc_id, size(sh) AS n, g
  FROM s LATERAL VIEW explode(sh) t AS g
), i AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM z a JOIN z b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM i WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""

# SimHash: per-token sha256-hex → 64 sign votes → per-bit majority sign;
# hamming = count of differing vote signs (bit order irrelevant to the count)
SPARK_SQL["q34_simhash_neardup"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), h AS (
  SELECT doc_id, transform(toks, t -> substr(sha2(t, 256), 1, 16)) AS hx FROM d
), v AS (
  SELECT doc_id,
         transform(sequence(0, 63), j ->
           coalesce(aggregate(hx, 0, (acc, x) ->
             acc + 2 * ((CAST(conv(substr(x, CAST(16 - FLOOR(j / 4) AS INT), 1), 16, 10) AS INT) >> CAST(j % 4 AS INT)) & 1) - 1
           ), 0)) AS votes
  FROM h
), g AS (
  SELECT doc_id, transform(votes, w -> CASE WHEN w > 0 THEN 1 ELSE 0 END) AS sig FROM v
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> x <> y), z -> z)) AS INT) AS hamming
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE size(filter(zip_with(a.sig, b.sig, (x, y) -> x <> y), z -> z)) <= 3
"""

SPARK_SQL["q35_embedding_neardup"] = f"""
WITH d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="a.embedding", b="b.embedding")} AS dot,
         {_DOT.format(a="a.embedding", b="a.embedding")} AS na,
         {_DOT.format(a="b.embedding", b="b.embedding")} AS nb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine
FROM d WHERE dot / (SQRT(na) * SQRT(nb)) >= 0.4
ORDER BY id_a, id_b
"""

SPARK_SQL["q37_knn_per_label"] = f"""
WITH p AS (
  SELECT a.vec_id AS id, a.label AS label, b.vec_id AS neighbor_id,
         {_DOT.format(a="a.embedding", b="b.embedding")}
           / (COALESCE(NULLIF(SQRT({_DOT.format(a="a.embedding", b="a.embedding")}), 0D), 1D)
              * COALESCE(NULLIF(SQRT({_DOT.format(a="b.embedding", b="b.embedding")}), 0D), 1D)) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
), r AS (
  SELECT id, label, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id) AS rn
  FROM p
)
SELECT id, label, neighbor_id, ROUND(cos, 4) AS cosine_sim
FROM r WHERE rn <= 3
"""

SPARK_SQL["q38_media_metadata"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         element_at(array('image', 'audio', 'video'), CAST(doc_id % 3 AS INT) + 1) AS kind,
         octet_length(text) AS n_bytes,
         CAST(n_chars % 640 + 64 AS INT) AS width,
         CAST(n_chars % 480 + 48 AS INT) AS height
  FROM documents
)
SELECT kind,
       COUNT(*) AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(width), 4) AS avg_width,
       ROUND(AVG(height), 4) AS avg_height
FROM m GROUP BY kind ORDER BY kind
"""

SPARK_SQL["q39_frame_sample"] = """
SELECT doc_id AS media_id,
       CAST(FLOOR((n_chars * 10 - 1) / 1000) + 1 AS BIGINT) AS n_frames,
       CAST(FLOOR((n_chars * 10 - 1) / 1000) * 1000 AS BIGINT) AS last_frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2 AND n_chars > 0
ORDER BY media_id
"""

SPARK_SQL["q40_numeric_profile"] = """
WITH u AS (
  SELECT 'l_quantity' AS col, l_quantity AS v FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
)
SELECT col AS `column`,
       CAST(COUNT(v) AS DOUBLE) AS `count`,
       ROUND(AVG(v), 4) AS mean,
       ROUND(STDDEV_SAMP(v), 4) AS std,
       ROUND(MIN(v), 4) AS `min`,
       ROUND(percentile(v, 0.25), 4) AS q1,
       ROUND(percentile(v, 0.5), 4) AS median,
       ROUND(percentile(v, 0.75), 4) AS q3,
       ROUND(MAX(v), 4) AS `max`
FROM u GROUP BY col ORDER BY col
"""

SPARK_SQL["q44_asof_attribution"] = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
), best AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
         MAX(c.ts) AS click_ts
  FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
  GROUP BY p.event_id, p.user_id, p.ts
)
SELECT b.purchase_id, b.user_id, b.purchase_ts,
       c.event_id AS click_id, b.click_ts,
       unix_micros(b.purchase_ts) - unix_micros(b.click_ts) AS gap_us
FROM best b JOIN c ON b.user_id = c.user_id AND b.click_ts = c.ts
ORDER BY purchase_id
"""

# q50: DuckDB's WITH RECURSIVE closure → unrolled min-label propagation.
# Spark 4 recursive CTEs require UNION ALL (the cyclic closure graph would
# not terminate), so propagate min labels a fixed 6 rounds instead —
# near-dup graphs are unions of near-cliques (diameter ≤ ~3). A graph
# needing MORE rounds (a long chain of pairwise near-dups) must fail
# LOUDLY, not return intermediate labels as if converged: the `chk` CTE
# compares rounds 5 and 6 and raises through assert_true when any label
# is still moving, directing the user to the DataFrame path
# (dedup_clusters iterates to true convergence).
SPARK_SQL["q50_dedup_clusters"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, {_SHINGLES3} AS sh FROM d
), z AS (
  SELECT doc_id, size(sh) AS n, g
  FROM s LATERAL VIEW explode(sh) t AS g
), i AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM z a JOIN z b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), p AS (
  SELECT id_a, id_b FROM i
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
), e AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b, id_a FROM p
  UNION
  SELECT id_a, id_a FROM p
  UNION
  SELECT id_b, id_b FROM p
), l0 AS (
  SELECT u, MIN(v) AS lbl FROM e GROUP BY u
), l1 AS (
  SELECT e.u, MIN(l0.lbl) AS lbl FROM e JOIN l0 ON e.v = l0.u GROUP BY e.u
), l2 AS (
  SELECT e.u, MIN(l1.lbl) AS lbl FROM e JOIN l1 ON e.v = l1.u GROUP BY e.u
), l3 AS (
  SELECT e.u, MIN(l2.lbl) AS lbl FROM e JOIN l2 ON e.v = l2.u GROUP BY e.u
), l4 AS (
  SELECT e.u, MIN(l3.lbl) AS lbl FROM e JOIN l3 ON e.v = l3.u GROUP BY e.u
), l5 AS (
  SELECT e.u, MIN(l4.lbl) AS lbl FROM e JOIN l4 ON e.v = l4.u GROUP BY e.u
), l6 AS (
  SELECT e.u, MIN(l5.lbl) AS lbl FROM e JOIN l5 ON e.v = l5.u GROUP BY e.u
), chk AS (
  SELECT COALESCE(assert_true(
           COUNT(*) = 0,
           'q50 SQL surface: min-label propagation not converged within 6 rounds (near-dup graph diameter too large for the unrolled SQL form); use dedup_clusters, which iterates to convergence'
         ), CAST(0 AS BIGINT)) AS zero
  FROM l5 JOIN l6 ON l5.u = l6.u
  WHERE l5.lbl <> l6.lbl
)
SELECT doc_id,
       COALESCE(l6.lbl, doc_id) + (SELECT zero FROM chk) AS cluster_rep,
       doc_id = COALESCE(l6.lbl, doc_id) + (SELECT zero FROM chk) AS is_rep
FROM documents LEFT JOIN l6 ON documents.doc_id = l6.u
"""

SPARK_SQL["q51_bm25_search"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), lens AS (
  SELECT doc_id, CAST(size(toks) AS DOUBLE) AS dl FROM base
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, t FROM base LATERAL VIEW explode(toks) x AS t)
  WHERE t IN ('join', 'stream', 'window')
  GROUP BY doc_id, t
), dfreq AS (
  SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY t
), scored AS (
  SELECT tf.doc_id,
         LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS term_score
  FROM tf JOIN dfreq d USING (t) JOIN lens l USING (doc_id) CROSS JOIN stats s
)
SELECT doc_id, ROUND(SUM(term_score), 4) AS bm25
FROM scored GROUP BY doc_id
ORDER BY SUM(term_score) DESC, doc_id
LIMIT 10
"""

SPARK_SQL["q52_event_sequences"] = """
SELECT user_id,
       COUNT(*) AS n_events,
       sha2(array_join(transform(
         array_sort(collect_list(struct(ts, event_id, event_type))),
         x -> x.event_type), ','), 256) AS seq_sha
FROM events
GROUP BY user_id
"""

SPARK_SQL["q53_stratified_sample"] = """
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sha2(CAST(doc_id AS STRING), 256), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank
FROM r WHERE rk <= 20
"""

SPARK_SQL["q54_sketch_aggregates"] = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS hll_within_5pct,
       ROUND(percentile(value, 0.5), 4) AS p50_exact,
       TRUE AS p50_sketch_within_5pct,
       ROUND(percentile(value, 0.95), 4) AS p95_exact,
       TRUE AS p95_sketch_within_5pct
FROM events
"""

SPARK_SQL["q56_tumbling_windows"] = """
SELECT timestamp_seconds(FLOOR(unix_seconds(ts) / 21600) * 21600) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""

SPARK_SQL["q57_hopping_windows"] = """
WITH expanded AS (
  SELECT timestamp_seconds(FLOOR(unix_seconds(ts) / 7200) * 7200 - off * 7200) AS window_start
  FROM events LATERAL VIEW explode(sequence(0, 2)) o AS off
)
SELECT window_start, COUNT(*) AS n_events
FROM expanded
GROUP BY window_start
"""

SPARK_SQL["q59_shard_packing"] = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(size({_TOKS_CASED}) AS BIGINT) AS n_tok
  FROM documents
), s AS (
  SELECT lang,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / 50000) AS INT) AS shard,
         n_tok
  FROM t
)
SELECT lang, shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM s GROUP BY lang, shard
"""

SPARK_SQL["q60_top_bigrams"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), b AS (
  SELECT doc_id, bigram
  FROM t
  LATERAL VIEW explode(transform(sequence(1, size(tk) - 1),
    i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) x AS bigram
  WHERE size(tk) >= 2
)
SELECT bigram, COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 20
"""

SPARK_SQL["q61_decontaminate"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN size(tk) >= 5 THEN
           array_distinct(transform(sequence(1, size(tk) - 4),
             i -> array_join(slice(tk, i, 5), ' ')))
         WHEN size(tk) > 0 THEN array(array_join(tk, ' '))
         ELSE array() END AS sh
  FROM d
), e AS (
  SELECT DISTINCT g FROM s LATERAL VIEW explode(sh) t AS g WHERE doc_id % 97 = 0
), c AS (
  SELECT doc_id, g FROM s LATERAL VIEW explode(sh) t AS g WHERE doc_id % 97 <> 0
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared,
       COUNT(DISTINCT c.g) >= 3 AS contaminated
FROM c JOIN e USING (g)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""

SPARK_SQL["q62_repetition_quality"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), t AS (
  SELECT doc_id, tok FROM d LATERAL VIEW explode(tk) x AS tok
), c AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS distinct_ratio,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top_fraction,
       (CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) > 0.25
        OR CAST(COUNT(*) AS DOUBLE) / SUM(cnt) < 0.5) AS repetitive
FROM c
GROUP BY doc_id
ORDER BY doc_id
"""

SPARK_SQL["q63_value_percentiles"] = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(percentile(value, 0.5), 4) AS p50,
       ROUND(percentile(value, 0.9), 4) AS p90,
       ROUND(percentile(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""

SPARK_SQL["q64_range_join_windows"] = """
WITH m AS (
  SELECT MIN(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')) AS mn_day
  FROM orders
), w AS (
  SELECT i AS window_id, mn_day + i * 70 AS lo, mn_day + i * 70 + 20 AS hi
  FROM m LATERAL VIEW explode(sequence(0, 39)) t AS i
), p AS (
  SELECT datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS p, o_totalprice
  FROM orders
)
SELECT window_id,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM p JOIN w ON p.p >= w.lo AND p.p < w.hi
GROUP BY window_id
ORDER BY window_id
"""

SPARK_SQL["q65_hash_split"] = """
WITH s AS (
  SELECT CASE WHEN SUBSTR(sha2(CAST(doc_id AS STRING), 256), 1, 1) <= 'b' THEN 'train'
              WHEN SUBSTR(sha2(CAST(doc_id AS STRING), 256), 1, 1) <= 'd' THEN 'val'
              ELSE 'test' END AS split,
         doc_id, n_chars
  FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s
GROUP BY split
ORDER BY split
"""

SPARK_SQL["q66_pii_redaction"] = r"""
WITH c AS (
  SELECT c_custkey,
         concat(c_name, ' <', lower(replace(c_name, '#', '.')),
                '@example.com> +1-555-',
                lpad(CAST(c_custkey % 10000 AS STRING), 4, '0'),
                ' ip 10.', CAST(c_custkey % 256 AS STRING),
                '.', CAST(c_custkey % 100 AS STRING), '.7') AS contact
  FROM customer
)
SELECT c_custkey,
       CAST(size(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) AS INT) AS n_email,
       CAST(size(regexp_extract_all(contact, '\\+\\d(?:-?\\d){6,}|\\d(?:-?\\d){8,}', 0)) AS INT) AS n_phone,
       CAST(size(regexp_extract_all(contact, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', 0)) AS INT) AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]'),
         '\\+\\d(?:-?\\d){6,}|\\d(?:-?\\d){8,}', '[PHONE]') AS redacted
FROM c
ORDER BY c_custkey
"""

SPARK_SQL["q69_trailing_hour"] = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       ROUND(SUM(value) OVER w, 4) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

SPARK_SQL["q70_doc_chunks"] = """
WITH e AS (
  SELECT doc_id, text, chunk_id
  FROM documents
  LATERAL VIEW explode(sequence(0, CAST(CEIL(length(text) / 200.0) AS INT) - 1)) t AS chunk_id
  WHERE length(text) > 0
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(length(substr(text, CAST(chunk_id AS INT) * 200 + 1, 200)) AS INT) AS chunk_chars,
       sha2(substr(text, CAST(chunk_id AS INT) * 200 + 1, 200), 256) AS chunk_sha
FROM e
ORDER BY doc_id, chunk_id
"""

SPARK_SQL["q72_cohort_retention"] = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT cohort_week,
       CAST(FLOOR(datediff(wk, cohort_week) / 7) AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS users
FROM active JOIN first USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""

SPARK_SQL["q76_mad_outliers"] = """
WITH med AS (
  SELECT event_type, percentile(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, percentile(dev, 0.5) AS mad, any_value(med) AS med
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(any_value(m.med), 4) AS med,
       ROUND(any_value(m.mad), 4) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""

SPARK_SQL["q77_tfidf_terms"] = f"""
WITH toks AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
  LATERAL VIEW explode(tk) x AS term
), pairs AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(*) AS df FROM pairs GROUP BY term
), scored AS (
  SELECT p.doc_id, p.term,
         p.tf * LN((SELECT COUNT(*) FROM documents) * 1.0 / d.df) AS score
  FROM pairs p JOIN dft d USING (term)
), r AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, ROUND(score, 6) AS score
FROM r WHERE rank <= 3
ORDER BY doc_id, rank
"""

SPARK_SQL["q78_grid_interpolation"] = """
WITH ev AS (
  SELECT user_id, ts, AVG(value) AS value, MIN(event_id) AS event_id
  FROM events GROUP BY user_id, ts
), bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1
  FROM ev GROUP BY user_id
), grid AS (
  SELECT user_id, g AS ts
  FROM bounds LATERAL VIEW explode(sequence(t0, t1, INTERVAL 1 HOUR)) x AS g
), u AS (
  SELECT user_id, unix_micros(ts) AS ts_us, value, 0 AS is_grid, event_id FROM ev
  UNION ALL
  SELECT user_id, unix_micros(ts), NULL, 1, NULL FROM grid
), f AS (
  SELECT user_id, ts_us, is_grid,
         LAST_VALUE(value, true) OVER w_past AS pv,
         LAST_VALUE(CASE WHEN is_grid = 0 THEN ts_us END, true) OVER w_past AS pt,
         LAST_VALUE(value, true) OVER w_future AS nv,
         LAST_VALUE(CASE WHEN is_grid = 0 THEN ts_us END, true) OVER w_future AS nt
  FROM u
  WINDOW
    w_past AS (PARTITION BY user_id ORDER BY ts_us, is_grid, COALESCE(event_id, 4611686018427387904)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    -- the look-ahead is a look-back over the exactly reversed order: Spark
    -- recomputes an UNBOUNDED FOLLOWING frame per row, O(n^2) per user
    w_future AS (PARTITION BY user_id
                 ORDER BY ts_us DESC NULLS LAST, is_grid DESC NULLS LAST,
                          COALESCE(event_id, 4611686018427387904) DESC NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, timestamp_micros(ts_us) AS grid_ts,
       ROUND(CASE WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (ts_us - pt) * 1.0 / (nt - pt)
             END, 4) AS value
FROM f WHERE is_grid = 1
ORDER BY user_id, grid_ts
"""

SPARK_SQL["q80_token_entropy"] = f"""
WITH toks AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
  LATERAL VIEW explode(tk) x AS term
), cnt AS (
  SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6) AS entropy
FROM cnt GROUP BY doc_id
ORDER BY doc_id
"""

SPARK_SQL["q81_linear_trend"] = """
SELECT event_type,
       ROUND(regr_slope(y, x), 6) AS slope,
       ROUND(regr_intercept(y, x), 4) AS intercept,
       ROUND(regr_r2(y, x), 6) AS r2,
       CAST(regr_count(y, x) AS BIGINT) AS n
FROM (SELECT event_type, unix_micros(ts) / 3600000000.0 AS x, value AS y FROM events)
GROUP BY event_type
ORDER BY event_type
"""

SPARK_SQL["q83_event_transitions"] = """
WITH t AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS curr_type
  FROM events
), c AS (
  SELECT prev_type, curr_type, COUNT(*) AS n
  FROM t WHERE prev_type IS NOT NULL
  GROUP BY prev_type, curr_type
)
SELECT prev_type, curr_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM c
ORDER BY prev_type, curr_type
"""

SPARK_SQL["q84_equidepth_histogram"] = """
WITH cuts AS (
  SELECT event_type,
         percentile(value, 0.25) AS q1,
         percentile(value, 0.5)  AS q2,
         percentile(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(e.value > c.q1 AS INT) + CAST(e.value > c.q2 AS INT)
         + CAST(e.value > c.q3 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type, bucket
ORDER BY e.event_type, bucket
"""

SPARK_SQL["q86_trailing_error_rate"] = """
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS n_errors_10,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w
             / COUNT(*) OVER w, 6) AS err_rate
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

SPARK_SQL["q88_funnel_latency"] = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2, any_value(v.t1) AS t1
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3, any_value(c.t1) AS t1
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
), lat AS (
  SELECT (unix_micros(t3) - unix_micros(t1)) / 1000000.0D AS latency_s FROM p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(AVG(latency_s), 4) AS avg_s,
       ROUND(percentile(latency_s, 0.5), 4) AS median_s,
       ROUND(MAX(latency_s), 4) AS max_s
FROM lat
"""

SPARK_SQL["q90_embedding_stats"] = """
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       any_value(size(embedding)) AS dim,
       ROUND(AVG(SQRT(aggregate(embedding, CAST(0 AS DOUBLE),
                                (a, x) -> a + CAST(x AS DOUBLE) * x))), 6) AS avg_norm,
       ROUND(AVG(CAST(element_at(embedding, 1) AS DOUBLE)), 6) AS avg_c0
FROM embeddings
GROUP BY label
ORDER BY label
"""

SPARK_SQL["q91_outer_explode"] = f"""
WITH t AS (
  SELECT doc_id,
         filter({_TOKS}, x -> length(x) > 8) AS arr
  FROM documents
)
SELECT doc_id, CAST(pos AS INT) AS pos, token
FROM t
LATERAL VIEW OUTER posexplode(arr) e AS pos, token
ORDER BY doc_id, pos
"""

SPARK_SQL["q97_boilerplate_ngrams"] = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN size(tk) >= 5 THEN
           array_distinct(transform(sequence(1, size(tk) - 4),
             i -> array_join(slice(tk, i, 5), ' ')))
         WHEN size(tk) > 0 THEN array(array_join(tk, ' '))
         ELSE array() END AS sh
  FROM d
), posts AS (
  SELECT doc_id, g FROM s LATERAL VIEW explode(sh) t AS g
), common AS (
  SELECT g FROM posts GROUP BY g HAVING COUNT(*) >= 3
), boiler AS (
  SELECT doc_id, COUNT(*) AS n_boiler FROM posts JOIN common USING (g) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(size(s.sh) AS BIGINT) AS n_grams,
       CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
       ROUND(CASE WHEN size(s.sh) > 0
                  THEN COALESCE(b.n_boiler, 0) * 1.0D / size(s.sh)
                  ELSE 0.0D END, 6) AS boiler_frac
FROM s LEFT JOIN boiler b USING (doc_id)
ORDER BY s.doc_id
"""

SPARK_SQL["q98_source_mix_weights"] = f"""
WITH t AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(size({_TOKS_CASED})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), norm AS (
  SELECT SUM(POW(n_tokens, 0.7D)) AS z FROM t
)
SELECT source, n_docs, n_tokens,
       ROUND(POW(n_tokens, 0.7D) / z, 6) AS mix_weight,
       ROUND(1000000.0D * (POW(n_tokens, 0.7D) / z) / n_tokens, 4) AS epochs_at_1m
FROM t CROSS JOIN norm
ORDER BY source
"""

SPARK_SQL["q99_lexical_richness"] = f"""
WITH toks AS (
  SELECT lang, term
  FROM (SELECT lang, {_TOKS} AS tk FROM documents)
  LATERAL VIEW explode(tk) x AS term
), c AS (
  SELECT lang, term, COUNT(*) AS cnt FROM toks GROUP BY lang, term
)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab_size,
       ROUND(COUNT(*) * 1.0D / SUM(cnt), 6) AS type_token_ratio,
       ROUND(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1.0D / COUNT(*), 6) AS hapax_frac
FROM c
GROUP BY lang
ORDER BY lang
"""

SPARK_SQL["q96_percentile_disc"] = """
SELECT event_type,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
       percentile_disc(0.9)  WITHIN GROUP (ORDER BY value) AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# z02: DuckDB list_filter/string_split_regex/UNNEST → Spark filter/split/
# explode. The SQL surface expresses the exact SEMANTICS (full group-by
# top-k); the sketch-candidate plan is the DataFrame path's optimization.
SPARK_SQL["z02_heavy_hitters"] = f"""
WITH t AS (
  SELECT {_TOKS} AS tk FROM documents
), w AS (
  SELECT explode(tk) AS token FROM t
)
SELECT token, COUNT(*) AS cnt
FROM w GROUP BY token
ORDER BY cnt DESC, token
LIMIT 20
"""

# z03: DuckDB sha256 → sha2(..., 256). The SQL surface states the
# semantics with a plain global-window ROW_NUMBER; the DataFrame path
# computes the identical positions via the two-pass distributed rank
# (no single-partition window) — same answer, scalable plan.
SPARK_SQL["z03_deterministic_shuffle"] = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (
         ORDER BY sha2(CONCAT('42:', COALESCE(CAST(doc_id AS STRING), '')), 256)
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
ORDER BY doc_id
"""

# z05: DuckDB list_sum(list(... ORDER BY lang)) → Spark
# aggregate(sort_array(collect_list(named_struct(...)))) — both fold the
# √n normalizer in lang order so the float sum is bit-identical (float
# addition is non-associative; an unordered SUM can wobble a last ulp
# that FLOOR amplifies into a ±1-row sample); sha256 → sha2(..., 256).
SPARK_SQL["z05_temperature_sample"] = """
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), norm AS (
  SELECT aggregate(
           sort_array(collect_list(named_struct(
             'lang', lang, 's', sqrt(CAST(n_docs AS DOUBLE))))),
           CAST(0 AS DOUBLE), (acc, x) -> acc + x.s) AS _norm,
         SUM(n_docs) AS _total
  FROM per
), targets AS (
  SELECT lang, n_docs,
         CAST(GREATEST(1, FLOOR(0.2D * _total * sqrt(CAST(n_docs AS DOUBLE)) / _norm)) AS INT) AS target
  FROM per CROSS JOIN norm
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sha2(CAST(doc_id AS STRING), 256), doc_id) AS rk
  FROM documents
)
SELECT t.lang AS lang, t.n_docs AS n_docs, t.target AS target,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(r.doc_id) AS BIGINT) AS id_checksum
FROM ranked r JOIN targets t USING (lang)
WHERE r.rk <= t.target
GROUP BY t.lang, t.n_docs, t.target
ORDER BY lang
"""

# z06: DuckDB's RANGE-join element indexing → the zip_with dot product.
# The SQL surface states the semantics as the cross-label pair join; the
# DataFrame path computes the identical answer via the chunked block
# GEMM (bounded per-task memory) — same answer, scalable plan.
# Zero-norm embeddings: every engine substitutes norm→1
# (COALESCE(NULLIF(norm, 0), 1) here, `norms[norms == 0] = 1` in the
# GEMM kernel) so a zero vector scores cosine 0 and stays rankable
# instead of yielding NULL/NaN in one path only.
SPARK_SQL["z06_hard_negatives"] = f"""
WITH p AS (
  SELECT a.vec_id AS id, a.label AS label, b.vec_id AS neighbor_id,
         b.label AS neighbor_label,
         {_DOT.format(a="a.embedding", b="b.embedding")}
           / (COALESCE(NULLIF(SQRT({_DOT.format(a="a.embedding", b="a.embedding")}), 0D), 1D)
              * COALESCE(NULLIF(SQRT({_DOT.format(a="b.embedding", b="b.embedding")}), 0D), 1D)) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label <> b.label
), r AS (
  SELECT id, label, neighbor_id, neighbor_label, cos,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id) AS rn
  FROM p
)
SELECT id, label, neighbor_id, neighbor_label, ROUND(cos, 4) AS cosine_sim
FROM r WHERE rn <= 1
ORDER BY id
"""

# z07: DuckDB list fns → Spark array fns; the scalar-range bigram build
# becomes transform-with-index over the token slice (element_at is
# 1-based like DuckDB's t[i]).
_Z_TOKS = r"filter(split(trim(text), '\\s+'), x -> x <> '')"
SPARK_SQL["z07_repetition_filter"] = f"""
WITH toks AS (
  SELECT doc_id, {_Z_TOKS} AS t FROM documents
), base AS (
  SELECT doc_id, CAST(size(t) AS BIGINT) AS n_tokens,
         IF(size(t) > 0,
            1.0D - CAST(size(array_distinct(t)) AS DOUBLE) / size(t),
            0.0D) AS dup,
         t
  FROM toks
), pairs AS (
  SELECT doc_id,
         explode(transform(slice(t, 1, greatest(size(t) - 1, 0)),
                           (x, i) -> concat(x, ' ', element_at(t, i + 2)))) AS bg
  FROM base
), shares AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS share
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM pairs GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       ROUND(b.dup, 6) AS dup_token_frac,
       ROUND(COALESCE(s.share, 0.0D), 6) AS top_bigram_share,
       (b.dup > 0.55D OR COALESCE(s.share, 0.0D) > 0.045D) AS rep_flagged
FROM base b LEFT JOIN shares s USING (doc_id)
ORDER BY doc_id
"""

# z08: sha256 → sha2(..., 256); otherwise a 1:1 translation.
SPARK_SQL["z08_source_cap"] = """
WITH r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY sha2(CAST(doc_id AS STRING), 256), doc_id) AS rk
  FROM documents
), kept AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(doc_id) AS BIGINT) AS kept_id_checksum
  FROM r WHERE rk <= 15 GROUP BY source
), totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
)
SELECT t.source, t.n_docs, k.n_kept,
       CAST(t.n_docs - k.n_kept AS BIGINT) AS n_dropped,
       k.kept_id_checksum
FROM totals t JOIN kept k USING (source)
ORDER BY source
"""

# z09: the composed curation pass — window-form dedup (min doc_id per
# text fingerprint), repetition filter, per-source cap, per-lang report.
SPARK_SQL["z09_curation_pipeline"] = f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT *,
           MIN(doc_id) OVER (PARTITION BY sha2(LOWER(TRIM(text)), 256)) AS _keep
    FROM documents
  ) WHERE doc_id = _keep
), clean AS (
  SELECT *, {_Z_TOKS} AS t
  FROM dedup
  WHERE IF(size({_Z_TOKS}) > 0,
           1.0D - CAST(size(array_distinct({_Z_TOKS})) AS DOUBLE)
           / size({_Z_TOKS}),
           0.0D) <= 0.55D
), capped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY sha2(CAST(doc_id AS STRING), 256), doc_id) AS rk
  FROM clean
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(size(t)) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM capped
WHERE rk <= 15
GROUP BY lang
ORDER BY lang
"""

# z10: winnowing fingerprints in expression form (transform/sequence/
# slice/array_min over sha2-prefix gram hashes). The DataFrame path uses
# an Arrow kernel because the expression form gets re-inlined per
# reference under a Generate (see functions/text.py); at the SQL-surface
# scale (sf0.001 parity run) the expression form is fine and proves the
# semantics are expressible in pure Spark SQL.
SPARK_SQL["z10_winnowing_pairs"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_CASED} AS t FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN size(t) >= 4 THEN
           transform(sequence(1, size(t) - 3),
                     i -> substring(sha2(array_join(slice(t, i, 4), ' '), 256), 1, 12))
         ELSE CAST(array() AS array<string>) END AS h
  FROM toks
), w AS (
  SELECT doc_id,
         CASE WHEN size(h) >= 5 THEN
           array_distinct(transform(sequence(1, size(h) - 4),
                                    j -> array_min(slice(h, j, 5))))
         WHEN size(h) > 0 THEN array(array_min(h))
         ELSE CAST(array() AS array<string>) END AS fps
  FROM g
), p_all AS (
  SELECT doc_id, fp FROM w LATERAL VIEW explode(fps) AS fp
), p AS (
  -- common-fingerprint suppression (df > 50 = boilerplate/stop-grams)
  SELECT doc_id, fp FROM p_all
  WHERE fp IN (SELECT fp FROM p_all GROUP BY fp HAVING COUNT(*) <= 50)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS nf FROM p GROUP BY doc_id
)
SELECT pr.doc_a, pr.doc_b, pr.n_shared,
       ROUND(CAST(pr.n_shared AS DOUBLE) / LEAST(sa.nf, sb.nf), 6) AS overlap
FROM pairs pr
JOIN sizes sa ON sa.doc_id = pr.doc_a
JOIN sizes sb ON sb.doc_id = pr.doc_b
WHERE CAST(pr.n_shared AS DOUBLE) / LEAST(sa.nf, sb.nf) >= 0.5
ORDER BY doc_a, doc_b
"""

# z11: the SQL-surface form uses a plain unpartitioned SUM() OVER for
# the tercile cume_dist — fine at the sf0.001 parity scale; the
# DataFrame path is the scale path (stratified_cumsum, no global
# window — see plans/analytics_ext.z11_lm_perplexity_tiers).
SPARK_SQL["z11_lm_perplexity_tiers"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), pairs AS (
  SELECT doc_id, tok, COUNT(*) AS m
  FROM toks LATERAL VIEW explode(t) AS tok
  GROUP BY doc_id, tok
), lm AS (
  SELECT tok, SUM(m) AS c FROM pairs GROUP BY tok
), tot AS (
  SELECT SUM(c) AS t FROM lm
), scored AS (
  SELECT p.doc_id,
         SUM(p.m) AS n_tokens,
         ROUND(LN((SELECT t FROM tot)) - SUM(p.m * LN(l.c)) / SUM(p.m), 6) AS nll
  FROM pairs p JOIN lm l USING (tok)
  GROUP BY p.doc_id
), d AS (
  SELECT nll, COUNT(*) AS cnt FROM scored GROUP BY nll
), c AS (
  SELECT nll,
         CAST(SUM(cnt) OVER (ORDER BY nll) AS DOUBLE)
           / (SELECT COUNT(*) FROM scored) AS cd
  FROM d
), th AS (
  SELECT MIN(CASE WHEN cd >= CAST(1 AS DOUBLE) / 3 THEN nll END) AS t1,
         MIN(CASE WHEN cd >= CAST(2 AS DOUBLE) / 3 THEN nll END) AS t2
  FROM c
)
SELECT s.doc_id, s.n_tokens, s.nll,
       CASE WHEN s.nll <= th.t1 THEN 'head'
            WHEN s.nll <= th.t2 THEN 'middle'
            ELSE 'tail' END AS tier
FROM scored s CROSS JOIN th
ORDER BY s.doc_id
"""

SPARK_SQL["z12_source_kl_drift"] = f"""
WITH toks AS (
  SELECT source, {_TOKS} AS t FROM documents
), st AS (
  SELECT source, tok, COUNT(*) AS m
  FROM toks LATERAL VIEW explode(t) AS tok
  GROUP BY source, tok
), lm AS (
  SELECT tok, SUM(m) AS c FROM st GROUP BY tok
), ns AS (
  SELECT source, SUM(m) AS n_s FROM st GROUP BY source
), tot AS (
  SELECT SUM(c) AS n FROM lm
)
SELECT s.source,
       SUM(s.m) AS n_tokens,
       ROUND(SUM((CAST(s.m AS DOUBLE) / ns.n_s)
                 * LN((CAST(s.m AS DOUBLE) / ns.n_s)
                      / (CAST(l.c AS DOUBLE) / (SELECT n FROM tot)))), 6) AS kl_nats
FROM st s
JOIN lm l USING (tok)
JOIN ns USING (source)
GROUP BY s.source
ORDER BY s.source
"""

SPARK_SQL["z13_dsir_importance"] = f"""
WITH toks AS (
  SELECT doc_id, lang, {_TOKS} AS t FROM documents
), bg AS (
  SELECT doc_id, lang, g
  FROM toks
  LATERAL VIEW explode(transform(slice(t, 1, greatest(size(t) - 1, 0)),
                                 (x, i) -> concat(x, ' ', t[i + 1]))) AS g
), db AS (
  SELECT doc_id, lang,
         CAST(conv(substr(sha2(g, 256), 1, 2), 16, 10) AS INT) AS bucket,
         COUNT(*) AS m
  FROM bg GROUP BY doc_id, lang, bucket
), rb AS (
  SELECT bucket, SUM(m) AS rc FROM db GROUP BY bucket
), tb AS (
  SELECT bucket, SUM(m) AS tc FROM db WHERE lang = 'en' GROUP BY bucket
), tot AS (
  SELECT SUM(m) AS rn, SUM(IF(lang = 'en', m, 0L)) AS tn FROM db
), score AS (
  SELECT rb.bucket,
         CAST(ROUND(1000000 * LN(((COALESCE(tb.tc, 0L) + 1.0D) / (tot.tn + 256.0D))
                                 / ((rb.rc + 1.0D) / (tot.rn + 256.0D)))) AS BIGINT) AS score
  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
), w AS (
  SELECT doc_id, SUM(m) AS n_bigrams, SUM(m * score) AS dsir_micronats
  FROM db JOIN score USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       COALESCE(w.n_bigrams, 0L) AS n_bigrams,
       COALESCE(w.dsir_micronats, 0L) AS dsir_micronats
FROM documents d LEFT JOIN w USING (doc_id)
ORDER BY d.doc_id
"""

SPARK_SQL["z14_ngram_novelty"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), tri AS (
  SELECT DISTINCT doc_id, g
  FROM toks
  LATERAL VIEW explode(transform(slice(t, 1, greatest(size(t) - 2, 0)),
                                 (x, i) -> concat(x, ' ', t[i + 1], ' ', t[i + 2]))) AS g
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM tri GROUP BY doc_id
), first AS (
  SELECT g, MIN(doc_id) AS doc_id FROM tri GROUP BY g
), novel AS (
  SELECT doc_id, COUNT(*) AS novel_grams FROM first GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0L) AS n_grams,
       COALESCE(n.novel_grams, 0L) AS novel_grams,
       IF(COALESCE(p.n_grams, 0L) > 0,
          CAST((20000 * COALESCE(n.novel_grams, 0L) + p.n_grams)
               DIV (2 * p.n_grams) AS INT),
          CAST(NULL AS INT)) AS novelty_bp
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN novel n USING (doc_id)
ORDER BY d.doc_id
"""

# z15: the cosine folds are the exact zip_with+aggregate form the
# DataFrame plan uses, so the SQL surface reproduces the same float
# stream; the 6-dp rounding on the assignment argmax absorbs last-ulp
# differences, same as the DuckDB oracle.
_Z15_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0.0D, (acc, e) -> acc + e)"
)
_Z15_COS = (
    "COALESCE("
    + _Z15_DOT.format(a="{a}", b="{b}")
    + " / NULLIF(SQRT(" + _Z15_DOT.format(a="{a}", b="{a}") + ")"
    + " * SQRT(" + _Z15_DOT.format(a="{b}", b="{b}") + "), 0.0D), 0.0D)"
)

SPARK_SQL["z15_semdedup"] = f"""
WITH seeds AS (
  SELECT vec_id, embedding,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 13 = 5 ORDER BY vec_id LIMIT 8)
), assign AS (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, s.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND({_Z15_COS.format(a='v.embedding', b='s.embedding')}, 6) DESC,
                      s.cluster ASC
           ) AS rn
    FROM embeddings v CROSS JOIN seeds s
  ) WHERE rn = 1
), pruned AS (
  SELECT DISTINCT bb.vec_id AS id_b
  FROM assign aa
  JOIN assign bb ON aa.cluster = bb.cluster AND aa.vec_id < bb.vec_id
  JOIN embeddings ea ON ea.vec_id = aa.vec_id
  JOIN embeddings eb ON eb.vec_id = bb.vec_id
  WHERE {_Z15_COS.format(a='ea.embedding', b='eb.embedding')} >= 0.35D
)
SELECT a.vec_id, a.cluster
FROM assign a
WHERE NOT EXISTS (SELECT 1 FROM pruned p WHERE p.id_b = a.vec_id)
ORDER BY a.vec_id
"""

# z16: the greedy fill is a LINEAR recursion (row rn+1 folds into the
# state at rn), which Spark 4's recursive CTE runs directly — unlike
# q50's cyclic closure, no unrolling is needed; depth = rows per source.
SPARK_SQL["z16_sequence_pack"] = r"""
WITH RECURSIVE rec AS (
  SELECT doc_id, source, n_tokens, rn,
         CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM (
    SELECT doc_id, source,
           GREATEST(1, size(split(trim(text), '\\s+'))) AS n_tokens,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
         CASE WHEN r.fill + t.n_tokens <= 256
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + t.n_tokens <= 256
              THEN r.fill + t.n_tokens ELSE t.n_tokens END
  FROM rec r JOIN (
    SELECT doc_id, source,
           GREATEST(1, size(split(trim(text), '\\s+'))) AS n_tokens,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
  ) t ON t.source = r.source AND t.rn = r.rn + 1
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens, bin_id
FROM rec
ORDER BY doc_id
"""

# z17: the split rides on q50's cluster labels — same unrolled
# propagation, one CASE on the representative's integer parity
SPARK_SQL["z17_leakage_safe_split"] = f"""
WITH q50 AS (
{SPARK_SQL["q50_dedup_clusters"]}
)
SELECT doc_id, cluster_rep,
       CASE WHEN cluster_rep % 10 < 8 THEN 'train' ELSE 'holdout' END
         AS split
FROM q50
ORDER BY doc_id
"""

# z18: the DuckDB oracle's list machinery (regexp_split_to_array,
# UNNEST(range), end-inclusive slices) maps to Spark's split /
# explode(sequence) / slice(arr, start, LENGTH); md5 spells identically
SPARK_SQL["z18_dup_ngram_spans"] = r"""
WITH words AS (
  SELECT doc_id, split(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, p, md5(concat_ws(' ', slice(w, p + 1, 13))) AS h
  FROM (
    SELECT doc_id, w, explode(sequence(0, size(w) - 13)) AS p
    FROM words WHERE size(w) >= 13
  )
),
dup AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT g.doc_id, g.p AS s, g.p + 12 AS e FROM grams g JOIN dup USING (h)
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM occ
),
isl AS (
  SELECT doc_id, s, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM marked
)
SELECT doc_id,
       CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""

# z19: same list-machinery mapping as z18, plus DuckDB's ordered
# STRING_AGG → Spark's sort_array(collect_list(struct)) + transform
# rebuild, and 1-based element_at for the token lookup
SPARK_SQL["z19_exact_substr_cut"] = r"""
WITH words AS (
  SELECT doc_id, split(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT doc_id, p, md5(concat_ws(' ', slice(w, p + 1, 13))) AS h
  FROM (
    SELECT doc_id, w, explode(sequence(0, size(w) - 13)) AS p
    FROM words WHERE size(w) >= 13
  )
),
keeper AS (
  SELECT h, MIN(doc_id) AS keep_doc
  FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
cut_occ AS (
  SELECT g.doc_id, g.p AS s, g.p + 12 AS e
  FROM grams g JOIN keeper k USING (h)
  WHERE g.doc_id > k.keep_doc
),
cover AS (
  SELECT DISTINCT doc_id, explode(sequence(s, e)) AS cp FROM cut_occ
),
toks AS (
  SELECT doc_id, posexplode(w) AS (p, tok) FROM words
),
kept AS (
  SELECT t.doc_id, t.p, t.tok
  FROM toks t
  LEFT ANTI JOIN cover c ON c.doc_id = t.doc_id AND c.cp = t.p
),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(1) AS BIGINT) AS n_kept,
         concat_ws(' ', transform(
           sort_array(collect_list(struct(p, tok))), x -> x.tok
         )) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(size(w.w) AS BIGINT) AS n_tokens,
       CAST(size(w.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_cut,
       COALESCE(r.clean_text, '') AS clean_text
FROM (SELECT DISTINCT doc_id FROM cover) d
JOIN words w ON w.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
ORDER BY d.doc_id
"""

# z20: DuckDB's stepped range() → Spark sequence(0, n-1, step) (same
# start set: range is end-exclusive, sequence end-inclusive), // → DIV,
# end-inclusive list slice → slice(arr, start, LENGTH)
SPARK_SQL["z20_chunk_overlap"] = r"""
WITH words AS (
  SELECT doc_id, split(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
chunks AS (
  SELECT doc_id, w, explode(sequence(0, size(w) - 1, 24)) AS s
  FROM words
)
SELECT doc_id,
       CAST(s DIV 24 AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(size(slice(w, s + 1, 32)) AS BIGINT) AS n_chunk_words,
       md5(concat_ws(' ', slice(w, s + 1, 32))) AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx
"""

# z21: // → DIV, ARG_MIN → min_by, implicit comma cross joins →
# explicit CROSS JOIN (the frames are one row each)
SPARK_SQL["z21_unimax_budget"] = r"""
WITH toks AS (
  SELECT lang, size(split(trim(text), '\\s+')) AS nt
  FROM documents WHERE length(trim(text)) > 0
),
per_lang AS (
  SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM toks GROUP BY lang
),
tot AS (
  SELECT CAST((SUM(n_tokens) * 3) DIV 4 AS BIGINT) AS budget
  FROM per_lang
),
ranked AS (
  SELECT lang, n_tokens, budget,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS l,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, lang) AS BIGINT)
           AS cum
  FROM per_lang CROSS JOIN tot
),
shares AS (
  SELECT *,
         CAST((budget - (cum - n_tokens)) DIV (l - i + 1) AS BIGINT)
           AS share
  FROM ranked
),
piv AS (
  SELECT MIN(i) AS pi, min_by(share, i) AS pshare
  FROM shares WHERE NOT (n_tokens <= share)
)
SELECT s.lang,
       s.n_tokens,
       CAST(CASE WHEN p.pi IS NULL OR s.i < p.pi
                 THEN s.n_tokens ELSE p.pshare END AS BIGINT)
         AS alloc_tokens,
       CAST((10000 * (CASE WHEN p.pi IS NULL OR s.i < p.pi
                           THEN s.n_tokens ELSE p.pshare END))
            DIV s.n_tokens AS BIGINT) AS epochs_bp,
       (CASE WHEN p.pi IS NULL OR s.i < p.pi
             THEN s.n_tokens ELSE p.pshare END) = s.n_tokens AS capped
FROM shares s CROSS JOIN piv p
ORDER BY s.lang
"""

# z22: same list-machinery mapping as z18 (split / explode(sequence) /
# slice); counting DISTINCT grams is hash-independent, so the Spark
# surface may use md5 over the joined gram text like the oracle
SPARK_SQL["z22_source_overlap"] = r"""
WITH words AS (
  SELECT doc_id, source, split(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT source, md5(concat_ws(' ', slice(w, p + 1, 13))) AS h
  FROM (
    SELECT source, w, explode(sequence(0, size(w) - 13)) AS p
    FROM words WHERE size(w) >= 13
  )
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM grams a JOIN grams b USING (h)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.shared_grams,
       CAST((10000 * s.shared_grams) DIV LEAST(ta.n, tb.n) AS BIGINT)
         AS overlap_bp
FROM shared s
JOIN totals ta ON ta.source = s.source_a
JOIN totals tb ON tb.source = s.source_b
ORDER BY s.source_a, s.source_b
"""

# z23: // → DIV; everything else (scalar subquery, windows, cross
# joins of tiny aggregate frames) is dialect-shared
SPARK_SQL["z23_length_drift"] = r"""
WITH lens AS (
  SELECT source, size(split(trim(text), '\\s+')) AS l
  FROM documents WHERE length(trim(text)) > 0
),
cnt AS (
  SELECT source, l, CAST(COUNT(*) AS BIGINT) AS c
  FROM lens GROUP BY 1, 2
),
support AS (SELECT DISTINCT l FROM cnt),
srcs AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
),
grid AS (
  SELECT s.source, s.n, p.l, COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN support p
  LEFT JOIN cnt c ON c.source = s.source AND c.l = p.l
),
cums AS (
  SELECT source, n, l,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY l) AS BIGINT)
           AS cum
  FROM grid
),
tot AS (SELECT l, CAST(SUM(c) AS BIGINT) AS c_all FROM cnt GROUP BY l),
tcum AS (
  SELECT l, CAST(SUM(c_all) OVER (ORDER BY l) AS BIGINT) AS cum_all,
         CAST((SELECT SUM(c) FROM cnt) AS BIGINT) AS n_all
  FROM tot
)
SELECT c.source, c.n AS n_docs,
       CAST(MAX(ABS(c.cum * t.n_all - t.cum_all * c.n)) * 10000
            DIV (c.n * t.n_all) AS BIGINT) AS ks_bp
FROM cums c JOIN tcum t USING (l)
GROUP BY c.source, c.n, t.n_all
ORDER BY c.source
"""


# DuckDB oracle of q50, which z17's oracle (analytics_ext) wraps as a CTE.
# It lives here because analytics imports analytics_ext: the one module
# both import is the one that can hold it.
Q50_SQL = r"""
WITH RECURSIVE
d AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN LEN(toks) >= 3 THEN
           list_distinct(list_transform(range(1, LEN(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
         WHEN LEN(toks) > 0 THEN [array_to_string(toks, ' ')]
         ELSE [] END AS sh
  FROM d
), z AS (
  SELECT doc_id, LEN(sh) AS n, UNNEST(sh) AS g FROM s
), i AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS inter, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
  FROM z a JOIN z b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), p AS (
  SELECT id_a, id_b FROM i
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
), e AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b, id_a FROM p
), closure(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT c.u, e2.v FROM closure c JOIN e e2 ON c.v = e2.u
), m AS (
  SELECT u, LEAST(u, MIN(v)) AS rep FROM closure GROUP BY u
)
SELECT doc_id,
       COALESCE(m.rep, doc_id) AS cluster_rep,
       doc_id = COALESCE(m.rep, doc_id) AS is_rep
FROM documents LEFT JOIN m ON documents.doc_id = m.u
"""
