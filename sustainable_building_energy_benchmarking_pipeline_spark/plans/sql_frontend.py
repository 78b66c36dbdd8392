"""Spark-SQL texts that ARE their registry query, plus ``run_sql`` and
``QuerySpec``.

Each ``SPARK_SQL[name]`` is the implementation of one registry query
whose DuckDB oracle text is not ANSI-portable: its registry entry is
``QuerySpec(partial(run_sql, SPARK_SQL[name]), oracle)``, and the DuckDB
oracle checks the translation. A query is either its one text or a
DataFrame body, never both: ``tests/test_sql_surface.py`` fails on a
text its query does not run. ``run_sql`` and ``QuerySpec`` live here
since both registry modules import them and this module imports nothing
from ``plans``.

Dialect translation notes (DuckDB → Spark):
- ``string_split_regex``→``split``, ``list_filter``→``filter``,
  ``list_transform``→``transform``, ``LEN``→``size``/``length``,
  ``array_to_string``→``array_join``, ``UNNEST``→``LATERAL VIEW
  explode``; 1-based ``l[i]``→``element_at``.
- ``sha256(x)``→``sha2(x, 256)``; ``epoch_us``→``unix_micros``;
  ``quantile_cont``→``percentile``; ``time_bucket``→unix-second floor;
  ``//``→``DIV``; ``ARG_MIN``→``min_by``.
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


# lower-cased whitespace tokens of documents.text
_TOKS = r"filter(split(trim(lower(text)), '\\s+'), t -> t <> '')"

SPARK_SQL: dict[str, str] = {}

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

SPARK_SQL["q96_percentile_disc"] = """
SELECT event_type,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
       percentile_disc(0.9)  WITHIN GROUP (ORDER BY value) AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
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
