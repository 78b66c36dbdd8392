"""Analytics query registry — every SURVEY.md §2 operator exercised as a
query over the driver testdata, each paired with a DuckDB oracle SQL.

Each entry: ``name -> QuerySpec(fn, sql)`` where ``fn(spark, sf_dir) ->
DataFrame`` and ``sql`` is ANSI SQL DuckDB runs on the same parquet (views
pre-registered by the driver). ``sql=None`` marks non-SQL-expressible ops
(weaker rows-only check).

Two kinds of ``fn``:
- a DataFrame body, kept where the query calls an ``operators/``,
  ``functions/`` or ``ml/`` routine, runs a Python/Arrow kernel,
  persists, pins a shuffle width, or where its SQL form measured slower;
  the oracle then checks two implementations against each other;
- ``partial(run_sql, text)`` (``sql_frontend.run_sql``) for the 49
  queries whose body said nothing the SQL text does not. The text is the
  oracle string itself for 28 ANSI-portable queries, so the oracle check
  is one text run by two engines; for 21 it is the query's
  ``sql_frontend.SPARK_SQL`` translation of the DuckDB dialect. The
  text is ``QUERIES[name].fn.args[0]``.

A query has one of the two, never both: ``SPARK_SQL`` holds only texts
their registry entry runs (``tests/test_sql_surface.py``).

Determinism rules (driver hash-compares values order-insensitively):
- every LIMIT/top-k has a unique tiebreaker in its ordering;
- every float column is rounded identically on both sides;
- count-like columns are BIGINT on both sides (DuckDB ``SUM(int)`` returns
  HUGEINT — always ``CAST(... AS BIGINT)`` in the oracle).

Scale notes are in each body's docstring: what shuffles, what broadcasts,
what prunes. Run ``.explain()`` via ``tests/test_plans.py`` to verify.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import windows as W
from sustainable_building_energy_benchmarking_pipeline_spark.operators import aggregates as A
from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics_ext import EXT_QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.plans.sql_frontend import (
    Q50_SQL,
    SPARK_SQL,
    QuerySpec,
    run_sql,
)
from sustainable_building_energy_benchmarking_pipeline_spark.session import load_table


# ---------------------------------------------------------------------------
# Relational core (scan / filter / project / agg / sort — SURVEY §2.1-2.4,2.6)
# ---------------------------------------------------------------------------

# TPC-H Q1 shape: filter → groupBy(2) → 8 aggregates → sort.
Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# Global top-k (O2/O3) with a unique tiebreaker — the alerts endpoint's
# ORDER BY ... DESC LIMIT ?; plans as TakeOrderedAndProject.
Q02_SQL = """
SELECT o_orderkey, o_custkey,
       ROUND(o_totalprice, 2) AS total_price,
       o_orderpriority
FROM orders
ORDER BY total_price DESC, o_orderkey ASC
LIMIT 10
"""


# TPC-H Q4 shape: EXISTS subquery, planned as a LEFT SEMI join (J3).
Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# TPC-H Q6 shape: multi-predicate filter (pushed to the scan) → global agg (A4).
Q06_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25
"""


# TPC-H Q3 shape: 3-way join → agg → top-10 (J2, O3, W8); customer broadcasts.
Q03_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# Dim-chain join region⋈nation⋈customer with broadcast dims (J2).
Q05_SQL = """
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# CASE WHEN banding (P6): the EUI-rating ladder applied to order value.
Q07_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            WHEN o_totalprice < 300000 THEN 'large'
            ELSE 'jumbo' END AS price_band,
       COUNT(*) AS n_orders,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1
ORDER BY price_band
"""


def q08_conditional_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation + share-of-group KPIs (A3, A9 — the
    hvac/solar-count and rating-share pattern)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            A.count_if(F.col("c_acctbal") > 0).cast("bigint").alias("n_positive"),
            F.round(A.share_pct(F.col("c_acctbal") > 0), 2).alias("pct_positive"),
        )
        .orderBy("c_mktsegment")
    )


Q08_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       ROUND(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 2) AS pct_positive
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q09_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average (A8): discount weighted by extended price — the
    area-weighted-EUI pattern (src/export_json.py:157-158)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(A.weighted_avg(F.col("l_discount"), F.col("l_extendedprice")), 6).alias(
                "weighted_avg_discount"
            ),
            F.round(F.avg("l_discount"), 6).alias("plain_avg_discount"),
        )
        .orderBy("l_returnflag")
    )


Q09_SQL = """
SELECT l_returnflag,
       ROUND(SUM(l_discount * l_extendedprice) / SUM(l_extendedprice), 6) AS weighted_avg_discount,
       ROUND(AVG(l_discount), 6) AS plain_avg_discount
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q10_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS multi-dimensional summary in one pass (A7) — the
    /alerts/summary by-severity/by-rule/by-zone pattern (src/db.py:171-236).
    The inactive dimension per set coalesces to 'ALL' (q45's convention):
    the driver contract disallows NULLs in registry output."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        A.multi_dim_summary(
            orders,
            ["o_orderstatus", "o_orderpriority"],
            [
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            ],
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


Q10_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus, o_orderpriority
"""


# Exact distinct count per group (A11).
Q11_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_distinct_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Joins beyond inner (SURVEY §2.3)
# ---------------------------------------------------------------------------

# Left-anti join (J3): customers with no orders since 2000.
Q12_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orderless
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# Left-semi join: customers with ≥1 finished order, per nation.
Q13_SQL = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY n_name
ORDER BY n_name
"""


# Tagged union of heterogeneous tables (U1/U2).
Q14_SQL = """
SELECT c_name AS name, ROUND(c_acctbal, 2) AS acctbal, 'customer' AS entity FROM customer
UNION ALL
SELECT s_name AS name, ROUND(s_acctbal, 2) AS acctbal, 'supplier' AS entity FROM supplier
"""


# ---------------------------------------------------------------------------
# Window / time-series (SURVEY §2.5)
# ---------------------------------------------------------------------------

def q15_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (W8). Tiebreaker: o_orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    return W.top_k_per_group(
        orders,
        "o_orderpriority",
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


Q15_SQL = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def q16_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-dedup (P14): first order per customer by
    (orderdate, orderkey). dropDuplicates keeps an arbitrary row — this is
    the deterministic form the medallion dedup should use at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return W.top_k_per_group(
        orders, "o_custkey", [F.asc("o_orderdate"), F.asc("o_orderkey")], k=1
    ).select("o_custkey", "o_orderkey", "o_orderdate")


Q16_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
WHERE rn = 1
"""


def q17_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean/std + lag + diff per user (W1/W2/W4/W5) — the HVAC
    feature-engineering window pattern (src/pipeline_batch.py:100-151).

    Scale: ONE shuffle on user_id serves all four window expressions (same
    WindowSpec → same exchange, verified in .explain).

    Lag/diff are NULL on each group's first row; both coalesce to 0.0
    (mirrored in the oracle) because the driver contract disallows NULLs
    in registry output — the bfill+fillna(0) convention the reference
    itself applies to its lag features (src/pipeline_batch.py:149).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.ordered_window("user_id", ["ts", "event_id"])
    return ev.select(
        "event_id",
        "user_id",
        F.round(W.rolling_mean("value", w, 3), 4).alias("rolling_mean_3"),
        F.round(W.rolling_std("value", w, 3), 4).alias("rolling_std_3"),
        F.round(F.coalesce(W.lag_col("value", w, 1), F.lit(0.0)), 4).alias("value_lag1"),
        F.round(F.coalesce(W.diff_col("value", w, 1), F.lit(0.0)), 4).alias("value_diff"),
    )


Q17_SQL = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER w3, 4) AS rolling_mean_3,
       ROUND(COALESCE(STDDEV(value) OVER w3, 0.0), 4) AS rolling_std_3,
       ROUND(COALESCE(LAG(value, 1) OVER w, 0.0), 4) AS value_lag1,
       ROUND(COALESCE(value - LAG(value, 1) OVER w, 0.0), 4) AS value_diff
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       w3 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q18_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-run detection (W6) — the temp-drift
    rule pattern (src/models.py:66-127): runs of value>50 lasting ≥3 rows."""
    ev = load_table(spark, sf_dir, "events")
    return W.detect_runs(
        ev,
        F.col("value") > 50,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        min_run_length=3,
    ).select("event_id", "user_id", F.col("_run_len").alias("run_len"))


Q18_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS cond
  FROM events
), b AS (
  SELECT *, CASE WHEN LAG(cond) OVER w IS NULL OR cond <> LAG(cond) OVER w
                 THEN 1 ELSE 0 END AS boundary
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), r AS (
  SELECT *, SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM b
), l AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, run_id) AS run_len FROM r
)
SELECT event_id, user_id, CAST(run_len AS BIGINT) AS run_len
FROM l WHERE cond = 1 AND run_len >= 3
"""


def q19_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group forward-fill of nulls (P11 — pandas groupby().ffill(),
    src/pipeline_batch.py:55-59). Nulls synthesized on 'error' events."""
    ev = load_table(spark, sf_dir, "events")
    w = W.ordered_window("user_id", ["ts", "event_id"])
    gapped = ev.withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value"))
    )
    return gapped.select(
        "event_id",
        "user_id",
        F.round(F.coalesce(W.ffill("v", w), F.lit(0.0)), 4).alias("value_ffilled"),
    )


Q19_SQL = """
SELECT event_id, user_id,
       ROUND(COALESCE(
         LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0.0), 4) AS value_ffilled
FROM events
"""


def q20_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percentile rank (W9 — the energy_percentile gap,
    src/export_json.py:99). Unique tiebreaker c_custkey keeps it exact.

    Distributed two-pass CDF (range partition + local ranks + cumulative
    offsets, operators.windows.distributed_percent_rank) — NOT the
    no-partition window, which funnels the whole table through one task
    and dies at 100× scale."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = W.distributed_percent_rank(
        cust, ["c_acctbal", "c_custkey"], out_col="_pct", scale=100.0
    )
    return ranked.select(
        "c_custkey", F.round(F.col("_pct"), 4).alias("acctbal_percentile")
    )


Q20_SQL = """
SELECT c_custkey,
       ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) * 100, 4) AS acctbal_percentile
FROM customer
"""


def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session assignment via lag + cumulative
    sum — the batch form of session_window (pyspark guide 'Common OLAP
    patterns'). One shuffle on user_id.

    Gap boundary is ``>=`` (a gap of exactly 30 min starts a new session)
    to match Spark's session_window half-open [t, t+gap) semantics — so
    q21 and q43 agree with each other and with the streaming path."""
    ev = load_table(spark, sf_dir, "events")
    w = W.ordered_window("user_id", ["ts", "event_id"])
    gap = F.when(
        (F.col("ts") - F.lag("ts").over(w)) >= F.expr("INTERVAL 30 MINUTES"), 1
    ).otherwise(0)
    sess = ev.withColumn("new_sess", gap)
    return (
        sess.groupBy("user_id")
        .agg(
            (F.sum("new_sess") + 1).cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


Q21_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id,
       CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM g
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Temporal scalar functions (SURVEY §2.8) + semi-structured
# ---------------------------------------------------------------------------

# Date-truncated daily rollup (A13/F4: the dashboard's daily counts).
Q22_SQL = """
SELECT CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1
ORDER BY day
"""


# Hour-of-day extraction + 2-key agg (F1). The mean is integer arithmetic
# end-to-end — (200·Σcents + n) DIV (2n) is the HALF_UP mean in 1e-4 units —
# so no engine's double rounding can flip the 4th decimal.
Q23_SQL = """
WITH g AS (
  SELECT CAST(HOUR(ts) AS INTEGER) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events
  GROUP BY 1, 2
)
SELECT hour, event_type, n,
       CAST((200 * s + n) // (2 * n) AS DOUBLE) / 10000.0 AS avg_value
FROM g
ORDER BY hour, event_type
"""


# Semi-structured extraction: JSON props field → typed column.
Q24_SQL = """
SELECT event_type,
       ROUND(AVG(CAST(props->>'k' AS BIGINT)), 4) AS avg_k,
       CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity (training-data pipeline operators)
# ---------------------------------------------------------------------------

# Text statistics per language: token counts + length profile.
Q25_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       ROUND(AVG(LEN(STRING_SPLIT(text, ' '))), 4) AS avg_tokens,
       CAST(MAX(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


# Exact dedup via content hash (F20 + P14): the exchange carries sha256
# digests, not documents. NULL text hashes to NULL in both engines
# (DuckDB sha256, Spark sha2), so every NULL-text row lands in ONE hash
# group: k NULL-text docs count as one unique and k-1 removed. Both
# engines agree on that (tests/test_operator_edges.py::
# test_q26_null_text_rows_match_oracle); a text-less document is not
# keyed apart by its id here.
Q26_SQL = """
WITH h AS (
  SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
  FROM documents GROUP BY 1
)
SELECT COUNT(*) AS n_unique,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_duplicates_removed
FROM h
"""


def q27_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over the embedding
    column (ANN baseline) — one Arrow-batched scan scoring each batch as
    a single BLAS matmul (similarity.brute_force_topk_kernel), then
    TakeOrderedAndProject. No join, no shuffle; the query vector is a
    bounded 1-row driver collect that ships in the UDF closure.
    Scale path: LSH/IVF-bucketed variants in operators.similarity.
    """
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        brute_force_topk_kernel,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return brute_force_topk_kernel(emb.filter(F.col("vec_id") != 0), qv, k=10).select(
        F.col("id").alias("vec_id"),
        F.round("cosine_sim", 4).alias("cosine_sim"),
    )


Q27_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS n1,
         SUM(CAST(q.qv[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS n2
  FROM embeddings e, q, RANGE(1, 65) t(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(n1) * SQRT(n2)), 4) AS cosine_sim
FROM d
ORDER BY dot / (SQRT(n1) * SQRT(n2)) DESC, vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators: text analysis, dedup, similarity
# ---------------------------------------------------------------------------

def q28_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (text analysis): JVM-side
    regexp_extract_all, no UDF."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    n = bpe_token_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("total_tokens"),
            F.round(F.avg(n), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


Q28_SQL = r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))), 4) AS avg_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


def q29_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification (text analysis) — confusion
    counts of predicted vs labeled language.

    Round-13: one Arrow kernel (``language_pred_kernel``) replaces the
    staged HOF projections — the K per-language membership filters are
    interpreted lambdas (never codegen), the registry's per-byte CPU
    outlier at 6.9 s task CPU for sf0.1; the explode+codegen rewrite
    measured 2.6× WORSE (r12 negative result), so the Python boundary is
    the remaining lever. ``F.lower`` stays JVM-side so case folding (and
    the oracle hash) is unchanged; only the lowered text crosses to
    Python.

    No ``ensure_min_partitions`` here (round-13, the q61 lesson): the
    kernel's compute is 0.13 s single-threaded for the whole sf0.1
    corpus, so fanning the single local file to 32 tasks pays 32× the
    per-task Arrow/UDF round-trip (measured 6.2 s summed task time
    warm, 51 s cold-worker, vs 0.22 s at one task) for nothing; at
    scale the scan arrives multi-partition and the kernel parallelizes
    per partition anyway."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        language_pred_kernel,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.lower(F.col("text")).alias("_lt"))
        .select("lang", language_pred_kernel(F.col("_lt")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _lang_id_sql() -> str:
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import LANG_PROFILES

    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        return (
            f"LEN(list_filter(toks, t -> list_contains([{words}], t)))"
        )

    zh = " + ".join(
        f"(LENGTH(text) - LENGTH(REPLACE(text, '{ch}', '')))" for ch in LANG_PROFILES["zh"]
    )
    scores = {lang: hits(lang) for lang in ["en", "es", "fr", "de"]}
    scores["zh"] = f"({zh})"
    best = f"GREATEST({scores['en']}, {scores['es']}, {scores['fr']}, {scores['de']}, {scores['zh']})"
    case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        + " ".join(
            f"WHEN {scores[lang]} = {best} THEN '{lang}'"
            for lang in ["en", "es", "fr", "de", "zh"]
        )
        + " ELSE 'und' END"
    )
    return f"""
WITH d AS (
  SELECT lang, text,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t <> '') AS toks
  FROM documents
), p AS (
  SELECT lang, {case} AS lang_pred FROM d
)
SELECT lang, lang_pred, COUNT(*) AS n
FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


def q30_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality scoring (Gopher/C4-style rule family).
    Two-projection form: the raw/lowercase token arrays materialize once
    per row (same shape as the oracle's CTE), then the score reads the
    arrays — the single-expression form re-runs the whitespace tokenizer
    per component (~4× per row on a corpus-scale scan)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        quality_score_from_tokens,
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "source",
        "text",
        ws_tokens(F.col("text")).alias("_toks"),
        ws_tokens(F.lower(F.col("text"))).alias("_ltoks"),
    )
    # materialize the score ONCE per row (round-13): both aggregates
    # below reference it, and aggregate-expression inlining would
    # otherwise evaluate the full interpreted-HOF score tree twice per
    # row (the lambda components never enter codegen — same family as
    # q29's scores)
    scored = toked.select(
        "source",
        quality_score_from_tokens(
            F.col("_toks"), F.col("_ltoks"), F.col("text")
        ).alias("_q"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.round(F.avg("_q"), 4).alias("avg_quality"),
            A.count_if(F.col("_q") >= 0.8).cast("bigint").alias("n_high_quality"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


Q30_SQL = r"""
WITH d AS (
  SELECT source, text,
         list_filter(string_split_regex(TRIM(text), '\s+'), t -> t <> '') AS toks,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS ltoks
  FROM documents
), m AS (
  SELECT source,
         LEN(toks) AS n_tok,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE) / LEN(toks)
              ELSE 0.0 END AS awl,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / LENGTH(text)
              ELSE 0.0 END AS punct,
         CASE WHEN LEN(ltoks) > 0
              THEN CAST(LEN(list_filter(ltoks, t -> list_contains(['the','and','of','to','a','in','is','that','for','with'], t))) AS DOUBLE) / LEN(ltoks)
              ELSE 0.0 END AS stopr
  FROM d
), s AS (
  SELECT source,
         (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
       + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
       + (CASE WHEN punct < 0.3 THEN 1.0 ELSE 0.0 END) * 0.2
       + (CASE WHEN stopr > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2 AS q
  FROM m
)
SELECT source,
       ROUND(AVG(q), 4) AS avg_quality,
       CAST(SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
       COUNT(*) AS n_docs
FROM s GROUP BY source ORDER BY source
"""


def q31_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint dedup (whitespace-collapsed,
    case-folded SHA-256) — the robust exact-dedup key."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", content_fingerprint(F.col("text")))
        .groupBy()
        .agg(
            F.countDistinct("fp").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_duplicates"),
        )
    )


Q31_SQL = r"""
SELECT COUNT(DISTINCT sha256(LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g')))) AS n_unique,
       COUNT(*) - COUNT(DISTINCT sha256(LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g')))) AS n_duplicates
FROM documents
"""


def q32_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs with (lang, length-bucket)
    blocking — the deterministic, oracle-able dedup pass. The blocking key
    bounds the per-block quadratic term (the 100 TB-safe shape)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        blocked_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(
        docs,
        block_cols=[F.col("lang"), (F.col("n_chars") / 100).cast("bigint")],
        threshold=0.04,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


Q32_SQL = r"""
WITH d AS (
  SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS blk,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, blk,
         CASE WHEN LEN(toks) >= 3 THEN
           list_distinct(list_transform(range(1, LEN(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
         WHEN LEN(toks) > 0 THEN [array_to_string(toks, ' ')]
         ELSE [] END AS sh
  FROM d
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / LEN(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
  FROM s a JOIN s b
    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM p WHERE jaccard >= 0.04
ORDER BY id_a, id_b
"""


def q33_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection (banded signatures → bucket
    join → exact-Jaccard verify), at a threshold where recall is provable
    so the exact all-pairs Jaccard (Q33_SQL) is a true differential
    oracle.

    16 bands × r = 2 at threshold 0.5: a true pair's per-band collision
    probability is J², and the corpus's pair-similarity distribution is
    bimodal (background pairs < 0.14, near-dup pairs ≥ 0.8 — measured
    at sf0.01 and sf0.1), so the miss probability for any true pair is
    ≤ (1−0.64)¹⁶ ≈ 8e-8 and the emitted set provably equals the exact
    set on any corpus this generator produces (largest duplicate
    cluster ≪ the 256 bucket cap — above-cap clusters would trade
    pair-exactness for bounded emission, see _chunked_bucket).
    Half the signature work
    of the generic 64/32 default (q50 uses the same trade, same A/B);
    a corpus with boundary pairs near J = 0.5 should keep 64/32, where
    boundary recall is 0.9999 vs 0.99. The verify stage recomputes
    exact Jaccard on candidates, so emitted values are exact, and the
    fixed seed makes the outcome deterministic."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    # persist_shingles=True (round-12): the size-adaptive posture — the
    # sizing count doubles as the cache barrier that keeps AQE's
    # parallel consumer stages from racing the kernel (measured 3x
    # concurrent kernel executions under a lazy persist; see
    # minhash_near_duplicates), and small corpora get broadcast verify
    # joins while large ones keep the 100 TB shuffled shape.
    return minhash_near_duplicates(
        docs, threshold=0.5, num_hashes=32, bands=16, persist_shingles=True
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# Exact all-pairs shingle Jaccard via an inverted index (pairs come from
# shingle co-occurrence — |∩| = co-count, |∪| = |A|+|B|−|∩| — so work is
# Σ_g c_g² over posting lists, ~100× the naive pair-join form; pairs with
# zero shared shingles have J = 0 and are correctly absent).
Q33_SQL = r"""
WITH d AS (
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
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM i WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""


def q34_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signatures (sha256-prefix token hashes,
    vectorized bit-vote), chunk-banded candidate join, exact Hamming
    filter. Fully differential-oracled: candidate recall is pigeonhole-
    EXACT (4 chunks of 16 bits — any pair within Hamming 3 agrees on ≥1
    chunk), so the output is precisely {pairs : hamming ≤ 3}, and
    Q34_SQL recomputes the very same signatures in DuckDB (sha256 is
    engine-portable; see simhash64) and compares all pairs."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# Recomputes the exact SimHash signatures: per token, bit j of the
# leading-64-bit sha256 prefix is extracted hex-digit-wise (digit
# position 16 − j//4, within-nibble shift j%4); the per-bit vote sum's
# sign gives the signature bit; pairwise Hamming via BIT xor+bit_count.
Q34_SQL = r"""
WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, list_transform(toks, t -> substr(sha256(t), 1, 16)) AS hx FROM d
), v AS (
  SELECT doc_id,
         list_transform(range(0, 64), j ->
           COALESCE(list_sum(list_transform(hx, x ->
             2 * ((strpos('0123456789abcdef', substr(x, CAST(16 - j // 4 AS INT), 1)) - 1) >> (j % 4) & 1) - 1
           )), 0)) AS votes
  FROM h
), g AS (
  SELECT doc_id,
         CAST(array_to_string(list_transform(votes, w -> CASE WHEN w > 0 THEN '1' ELSE '0' END), '') AS BIT) AS sig
  FROM v
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def q35_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (brute force baseline)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        embedding_near_duplicates(emb, threshold=0.4, dim=64)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


Q35_SQL = """
WITH d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM embeddings a, embeddings b, RANGE(1, 65) t(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine
FROM d WHERE dot / (SQRT(na) * SQRT(nb)) >= 0.4
ORDER BY id_a, id_b
"""


def q36_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH (bucket
    probe + exact rerank), at a signature depth where recall@10 = 1 on
    the fixed-seed corpus — so the exact brute-force top-k (Q36_SQL,
    same form as Q27's) is a true differential oracle, not just a
    rows-only check.

    Depth choice: 3 planes / 24 tables. Per Charikar's bound a neighbor
    at angle θ lands in the query's bucket of one table with
    p = (1 − θ/π)³; missing all 24 tables has probability (1−p)²⁴ —
    ≈ 2e-4 even for a 60° neighbor, and the seed is fixed, so the
    probe set (and hence the output) is deterministic. Verified
    recall@10 = 1.0 at sf0.01 and sf0.1."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        ann_lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ann_lsh_topk(
        emb.filter(F.col("vec_id") != 0), qv, k=10, n_planes=3, n_tables=24
    ).select("id", F.round("cosine_sim", 4).alias("cosine_sim"))


Q36_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS n1,
         SUM(CAST(q.qv[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS n2
  FROM embeddings e, q, RANGE(1, 65) t(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT vec_id AS id, ROUND(dot / (SQRT(n1) * SQRT(n2)), 4) AS cosine_sim
FROM d
ORDER BY dot / (SQRT(n1) * SQRT(n2)) DESC, id
LIMIT 10
"""


def q37_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN: top-3 cosine neighbors within each label block
    (grouped similarity search, W8 over pairs)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        pairwise_topk_per_label,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pairwise_topk_per_label(emb, k=3, dim=64).select(
        "id", "label", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


Q37_SQL = """
WITH p AS (
  SELECT a.vec_id AS id, a.label AS label, b.vec_id AS neighbor_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           / (SQRT(SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)))
              * SQRT(SUM(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
  CROSS JOIN RANGE(1, 65) t(i)
  GROUP BY a.vec_id, a.label, b.vec_id
), r AS (
  SELECT id, label, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id) AS rn
  FROM p
)
SELECT id, label, neighbor_id, ROUND(cos, 4) AS cosine_sim
FROM r WHERE rn <= 3
"""


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows (media_id, kind, content, meta struct):
    text bytes as the opaque binary payload, kind from doc_id, metadata
    struct derived from n_chars. The deterministic stand-in corpus for
    the multimodal plumbing queries (the engine ships no codecs — see
    operators.multimodal)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("png").alias("format"),
            (F.col("n_chars") % 640 + 64).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 48).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


# Multimodal plumbing: binary payload + typed metadata struct per media row,
# aggregated per kind.
Q38_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         octet_length(encode(text)) AS n_bytes,
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


def q39_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (sequence+explode expansion of frame
    timestamps a decoder would materialize), re-aggregated to per-video
    frame counts — the row-explosion shape is the real Spark-side work."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.multimodal import (
        frame_sample_plan,
    )

    media = _media_from_documents(spark, sf_dir)
    frames = frame_sample_plan(media, every_ms=1000)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").cast("bigint").alias("last_frame_ts_ms"),
        )
        .orderBy("media_id")
    )


Q39_SQL = """
SELECT doc_id AS media_id,
       CAST((n_chars * 10 - 1) // 1000 + 1 AS BIGINT) AS n_frames,
       CAST(((n_chars * 10 - 1) // 1000) * 1000 AS BIGINT) AS last_frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2 AND n_chars > 0
ORDER BY media_id
"""


def q40_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()/summary() profile (A10, src/pipeline_batch.py:186-189)
    as an explicit single-pass aggregate: count/mean/std/min/max +
    exact quartiles per numeric column, unpivoted to one row per column.
    Exact percentile (not approx) so DuckDB can oracle it; at 100 TB use
    percentile_approx and drop the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    # string-expression form (round-12): the Column-builder form spent
    # ~0.3 s of DRIVER time per run constructing 24 aggregate + 27
    # struct-field Column objects through py4j and re-analyzing each
    # intermediate (measured 0.53 s build → 0.22 s; the same trick the
    # dedup map-literal attach documents). One F.expr string parses in
    # a single JVM call; the analyzed plan is identical.
    stat_exprs = {
        "count": lambda c: f"count({c})",
        "mean": lambda c: f"round(avg({c}), 4)",
        "std": lambda c: f"round(stddev({c}), 4)",
        "min": lambda c: f"round(cast(min({c}) as double), 4)",
        "q1": lambda c: f"round(percentile({c}, 0.25), 4)",
        "median": lambda c: f"round(percentile({c}, 0.5), 4)",
        "q3": lambda c: f"round(percentile({c}, 0.75), 4)",
        "max": lambda c: f"round(cast(max({c}) as double), 4)",
    }
    stats = list(stat_exprs)
    wide = li.agg(
        *[
            F.expr(f"{fn(c)} as {c}__{s}")
            for c in cols
            for s, fn in stat_exprs.items()
        ]
    )
    inner = ", ".join(
        "struct("
        + ", ".join(
            [f"'{c}' as column"]
            + [f"cast({c}__{s} as double) as {s}" for s in stats]
        )
        + ")"
        for c in cols
    )
    return (
        wide.select(F.expr(f"explode(array({inner})) as r"))
        .select("r.column", *[f"r.{s}" for s in stats])
        .orderBy("column")
    )


Q40_SQL = """
WITH s AS (
  SELECT * FROM (
    VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount')
  ) t(col)
)
SELECT col AS "column",
       CAST(COUNT(v) AS DOUBLE) AS "count",
       ROUND(AVG(v), 4) AS mean,
       ROUND(STDDEV_SAMP(v), 4) AS std,
       ROUND(MIN(v), 4) AS "min",
       ROUND(quantile_cont(v, 0.25), 4) AS q1,
       ROUND(quantile_cont(v, 0.5), 4) AS median,
       ROUND(quantile_cont(v, 0.75), 4) AS q3,
       ROUND(MAX(v), 4) AS "max"
FROM s, LATERAL (
  SELECT CASE col WHEN 'l_quantity' THEN l_quantity
                  WHEN 'l_extendedprice' THEN l_extendedprice
                  ELSE l_discount END AS v
  FROM lineitem
)
GROUP BY col ORDER BY col
"""


# Left equi-join enrichment (J1): aggregate-then-join, unmatched keys → 0.
Q41_SQL = """
SELECT c_custkey, c_name,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.total_spent, 0.0) AS total_spent
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_spent
  FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
ORDER BY c_custkey
"""


# Union with a tag column and missing-column NULL padding (U2).
Q42_SQL = """
SELECT c_name AS name, ROUND(c_acctbal, 2) AS acctbal, 'customer' AS entity,
       CAST(-1 AS BIGINT) AS regionkey
FROM customer
UNION ALL
SELECT n_name AS name, -1.0 AS acctbal, 'nation' AS entity,
       n_regionkey AS regionkey
FROM nation
ORDER BY entity, name
"""


# Per-(user, session) start/end/size with a 30-minute gap.
Q43_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s
GROUP BY user_id, sess_id
ORDER BY user_id, session_start
"""


def q44_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: for every purchase, the same user's
    latest click at/before it — the as-of join (operators/asof.py: union
    + window, ONE shuffle on user_id, no range/theta join). Inner form
    (unmatched purchases filtered); gap as exact integer microseconds
    (a rounded float gap can straddle a half-ulp boundary between Spark
    and the oracle). Oracle: DuckDB's native ASOF JOIN.

    The right side pre-dedups to one click per (user_id, ts) — max
    event_id — because DuckDB ASOF picks an *unspecified* row among
    equal timestamps while asof_join deterministically takes the max
    payload struct; deduping both sides pins the same candidate."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="ts",
        by=["user_id"],
        right_cols={"event_id": "click_id", "ts": "click_ts"},
    )
    return (
        joined.filter(F.col("click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
            (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


Q44_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       c.event_id AS click_id, c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
           FROM events WHERE event_type = 'click'
           GROUP BY user_id, ts) c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY purchase_id
"""


# Hierarchical ROLLUP (region → nation → total) in one pass; subtotal labels
# coalesce to 'ALL'.
Q45_SQL = """
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region, nation
"""


# PIVOT with pinned values: daily event counts, one column per event type.
Q46_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY day
ORDER BY day
"""


def q47_oscillation_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window oscillation count (W7 — the oscillating-control rule,
    reference src/models.py:210-215: count sign changes of the rate-of-
    change within a 12-row window, flag when > 6).

    diff → pair-change indicator → trailing-frame sum, all over ONE
    (user_id, ts) window spec: one shuffle serves the lag, the diff and
    the frame sum. Indicators are 0/1 (never NULL — first-row pairs with
    a NULL lag count 0 via the CASE), so the output is NULL-free.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.ordered_window("user_id", ["ts", "event_id"])
    with_dv = ev.withColumn("_dv", W.diff_col("value", w, 1))
    osc = W.sliding_sign_change_count("_dv", w, 12)
    return (
        with_dv.withColumn("sign_changes_12", osc.cast("bigint"))
        .filter(F.col("sign_changes_12") > 6)
        .select("event_id", "user_id", "sign_changes_12")
    )


Q47_SQL = """
WITH d AS (
  SELECT event_id, user_id, ts,
         value - LAG(value) OVER w AS dv
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT event_id, user_id, ts,
         CASE WHEN SIGN(dv) <> SIGN(LAG(dv) OVER w) THEN 1 ELSE 0 END AS chg
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT event_id, user_id,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS osc
  FROM c
)
SELECT event_id, user_id, CAST(osc AS BIGINT) AS sign_changes_12
FROM s WHERE osc > 6
"""


# Custom categorical sort key (W10); the rank column is part of the output.
Q48_SQL = """
WITH a AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type)
SELECT event_type, n_events,
       CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
            WHEN 'click' THEN 3 WHEN 'view' THEN 4 ELSE 5 END AS sort_rank
FROM a ORDER BY sort_rank
"""


def q49_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) similarity search with triangle-inequality
    cell pruning — EXACT top-k by construction (normalize → cosine ≡ L2,
    skip cells whose ``‖q−cᵢ‖ − rᵢ`` exceeds the kth-neighbor bound; see
    operators.similarity.ivf_topk_exact), so the brute-force cosine SQL
    is a true oracle regardless of k-means behavior. The fixed-nprobe
    approximate variant (ivf_topk) shares the index shape and is
    recall-tested in tests/test_dedup_similarity.py."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        ivf_topk_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # nlist/max_iter sized for the test corpora (a few k vectors): exact
    # output is unconditional, so the only tuning criterion is train
    # cost vs pruning benefit — at 100 TB raise nlist to ~√N and train
    # the quantizer on a sample
    return ivf_topk_exact(
        emb.filter(F.col("vec_id") != 0), qv, k=10, nlist=8, max_iter=4
    ).select("id", F.round("cosine_sim", 4).alias("cosine_sim"))


Q49_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS n1,
         SUM(CAST(q.qv[CAST(i AS INT)] AS DOUBLE) * CAST(q.qv[CAST(i AS INT)] AS DOUBLE)) AS n2
  FROM embeddings e, q, RANGE(1, 65) t(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT vec_id AS id, ROUND(dot / (SQRT(n1) * SQRT(n2)), 4) AS cosine_sim
FROM d
ORDER BY dot / (SQRT(n1) * SQRT(n2)) DESC, id
LIMIT 10
"""


def q50_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING with representative selection — pairs
    alone under-remove (A~B~C with no direct A~C pair must still keep
    one document): MinHash-LSH verified pairs at the provable-recall
    threshold (see q33) → connected components by iterative min-label
    propagation (operators.dedup.connected_components) → every doc
    labeled with its cluster's min doc_id. The oracle recomputes the
    exact pair graph in SQL and closes it with a recursive CTE, so
    component labels are compared end-to-end.

    Banding 32 hashes / 16 bands (r=2) instead of the operator's 64/32
    default: the S-curve recall at the lowest observed true-pair
    Jaccard (J ≥ 0.8 across sf0.01/sf0.1, measured) is
    1-(1-0.64)^16 ≈ 1-8e-8, and r=2 keeps per-band false-candidate
    probability at J² — half the signature kernel work for equal
    output (A/B: label sets identical, ~1.6× faster end-to-end). A
    corpus with boundary pairs near the 0.5 threshold should keep the
    64/32 default (recall 0.99 vs 0.9999 at J=0.5)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(docs, threshold=0.5, num_hashes=32, bands=16)


def q51_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (operators.retrieval): top-10 documents for a
    3-term query — the targeted-corpus-slicing primitive. Filtered
    explode → tiny tf/df aggregates broadcast back, one plan."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.retrieval import (
        bm25_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # top-k on the UNROUNDED score (rounding after the limit) so the
    # boundary can't flip between engines when two scores round equal
    return (
        bm25_scores(docs, ["join", "stream", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("bm25", 4).alias("bm25"))
    )


Q51_SQL = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS toks
  FROM documents
), lens AS (
  SELECT doc_id, CAST(LEN(toks) AS DOUBLE) AS dl FROM base
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, UNNEST(toks) AS t FROM base)
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


# Training-sequence assembly: each user's ordered event-type sequence,
# fingerprinted.
Q52_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       sha256(string_agg(event_type, ',' ORDER BY ts, event_id)) AS seq_sha
FROM events
GROUP BY user_id
"""


# Deterministic stratified sample: 20 docs per language by sha256(doc_id) rank.
# The constant row_number() <= 20 plans a Partial WindowGroupLimit, so each map
# task forwards at most 20 rows per language (tests/test_sampling_deskew.py).
Q53_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank
FROM r WHERE rk <= 20
"""


def q54_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates next to their exact answers — the sketch
    operators a 100 TB engine leans on (HLL distinct, quantile sketch),
    verified by bounding their error against the exact computation IN
    the query: the oracle asserts the exact values and that the sketch
    landed within tolerance (both engines see the same deterministic
    data, and Spark's sketches are deterministic for fixed input, so the
    booleans are stable). HLL rsd 0.01 so the 5% tolerance sits at ~5σ
    of the sketch's error — rsd 0.05 made the flag a coin flip (it
    actually came up False at sf0.1: estimate off by >5% is an
    EXPECTED event at 1σ). Quantile accuracy 10⁴."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.01).alias("_au"),
        F.expr("percentile(value, 0.5)").alias("_p50e"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_p50a"),
        F.expr("percentile(value, 0.95)").alias("_p95e"),
        F.expr("percentile_approx(value, 0.95, 10000)").alias("_p95a"),
    )
    tol = lambda a, e: (F.abs(a - e) <= 0.05 * F.abs(e)) | (a == e)  # noqa: E731
    return agg.select(
        "n_users_exact",
        tol(F.col("_au").cast("double"), F.col("n_users_exact").cast("double")).alias(
            "hll_within_5pct"
        ),
        F.round("_p50e", 4).alias("p50_exact"),
        tol(F.col("_p50a"), F.col("_p50e")).alias("p50_sketch_within_5pct"),
        F.round("_p95e", 4).alias("p95_exact"),
        tol(F.col("_p95a"), F.col("_p95e")).alias("p95_sketch_within_5pct"),
    )


Q54_SQL = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS hll_within_5pct,
       ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
       TRUE AS p50_sketch_within_5pct,
       ROUND(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p95_sketch_within_5pct
FROM events
"""


def q55_latest_state_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction without a table format: reduce the event
    stream to the latest row per user (operators.joins.
    latest_state_per_key) — the merge step Delta/Iceberg do internally,
    here one max_by aggregation with map-side partial combine (one
    struct per key per map task crosses the shuffle, not the history;
    the row_number window form would shuffle every row)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.joins import (
        latest_state_per_key,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    latest = latest_state_per_key(ev, "user_id", ["ts", "event_id"])
    # coalesce: driver contract forbids NULLs in registry output, and a
    # regenerated corpus could carry NULL values on the latest row
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)), 4).alias("last_value"),
    )


Q55_SQL = """
WITH r AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       ROUND(COALESCE(value, 0.0), 4) AS last_value
FROM r WHERE rn = 1
"""


# Tumbling event-time windows: 6-hour buckets per event type.
Q56_SQL = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


# Hopping windows: 6-hour windows every 2 hours (3 windows per event).
Q57_SQL = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '2 hours', ts) - (o.off * INTERVAL '2 hours') AS window_start
  FROM events CROSS JOIN (SELECT UNNEST(range(0, 3)) AS off) o
)
SELECT window_start, COUNT(*) AS n_events
FROM expanded
GROUP BY window_start
"""


# Unpivot/melt (the inverse of q46): orders' numeric facets to long form.
Q58_SQL = """
SELECT o_orderkey, metric, ROUND(value, 4) AS value FROM (
  SELECT o_orderkey, 'total_price' AS metric, o_totalprice AS value FROM orders
  UNION ALL
  SELECT o_orderkey, 'order_year', CAST(YEAR(o_orderdate) AS DOUBLE) FROM orders
  UNION ALL
  SELECT o_orderkey, 'priority_len', CAST(LEN(o_orderpriority) AS DOUBLE) FROM orders
)
"""


def q59_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment for training-data export: documents
    are laid out in a deterministic order (lang, doc_id) and cut into
    shards of ~50k tokens by cumulative-sum binning — shard id =
    floor((cumsum − tokens) / budget), i.e. the shard the document
    STARTS in. The running total is per-lang so shards never mix
    languages — and the cumsum is ``stratified_cumsum``'s two-pass
    distributed form (round-6 de-skew), NOT ``Window.partitionBy
    ("lang")``: lang is a fixed enum, so the window form would funnel
    the dominant language through ONE task at corpus scale. Cost: two
    balanced shuffles + an O(n_partitions + n_strata) offset table.

    Round-8 answer to the carried q96/z11-style re-tune question: this
    cumsum does NOT qualify for the value-domain-bounded plain-window
    annotation. q96/z11 window over DISTINCT-VALUE aggregates (bounded
    by a 6-dp score domain regardless of corpus size); q59's window
    input is one row PER DOCUMENT — n_tok repeats but the running sum
    needs every row, so no distinct-value compression exists and the
    frame grows linearly with the corpus. Measured A/B at sf0.1: the
    plain enum-partitioned window is 0.26 s vs 0.87 s stratified — the
    0.6 s is the price of not funneling ~half a real crawl (lang='en')
    through one task, and stays: this query exists to be the 100 TB
    export step."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_token_count,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        stratified_cumsum,
    )

    docs = load_table(spark, sf_dir, "documents")
    budget = 50_000
    toks = docs.select(
        "doc_id", "lang", ws_token_count(F.col("text")).alias("n_tok")
    )
    sharded = stratified_cumsum(
        toks, "lang", ["doc_id"], "n_tok", out_col="_cs"
    ).withColumn(
        "shard", F.floor((F.col("_cs") - F.col("n_tok")) / budget).cast("int")
    )
    return sharded.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
    )


Q59_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok
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


def q60_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building: global top-20 word bigrams with
    document frequencies — explode adjacent-token pairs (JVM transform
    over the token array, no UDF), count, TakeOrderedAndProject."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_t")
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.slice("_t", 1, F.size("_t") - 1),
                    lambda x, i: F.concat_ws(" ", x, F.element_at("_t", i + 2)),
                ),
            ).otherwise(F.array())
        ).alias("bigram"),
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(20)
    )


Q60_SQL = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), b AS (
  SELECT doc_id, UNNEST(list_transform(range(1, LEN(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
  FROM t WHERE LEN(tk) >= 2
)
SELECT bigram, COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 20
"""


def q61_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.ngram_decontaminate):
    corpus documents sharing ≥1 distinct 5-gram with the held-out eval
    slice (doc_id % 97 == 0 stands in for the benchmark set), flagged
    contaminated at ≥3 shared grams. Eval n-gram set broadcasts; the
    corpus side is one scan — no corpus shuffle of text."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        ngram_decontaminate,
    )
    docs = load_table(spark, sf_dir, "documents")
    # round-12 A/B: round-robin-parallelizing the corpus side ahead of
    # the gram explode (ensure_min_partitions) measured 1.23 → 3.84 s
    # min-of-5 at sf0.1 — the text exchange + 32-task scheduling costs
    # far more than the one-task tokenize saves here. Left single-task
    # locally; at scale the corpus arrives multi-partition anyway.
    return ngram_decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=5,
        min_shared=3,
    ).orderBy("doc_id")


Q61_SQL = r"""
WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN LEN(tk) >= 5 THEN
           list_distinct(list_transform(range(1, LEN(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')))
         WHEN LEN(tk) > 0 THEN [array_to_string(tk, ' ')]
         ELSE [] END AS sh
  FROM d
), e AS (
  SELECT DISTINCT UNNEST(sh) AS g FROM s WHERE doc_id % 97 = 0
), c AS (
  SELECT doc_id, UNNEST(sh) AS g FROM s WHERE doc_id % 97 <> 0
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared,
       COUNT(DISTINCT c.g) >= 3 AS contaminated
FROM c JOIN e USING (g)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def q62_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality rules):
    distinct-token ratio and top-token fraction, with the repetition
    flag both engines derive from UNROUNDED ratios. Shape: explode →
    two-level partial aggregation on (doc_id, token) then doc_id — all
    JVM expressions, map-side combine on both hops."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt").cast("double")
    distinct_ratio = F.count(F.lit(1)).cast("double") / n
    top_fraction = F.max("cnt").cast("double") / n
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.round(distinct_ratio, 4).alias("distinct_ratio"),
            F.round(top_fraction, 4).alias("top_fraction"),
            ((top_fraction > 0.25) | (distinct_ratio < 0.5)).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


Q62_SQL = r"""
WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS tk
  FROM documents
), t AS (
  SELECT doc_id, UNNEST(tk) AS tok FROM d
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


def q63_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (the A-family's missing quantile
    aggregate): p50/p90/p99 of event value per event_type via Spark's
    ``percentile`` — linear interpolation, same definition as DuckDB's
    ``quantile_cont``. One partial-agg shuffle on the group key. At
    corpus scale swap in ``percentile_approx`` (t-digest, mergeable
    sketches) — exact percentile must collect each group's values; the
    approx form is the 100 TB default, kept exact here for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(pct.getItem(0), 4).alias("p50"),
            F.round(pct.getItem(1), 4).alias("p90"),
            F.round(pct.getItem(2), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


Q63_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q64_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × point RANGE join via the binned equi-join operator
    (operators.joins.binned_range_join) — no BroadcastNestedLoopJoin.
    Audit windows derive lazily from the orders table itself (40
    20-day windows at a 70-day stride from min(o_orderdate); one tiny
    agg row exploded — no driver collect); each order lands in the
    windows covering its date; output = per-window order counts and
    revenue. Bin width 21 days ≈ the window span, so each interval
    replicates to ≤2 bins."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.joins import (
        binned_range_join,
    )

    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    windows = (
        orders.agg(F.min(F.to_date("o_orderdate")).alias("_mn"))
        .select(F.datediff(F.col("_mn"), epoch).alias("_mn_day"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(39))).alias("window_id"),
            F.col("_mn_day"),
        )
        .select(
            "window_id",
            (F.col("_mn_day") + F.col("window_id") * 70).alias("lo"),
            (F.col("_mn_day") + F.col("window_id") * 70 + 20).alias("hi"),
        )
    )
    points = orders.select(
        F.datediff(F.to_date("o_orderdate"), epoch).alias("p"),
        "o_totalprice",
    )
    return (
        binned_range_join(windows, points, bin_size=21)
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("window_id")
    )


Q64_SQL = """
WITH m AS (
  SELECT DATEDIFF('day', DATE '1970-01-01', MIN(CAST(o_orderdate AS DATE))) AS mn_day
  FROM orders
), w AS (
  SELECT i AS window_id, mn_day + i * 70 AS lo, mn_day + i * 70 + 20 AS hi
  FROM m, range(0, 40) t(i)
), p AS (
  SELECT DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS p, o_totalprice
  FROM orders
)
SELECT window_id,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM p JOIN w ON p.p >= w.lo AND p.p < w.hi
GROUP BY window_id
ORDER BY window_id
"""


# Deterministic train/val/test split by the first hex char of sha256(doc_id).
Q65_SQL = """
WITH s AS (
  SELECT CASE WHEN SUBSTR(sha256(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
              WHEN SUBSTR(sha256(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
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


def q66_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions.text.redact_pii): the
    pre-training scrub every corpus pipeline runs. The testdata carries
    no PII, so a contact-card string is synthesized from customer
    fields with the IDENTICAL expression in both engines, then the real
    regex operators run on it: per-pattern audit counts
    (email/phone/ipv4) and the masked string. All JVM regexp — one
    projection, no shuffle at all except the output sort. Note the
    9-digit zero-padded id inside c_name itself matches the phone
    pattern (aggressive masking is the point) — both engines count it.
    """
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
        F.lit("@example.com> +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        (F.col("c_custkey") % 100).cast("string"),
        F.lit(".7"),
    )
    with_contact = cust.select("c_custkey", contact.alias("_contact"))
    counts = pii_counts(F.col("_contact"))
    return with_contact.select(
        "c_custkey",
        counts["email"].cast("int").alias("n_email"),
        counts["phone"].cast("int").alias("n_phone"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        redact_pii(F.col("_contact")).alias("redacted"),
    ).orderBy("c_custkey")


Q66_SQL = r"""
WITH c AS (
  SELECT c_custkey,
         c_name || ' <' || LOWER(REPLACE(c_name, '#', '.'))
           || '@example.com> +1-555-'
           || LPAD(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           || ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR)
           || '.' || CAST(c_custkey % 100 AS VARCHAR) || '.7' AS contact
  FROM customer
)
SELECT c_custkey,
       CAST(LEN(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(LEN(regexp_extract_all(contact, '\+\d(?:-?\d){6,}|\d(?:-?\d){8,}')) AS INT) AS n_phone,
       CAST(LEN(regexp_extract_all(contact, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
         '\+\d(?:-?\d){6,}|\d(?:-?\d){8,}', '[PHONE]', 'g') AS redacted
FROM c
ORDER BY c_custkey
"""


def q67_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via the SymSpell fuzzy join
    (operators.joins.fuzzy_join_ed1): for every customer name, how many
    other names sit within edit distance 1 and which sorts first — the
    dirty-key reconciliation step of record linkage. The deletion-
    neighborhood equi-join does Σ bucket² work instead of the naive
    |N|² cross join the oracle runs; levenshtein verifies candidates
    only."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.joins import (
        fuzzy_join_ed1,
    )

    names = load_table(spark, sf_dir, "customer").select("c_name")
    pairs = fuzzy_join_ed1(names, names, "c_name", "c_name", self_join=True).filter(
        F.col("left_key") != F.col("right_key")
    )
    return (
        pairs.groupBy(F.col("left_key").alias("c_name"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.min("right_key").alias("nearest"),
        )
        .orderBy("c_name")
    )


Q67_SQL = """
SELECT a.c_name AS c_name,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       MIN(b.c_name) AS nearest
FROM customer a JOIN customer b
  ON a.c_name <> b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
GROUP BY a.c_name
ORDER BY c_name
"""


# Equi-width 20-bucket histogram of event values per type over the global range.
Q68_SQL = """
WITH s AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), b AS (
  SELECT event_type,
         CAST(LEAST(FLOOR((value - mn) / ((mx - mn) / 20.0)), 19) AS INT) AS bucket,
         mn + CAST(LEAST(FLOOR((value - mn) / ((mx - mn) / 20.0)), 19) AS INT) * ((mx - mn) / 20.0) AS lo
  FROM events, s
)
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(lo), 4) AS bucket_lo
FROM b
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


# Time-RANGE rolling aggregate: trailing 1-hour count and sum per user.
Q69_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       ROUND(SUM(value) OVER w, 4) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QuerySpec] = {
    "q01_pricing_summary": QuerySpec(partial(run_sql, Q01_SQL), Q01_SQL),
    "q02_top_revenue_orders": QuerySpec(partial(run_sql, Q02_SQL), Q02_SQL),
    "q03_segment_revenue": QuerySpec(partial(run_sql, Q03_SQL), Q03_SQL),
    "q04_priority_exists": QuerySpec(partial(run_sql, Q04_SQL), Q04_SQL),
    "q05_region_rollup": QuerySpec(partial(run_sql, Q05_SQL), Q05_SQL),
    "q06_revenue_delta": QuerySpec(partial(run_sql, Q06_SQL), Q06_SQL),
    "q07_case_bands": QuerySpec(partial(run_sql, Q07_SQL), Q07_SQL),
    "q08_conditional_share": QuerySpec(q08_conditional_share, Q08_SQL),
    "q09_weighted_avg": QuerySpec(q09_weighted_avg, Q09_SQL),
    "q10_grouping_sets": QuerySpec(q10_grouping_sets, Q10_SQL),
    "q11_distinct_count": QuerySpec(partial(run_sql, Q11_SQL), Q11_SQL),
    "q12_anti_join": QuerySpec(partial(run_sql, Q12_SQL), Q12_SQL),
    "q13_semi_join": QuerySpec(partial(run_sql, Q13_SQL), Q13_SQL),
    "q14_union_tag": QuerySpec(partial(run_sql, Q14_SQL), Q14_SQL),
    "q15_topk_per_group": QuerySpec(q15_topk_per_group, Q15_SQL),
    "q16_dedup_first": QuerySpec(q16_dedup_first, Q16_SQL),
    "q17_rolling_events": QuerySpec(q17_rolling_events, Q17_SQL),
    "q18_runs": QuerySpec(q18_runs, Q18_SQL),
    "q19_ffill": QuerySpec(q19_ffill, Q19_SQL),
    "q20_percent_rank": QuerySpec(q20_percent_rank, Q20_SQL),
    "q21_sessionize": QuerySpec(q21_sessionize, Q21_SQL),
    "q22_daily_counts": QuerySpec(partial(run_sql, Q22_SQL), Q22_SQL),
    "q23_hourly_profile": QuerySpec(partial(run_sql, SPARK_SQL["q23_hourly_profile"]), Q23_SQL),
    "q24_json_extract": QuerySpec(partial(run_sql, SPARK_SQL["q24_json_extract"]), Q24_SQL),
    "q25_text_stats": QuerySpec(partial(run_sql, SPARK_SQL["q25_text_stats"]), Q25_SQL),
    "q26_exact_dedup": QuerySpec(partial(run_sql, SPARK_SQL["q26_exact_dedup"]), Q26_SQL),
    "q27_embedding_topk": QuerySpec(q27_embedding_topk, Q27_SQL),
    "q28_bpe_tokens": QuerySpec(q28_bpe_tokens, Q28_SQL),
    "q29_language_id": QuerySpec(q29_language_id, _lang_id_sql()),
    "q30_quality_filter": QuerySpec(q30_quality_filter, Q30_SQL),
    "q31_fingerprint_dedup": QuerySpec(q31_fingerprint_dedup, Q31_SQL),
    "q32_jaccard_neardup": QuerySpec(q32_jaccard_neardup, Q32_SQL),
    "q33_minhash_neardup": QuerySpec(q33_minhash_neardup, Q33_SQL),
    "q34_simhash_neardup": QuerySpec(q34_simhash_neardup, Q34_SQL),
    "q35_embedding_neardup": QuerySpec(q35_embedding_neardup, Q35_SQL),
    "q36_ann_lsh_topk": QuerySpec(q36_ann_lsh_topk, Q36_SQL),
    "q37_knn_per_label": QuerySpec(q37_knn_per_label, Q37_SQL),
    "q38_media_metadata": QuerySpec(partial(run_sql, SPARK_SQL["q38_media_metadata"]), Q38_SQL),
    "q39_frame_sample": QuerySpec(q39_frame_sample, Q39_SQL),
    "q40_numeric_profile": QuerySpec(q40_numeric_profile, Q40_SQL),
    "q41_left_enrich": QuerySpec(partial(run_sql, Q41_SQL), Q41_SQL),
    "q42_union_missing_columns": QuerySpec(partial(run_sql, Q42_SQL), Q42_SQL),
    "q43_session_windows": QuerySpec(partial(run_sql, Q43_SQL), Q43_SQL),
    "q44_asof_attribution": QuerySpec(q44_asof_attribution, Q44_SQL),
    "q45_rollup_revenue": QuerySpec(partial(run_sql, Q45_SQL), Q45_SQL),
    "q46_pivot_event_types": QuerySpec(partial(run_sql, Q46_SQL), Q46_SQL),
    "q47_oscillation_window": QuerySpec(q47_oscillation_window, Q47_SQL),
    "q48_custom_sort": QuerySpec(partial(run_sql, Q48_SQL), Q48_SQL),
    "q49_ivf_topk": QuerySpec(q49_ivf_topk, Q49_SQL),
    "q50_dedup_clusters": QuerySpec(q50_dedup_clusters, Q50_SQL),
    "q51_bm25_search": QuerySpec(q51_bm25_search, Q51_SQL),
    "q52_event_sequences": QuerySpec(partial(run_sql, SPARK_SQL["q52_event_sequences"]), Q52_SQL),
    "q53_stratified_sample": QuerySpec(partial(run_sql, SPARK_SQL["q53_stratified_sample"]), Q53_SQL),
    "q54_sketch_aggregates": QuerySpec(q54_sketch_aggregates, Q54_SQL),
    "q55_latest_state_upsert": QuerySpec(q55_latest_state_upsert, Q55_SQL),
    "q56_tumbling_windows": QuerySpec(partial(run_sql, SPARK_SQL["q56_tumbling_windows"]), Q56_SQL),
    "q57_hopping_windows": QuerySpec(partial(run_sql, SPARK_SQL["q57_hopping_windows"]), Q57_SQL),
    "q58_unpivot_melt": QuerySpec(partial(run_sql, Q58_SQL), Q58_SQL),
    "q59_shard_packing": QuerySpec(q59_shard_packing, Q59_SQL),
    "q60_top_bigrams": QuerySpec(q60_top_bigrams, Q60_SQL),
    "q61_decontaminate": QuerySpec(q61_decontaminate, Q61_SQL),
    "q62_repetition_quality": QuerySpec(q62_repetition_quality, Q62_SQL),
    "q63_value_percentiles": QuerySpec(q63_value_percentiles, Q63_SQL),
    "q64_range_join_windows": QuerySpec(q64_range_join_windows, Q64_SQL),
    "q65_hash_split": QuerySpec(partial(run_sql, SPARK_SQL["q65_hash_split"]), Q65_SQL),
    "q66_pii_redaction": QuerySpec(q66_pii_redaction, Q66_SQL),
    "q67_fuzzy_name_match": QuerySpec(q67_fuzzy_name_match, Q67_SQL),
    "q68_value_histogram": QuerySpec(partial(run_sql, Q68_SQL), Q68_SQL),
    "q69_trailing_hour": QuerySpec(partial(run_sql, SPARK_SQL["q69_trailing_hour"]), Q69_SQL),
    **EXT_QUERIES,
}
