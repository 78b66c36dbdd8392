"""Analytics registry extension — q70+: training-data prep, funnel /
cohort analytics, statistical profiling, and time-series interpolation.

Same contract as ``plans/analytics.py`` (each query paired with a DuckDB
oracle; a body or one Spark SQL text run by ``run_sql``); split into a
second module purely to keep file sizes sane. ``analytics.py`` imports
``EXT_QUERIES`` and merges it into the registry; this module imports
nothing from ``analytics``.

Determinism rules are identical: unique tiebreakers under every LIMIT /
top-k, floats rounded the same on both sides, count-likes BIGINT.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import windows as W
from sustainable_building_energy_benchmarking_pipeline_spark.plans.sql_frontend import (
    Q50_SQL,
    SPARK_SQL,
    QuerySpec,
    run_sql,
)
from sustainable_building_energy_benchmarking_pipeline_spark.session import load_table


# ---------------------------------------------------------------------------
# Training-data prep
# ---------------------------------------------------------------------------

CHUNK_CHARS = 200


# Fixed-size character chunking of documents (training-sequence prep).
Q70_SQL = f"""
WITH e AS (
  SELECT doc_id, text,
         UNNEST(range(0, CAST(CEIL(LENGTH(text) / {CHUNK_CHARS}.0) AS INT))) AS chunk_id
  FROM documents WHERE LENGTH(text) > 0
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(LENGTH(substr(text, CAST(chunk_id AS INT) * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS INT) AS chunk_chars,
       sha256(substr(text, CAST(chunk_id AS INT) * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_sha
FROM e
ORDER BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------------
# Event analytics: funnel / cohorts / mode
# ---------------------------------------------------------------------------

# Strict-order funnel (view → click → purchase): per-stage distinct users.
Q71_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users
UNION ALL
SELECT 'view>click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
UNION ALL
SELECT 'view>click>purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
"""


# Weekly cohort retention: active users per (cohort_week, week_offset).
Q72_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS users
FROM active JOIN first USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


# Mode per user: the most frequent event type, ties broken alphabetically.
Q73_SQL = """
WITH cnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
  FROM cnt
)
SELECT user_id, event_type AS mode_type, n
FROM r WHERE rn = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Statistical profiling
# ---------------------------------------------------------------------------

def q74_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) quartile bucketing of customers by account balance with a
    unique tiebreaker (c_custkey), then per-bucket stats.

    Scale: ``F.ntile`` over a global order funnels the table through ONE
    task; this uses ``distributed_ntile`` (operators/windows.py) — the
    same two-pass range-partitioned global rank as q20's percent_rank,
    with NTILE's first-buckets-biggest arithmetic applied to the rank —
    so the sort stays distributed and the result is row-identical to
    ``NTILE(4) OVER (ORDER BY bal, key)``."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        distributed_ntile,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    return (
        distributed_ntile(cust, ["c_acctbal", "c_custkey"], 4, out_col="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .orderBy("bucket")
    )


Q74_SQL = """
WITH b AS (
  SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS bucket
  FROM customer
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(c_acctbal), 2) AS min_bal,
       ROUND(MAX(c_acctbal), 2) AS max_bal,
       ROUND(AVG(c_acctbal), 4) AS avg_bal
FROM b GROUP BY bucket ORDER BY bucket
"""


# Pearson correlation / sample covariance of lineitem measures per return flag.
Q75_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q76_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute deviation
    (MAD), flagging |value − median| > 3·MAD. The robust cousin of the
    reference's z-score rule (src/anomaly_detection.py) — median/MAD
    don't blow up on the heavy tail that wrecks mean/std.

    Scale: two exact-percentile aggs on a 5-group key plus two
    broadcast joins of 5-row dims back to the fact — the fact table is
    scanned twice but never shuffled wide (percentile shuffles 5 groups).
    ``percentile`` ≡ DuckDB ``quantile_cont`` (q63 precedent)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad"), F.first("med").alias("med")
    )
    return (
        dev.select("event_type", "dev")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


Q76_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad, ANY_VALUE(med) AS med
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(ANY_VALUE(m.med), 4) AS med,
       ROUND(ANY_VALUE(m.mad), 4) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# Text / corpus analytics
# ---------------------------------------------------------------------------

def _tokens(text):
    """lower → split \\s+ → drop empties; the corpus-wide tokenizer
    convention shared with functions/text.py and every text oracle."""
    return F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != F.lit("")
    )


def q77_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (score = tf · ln(N/df)) — the
    classic sparse retrieval/feature step BM25 (q51) generalizes.

    Scale: explode → (doc, term) count shuffles on the pair key; the
    document-frequency table aggregates from the SAME (doc, term)
    intermediate (one scan), and joins back on term — a skew-prone
    shuffle join at corpus scale (stopword terms are hot keys; AQE skew
    split handles it, and a min-df/stopword prune is the knob). The N
    scalar joins as a broadcast literal-row, not a collect."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        pairs.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "doc_id",
            F.col("rn").alias("rank"),
            "term",
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id", "rank")
    )


Q77_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '')) AS term
  FROM documents
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


# Unigram Shannon entropy per document (H = log2 n − Σ c·log2 c / n).
Q80_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '')) AS term
  FROM documents
), cnt AS (
  SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6) AS entropy
FROM cnt GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Time-series interpolation / OLAP cube
# ---------------------------------------------------------------------------

def q78_grid_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly grid resample with linear interpolation — the
    reference's regular-interval HVAC frame (5-min grid,
    src/generate_hvac_data.py) generalized to irregular event streams:
    project each user's events onto an hourly grid, linearly
    interpolating between the bracketing events (nearest value at the
    edges).

    Shape: union(events, grid) → one window per user ordered by
    (ts, is_grid, event_id): ffill carries (prev_ts, prev_val) forward,
    a mirrored future-frame window picks (next_ts, next_val); the
    interpolation is pure arithmetic. Exact-ts duplicates are
    pre-averaged so the bracketing values are deterministic.

    Scale: grid generation is sequence/explode off the per-user min/max
    agg (no driver loop). Three keyed exchanges in the executed plan:
    the (user, ts) pre-average, the user-keyed bounds agg, and the
    post-union window (union output drops partitioning info, so the
    window re-shuffles regardless of branch keys — a Spark planner
    property, not a query choice). All three move linear data; row
    count = events + user·hours — no quadratic term. The future side is
    a bfill over the reversed order: one more local sort inside the same
    exchange, and both frames grow incrementally."""
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.avg("value").alias("value"), F.min("event_id").alias("event_id"))
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("interval 1 hour"))
        ).alias("ts"),
    )
    unioned = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.lit(0).alias("is_grid"),
        "event_id",
    ).unionByName(
        grid.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    order = [F.col("ts_us"), F.col("is_grid"), F.coalesce("event_id", F.lit(1 << 62))]
    w_past = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ev_ts = F.when(F.col("is_grid") == 0, F.col("ts_us"))
    filled = unioned.select(
        "user_id",
        "ts_us",
        "is_grid",
        F.last("value", ignorenulls=True).over(w_past).alias("pv"),
        F.last(ev_ts, ignorenulls=True).over(w_past).alias("pt"),
        W.bfill("value", "user_id", order).alias("nv"),
        W.bfill(ev_ts, "user_id", order).alias("nt"),
    )
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("ts_us") - F.col("pt"))
            / (F.col("nt") - F.col("pt"))
        )
    )
    return (
        filled.where(F.col("is_grid") == 1)
        .select(
            "user_id",
            F.timestamp_micros(F.col("ts_us")).alias("grid_ts"),
            F.round(interp, 4).alias("value"),
        )
        .orderBy("user_id", "grid_ts")
    )


Q78_SQL = """
WITH ev AS (
  SELECT user_id, ts, AVG(value) AS value, MIN(event_id) AS event_id
  FROM events GROUP BY user_id, ts
), bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1
  FROM ev GROUP BY user_id
), grid AS (
  SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
  FROM bounds
), u AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value, 0 AS is_grid, event_id FROM ev
  UNION ALL
  SELECT user_id, epoch_us(ts), NULL, 1, NULL FROM grid
), f AS (
  SELECT user_id, ts_us, is_grid,
         LAST_VALUE(value IGNORE NULLS) OVER w_past AS pv,
         LAST_VALUE(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS) OVER w_past AS pt,
         FIRST_VALUE(value IGNORE NULLS) OVER w_future AS nv,
         FIRST_VALUE(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS) OVER w_future AS nt
  FROM u
  WINDOW
    w_past AS (PARTITION BY user_id ORDER BY ts_us, is_grid, COALESCE(event_id, 4611686018427387904)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_future AS (PARTITION BY user_id ORDER BY ts_us, is_grid, COALESCE(event_id, 4611686018427387904)
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, make_timestamp(ts_us) AS grid_ts,
       ROUND(CASE WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (ts_us - pt) * 1.0 / (nt - pt)
             END, 4) AS value
FROM f WHERE is_grid = 1
ORDER BY user_id, grid_ts
"""


# CUBE over (orderstatus, order year): all four grouping combinations at once.
Q79_SQL = """
SELECT o_orderstatus,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, EXTRACT(year FROM o_orderdate))
ORDER BY gid, o_orderstatus, o_year
"""


def q81_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of value over event time via the built-in
    regression aggregates (regr_slope/intercept/r2) — closed-form OLS as
    a single-pass groupBy, the declarative form of 'fit a tiny model per
    group' that needs no applyInPandas.

    Scale: one shuffle on event_type; the regression moments are
    partial-aggregable (sums of x, y, xy, x², y²), so map-side combine
    reduces each partition to 5 moment rows. Hours-since-epoch keeps the
    x scale small enough that both engines' double accumulation agrees
    to the rounding tolerance."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(3_600_000_000.0)).alias("x")
    return (
        ev.select("event_type", x, F.col("value").alias("y"))
        .groupBy("event_type")
        .agg(
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
            F.regr_count("y", "x").alias("n"),
        )
        .orderBy("event_type")
    )


Q81_SQL = """
SELECT event_type,
       ROUND(regr_slope(y, x), 6) AS slope,
       ROUND(regr_intercept(y, x), 4) AS intercept,
       ROUND(regr_r2(y, x), 6) AS r2,
       CAST(regr_count(y, x) AS BIGINT) AS n
FROM (SELECT event_type, epoch_us(ts) / 3600000000.0 AS x, value AS y FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def q82_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation completeness (§2.7 beyond union): customers who
    ordered in BOTH 1995 and 1996 (INTERSECT) but NOT in 1997 (EXCEPT),
    enriched with their market segment.

    Scale (round-12 restructure, guide §1.2/§2.3): INTERSECT/EXCEPT
    over three year-filtered DISTINCT projections scans orders three
    times and shuffles custkey five times (three distincts + the
    semi/anti joins Spark lowers set ops to). The set algebra is a pure
    function of which years each customer ordered in, so ONE scan +
    ONE custkey aggregate of three conditional max-flags computes the
    identical set (oracle-verified; the SQL surfaces still spell
    INTERSECT/EXCEPT — this is the plan the optimizer should have
    found). The combined year filter still pushes to the parquet scan,
    and the dim join stays broadcast-able."""
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    both = (
        o.where(y.isin(1995, 1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(y == 1995, 1).otherwise(0)).alias("_y95"),
            F.max(F.when(y == 1996, 1).otherwise(0)).alias("_y96"),
            F.max(F.when(y == 1997, 1).otherwise(0)).alias("_y97"),
        )
        .where((F.col("_y95") == 1) & (F.col("_y96") == 1) & (F.col("_y97") == 0))
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        both.join(cust, both["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


Q82_SQL = """
WITH survivors AS (
  SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM survivors JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# Event-type transition matrix per user stream. The normalizing window runs
# over the ≤25-row (prev, curr) aggregate, never the fact.
Q83_SQL = """
WITH t AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS curr_type
  FROM events
), c AS (
  SELECT prev_type, curr_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE prev_type IS NOT NULL
  GROUP BY prev_type, curr_type
)
SELECT prev_type, curr_type, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM c
ORDER BY prev_type, curr_type
"""


def q84_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram per event type: quartile boundaries from
    exact percentiles, then per-bucket counts — the complement of q68's
    equi-width buckets (these adapt to the distribution; the optimizer-
    statistics shape).

    Scale: one 5-group percentile agg (array of 3 cut points per type),
    broadcast back onto the fact, bucket index = how many cut points lie
    strictly below the value (sum of three comparisons — no per-row
    search). The fact shuffles only for the final (type, bucket) count."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("qs")
    )
    bucket = (
        (F.col("value") > F.col("qs")[0]).cast("int")
        + (F.col("value") > F.col("qs")[1]).cast("int")
        + (F.col("value") > F.col("qs")[2]).cast("int")
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


Q84_SQL = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5)  AS q2,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST((e.value > c.q1) AS INT) + CAST((e.value > c.q2) AS INT)
         + CAST((e.value > c.q3) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type, bucket
ORDER BY e.event_type, bucket
"""


# Per-type z-score: grouped moments (5 rows) join back onto the fact.
Q85_SQL = """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, ROUND((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s USING (event_type)
ORDER BY e.event_id
"""


# Per event, the error count and rate over the user's trailing 10 events.
Q86_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS n_errors_10,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w * 1.0
             / COUNT(*) OVER w, 6) AS err_rate
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# Week-over-week growth per event type: lag over the tiny (type, week)
# aggregate, never the fact.
Q87_SQL = """
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
         ROUND(SUM(value), 4) AS total
  FROM events GROUP BY event_type, wk
)
SELECT event_type, wk, total,
       ROUND((total - LAG(total) OVER w) / LAG(total) OVER w, 6) AS wow_pct
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY wk)
ORDER BY event_type, wk
"""


# Funnel completion latency: stats of view → purchase seconds (q71's stages).
Q88_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2, ANY_VALUE(v.t1) AS t1
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3, ANY_VALUE(c.t1) AS t1
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
), lat AS (
  SELECT (epoch_us(t3) - epoch_us(t1)) / 1000000.0 AS latency_s FROM p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(AVG(latency_s), 4) AS avg_s,
       ROUND(quantile_cont(latency_s, 0.5), 4) AS median_s,
       ROUND(MAX(latency_s), 4) AS max_s
FROM lat
"""


def q89_ivf_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate IVF top-k with fixed nprobe — the 100 TB ANN serving
    path (probe nprobe/nlist of the data; candidates ≈ N·nprobe/nlist),
    complementing q49's exact triangle-inequality variant and q36's
    RP-LSH. Approximate BY DESIGN: no SQL oracle exists (the driver
    records the weaker rows-only check); the quality contract lives in
    tests/test_dedup_similarity.py — recall@10 vs brute force at this
    (nlist, nprobe), and probed-candidate-count < corpus as the
    work-bound invariant. Quantizer: sample-trained numpy Lloyd's (the
    FAISS posture — one bounded collect instead of MLlib's
    dozens-of-jobs fit; the distributed-MLlib trainer stays available
    via trainer="mllib"); assignment is one Arrow matmul, probing is an
    equi-filter that becomes a partition-pruned scan when the corpus is
    written partitioned by cell."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # max_iter=5: recall depends on cell quality only marginally past a
    # few Lloyd iterations (the rerank is exact within probed cells)
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), qv, k=10, nlist=8, nprobe=4,
        max_iter=5, trainer="sample",
    ).select("id", F.round("cosine_sim", 4).alias("cosine_sim"))


def q90_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding geometry via higher-order ARRAY functions —
    L2 norms from ``F.aggregate`` over the vector column, fully JVM-side
    (the declarative counterpart of the Arrow kernels in
    operators/similarity.py: right below ~a few hundred dims, lambda
    interpretation beats Arrow round-trips; above, the kernel wins —
    both live in this codebase on purpose).

    Scale: narrow projection (no explode — the array never flattens to
    rows), one shuffle on label for the 4-group aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return (
        emb.select(
            "label",
            F.sqrt(sq_norm).alias("_nrm"),
            F.element_at("embedding", 1).cast("double").alias("_c0"),
            F.size("embedding").alias("_dim"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.first("_dim").alias("dim"),
            F.round(F.avg("_nrm"), 6).alias("avg_norm"),
            F.round(F.avg("_c0"), 6).alias("avg_c0"),
        )
        .orderBy("label")
    )


Q90_SQL = """
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ANY_VALUE(LEN(embedding)) AS dim,
       ROUND(AVG(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 6) AS avg_norm,
       ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS avg_c0
FROM embeddings
GROUP BY label
ORDER BY label
"""


def q91_outer_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving flatten (``posexplode_outer``): long tokens
    (> 8 chars) per document, KEEPING documents with none as a NULL row
    — the left-join-shaped explode that plain explode silently drops
    (the row-count trap when a flatten feeds a coverage metric).

    Scale: narrow generate — no shuffle at all; output order restored by
    sort keys, not by generation order."""
    docs = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(_tokens(F.col("text")), lambda t: F.length(t) > 8)
    return (
        docs.select("doc_id", F.posexplode_outer(long_toks).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


Q91_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), x -> x <> ''),
                     x -> LENGTH(x) > 8) AS arr
  FROM documents
), e AS (
  SELECT doc_id,
         UNNEST(range(0, LEN(arr))) AS pos,
         UNNEST(arr) AS token
  FROM t WHERE LEN(arr) > 0
)
SELECT t.doc_id, CAST(e.pos AS INT) AS pos, e.token
FROM t LEFT JOIN e USING (doc_id)
ORDER BY t.doc_id, pos
"""


# Grouped top-3 per user by value, with a unique tiebreaker.
Q92_SQL = """
WITH r AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
)
SELECT user_id, CAST(rank AS INT) AS rank, event_id, ROUND(value, 4) AS value
FROM r WHERE rank <= 3
ORDER BY user_id, rank
"""


# Leaderboard with ties kept: every row of the top-2 dense-ranked value bands
# per event type.
Q93_SQL = """
WITH r AS (
  SELECT event_type, event_id, ROUND(value, 0) AS band,
         DENSE_RANK() OVER (PARTITION BY event_type ORDER BY ROUND(value, 0) DESC) AS dr
  FROM events
)
SELECT event_type, CAST(dr AS INT) AS band_rank, band, event_id
FROM r WHERE dr <= 2
ORDER BY event_type, band_rank, event_id
"""


def q94_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG Pandas UDF — the user-defined
    aggregation API class (scalar Pandas UDFs, mapInPandas,
    applyInPandas and applyInPandasWithState are all exercised
    elsewhere; this is the remaining surface). Geometric mean per event
    type, chosen because it reduces to EXP(AVG(LN(x))) so the UDAF has
    an exact SQL oracle — the point is the API mechanics, not the math
    (a plain-expression form would be the production choice, exactly as
    the docstring convention for every Python-path operator here).

    Scale: GROUPED_AGG ships each group's column to ONE Python worker —
    no partial aggregation — so per-group cardinality must fit a task
    (5 types × 20k rows here). For unbounded groups prefer the
    expression form or a two-stage partial (ln-sum + count, then
    combine); the zero guard keeps ln() off -inf."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v[v > 0]).mean()))

    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(F.round(geo_mean("value"), 6).alias("geo_mean_value"))
        .orderBy("event_type")
    )


Q94_SQL = """
SELECT event_type,
       ROUND(EXP(AVG(LN(value))), 6) AS geo_mean_value
FROM events
WHERE value > 0
GROUP BY event_type
ORDER BY event_type
"""


def q95_value_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE window frame — peers defined by VALUE distance, not
    row position: for each order, how many same-status orders price
    within ±100, and their share of that band's revenue. Completes the
    frame-type family (ROWS q17/q86, time-RANGE q69, value-RANGE here);
    the three differ exactly when duplicates/gaps appear, which is why
    each needs its own query.

    Scale (round-6 de-skew): a bounded VALUE frame only ever needs rows
    within ±100, so the enum partition key is pre-split by a coarse
    price megabin (width 2000) — the frame-overlap split from
    operators/windows.py's header: rows within 100 of a megabin
    boundary are DUPLICATED into the neighbor bin as ghost frame
    members (≤10% inflation at this width), the window runs over
    (status, megabin) — cardinality scales with the price range, no
    single-enum task — and ghost rows are dropped from the output.
    Exact: every row's ±100 peers are present in its megabin partition
    by construction. The fan-out is ONE scan (array-of-candidates →
    filter → explode), not a 3-branch union that would read the fact
    three times."""
    SPAN, MEGA = 100, 2000
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    mb = F.floor(F.col("o_totalprice") / MEGA).cast("long")
    price = F.col("o_totalprice")
    cand = F.array(
        F.struct(mb.alias("_mb"), F.lit(0).alias("_g")),
        F.struct((mb - 1).alias("_mb"), F.lit(1).alias("_g")),
        F.struct((mb + 1).alias("_mb"), F.lit(2).alias("_g")),
    )
    keep = F.filter(
        cand,
        lambda s: (s["_g"] == 0)
        | ((s["_g"] == 1) & (price - mb * MEGA < SPAN))
        | ((s["_g"] == 2) & ((mb + 1) * MEGA - price <= SPAN)),
    )
    fanned = base.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.explode(keep).alias("_e"),
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_e._mb").alias("_mb"),
        (F.col("_e._g") != 0).alias("_ghost"),
    )
    w = (
        Window.partitionBy("o_orderstatus", "_mb")
        .orderBy("o_totalprice")
        .rangeBetween(-SPAN, SPAN)
    )
    return (
        fanned
        .select(
            "o_orderkey",
            "o_orderstatus",
            "_ghost",
            F.count(F.lit(1)).over(w).alias("n_band"),
            F.round(
                F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6
            ).alias("band_share"),
        )
        .filter(~F.col("_ghost"))
        .drop("_ghost")
        .orderBy("o_orderkey")
    )


Q95_SQL = """
SELECT o_orderkey, o_orderstatus,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_band,
       ROUND(o_totalprice / SUM(o_totalprice) OVER w, 6) AS band_share
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
ORDER BY o_orderkey
"""


# Discrete percentiles (percentile_disc): always a value present in the data.
Q96_SQL = """
SELECT event_type,
       quantile_disc(value, 0.25) AS p25,
       quantile_disc(value, 0.5)  AS p50,
       quantile_disc(value, 0.9)  AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q97_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate measurement at sub-document granularity: the
    fraction of each document's distinct 5-gram shingles that occur in
    ≥3 documents (navigation chrome, legal footers, template text
    — the mass C4/RefinedWeb strip before training).

    Shape: one inverted index over (gram → distinct-doc count) — grams
    are distinct per doc, so ``COUNT(*)`` per gram IS the doc frequency
    — then re-join the per-doc gram postings against the common-gram
    set and re-aggregate per doc. Two hash shuffles (gram, doc_id),
    both on well-distributed keys; no pair joins anywhere, so corpus
    size scales the posting list linearly (same Σc postings shape as
    q61's decontamination, pointed at intra-corpus recurrence instead
    of an external eval set)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        shingles_from_tokens,
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    sh = toks.select(
        "doc_id", shingles_from_tokens(F.col("toks"), k=5).alias("sh")
    )
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    common = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 3)
        .select("g")
    )
    boiler = (
        posts.join(common, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        sh.select("doc_id", F.size("sh").cast("bigint").alias("n_grams"))
        .join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce("n_boiler", F.lit(0)) / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("boiler_frac"),
        )
        .orderBy("doc_id")
    )


Q97_SQL = r"""
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
), posts AS (
  SELECT doc_id, UNNEST(sh) AS g FROM s
), common AS (
  SELECT g FROM posts GROUP BY g HAVING COUNT(*) >= 3
), boiler AS (
  SELECT doc_id, COUNT(*) AS n_boiler FROM posts JOIN common USING (g) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(LEN(s.sh) AS BIGINT) AS n_grams,
       CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
       ROUND(CASE WHEN LEN(s.sh) > 0
                  THEN COALESCE(b.n_boiler, 0) * 1.0 / LEN(s.sh)
                  ELSE 0.0 END, 6) AS boiler_frac
FROM s LEFT JOIN boiler b USING (doc_id)
ORDER BY s.doc_id
"""


def q98_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixing weights per source — the sampling
    schedule every multi-source pretraining run needs (the α = 0.7
    unigram-smoothing trick from multilingual LM training: upweight
    small sources, damp the head). weight_s ∝ tokens_s^0.7 normalized;
    epochs_s = how many passes over source s a 1M-token budget implies.

    Shape: one groupBy(source) aggregate, then the 1-row Σ(tokens^α)
    normalizer broadcast-attached (the q51/q77 single-row crossJoin
    pattern — NOT a global window, which would plan Exchange
    SinglePartition). Per-source stats are O(#sources) rows, so every
    post-aggregate stage is trivially small at any corpus size."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    pw = F.pow(F.col("n_tokens").cast("double"), 0.7)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_token_count(F.col("text"))).alias("n_tokens"),
    )
    total = per_src.agg(F.sum(pw).alias("_norm"))
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(pw / F.col("_norm"), 6).alias("mix_weight"),
            F.round(
                F.lit(1_000_000.0) * (pw / F.col("_norm")) / F.col("n_tokens"), 4
            ).alias("epochs_at_1m"),
        )
        .orderBy("source")
    )


Q98_SQL = r"""
WITH t AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(LEN(list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       ROUND(POW(n_tokens, 0.7) / SUM(POW(n_tokens, 0.7)) OVER (), 6) AS mix_weight,
       ROUND(1000000.0 * (POW(n_tokens, 0.7) / SUM(POW(n_tokens, 0.7)) OVER ()) / n_tokens, 4) AS epochs_at_1m
FROM t
ORDER BY source
"""


def q99_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-richness profile — type/token ratio and
    hapax-legomena fraction, the corpus-health stats that catch
    generator collapse (tiny vocabulary) or OCR noise (hapax flood)
    before tokens are spent training on them.

    Shape: explode tokens → (lang, term) count shuffle → per-lang
    re-aggregate. Both shuffles key on well-spread values; the second
    input is the per-language vocabulary, already far smaller than the
    corpus."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    per_term = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_term.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("type_token_ratio"),
            F.round(
                F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_frac"),
        )
        .orderBy("lang")
    )


Q99_SQL = r"""
WITH toks AS (
  SELECT lang,
         UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '')) AS term
  FROM documents
), c AS (
  SELECT lang, term, COUNT(*) AS cnt FROM toks GROUP BY lang, term
)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab_size,
       ROUND(COUNT(*) * 1.0 / SUM(cnt), 6) AS type_token_ratio,
       ROUND(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS hapax_frac
FROM c
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Sketch-backed operators (operators/sketches.py) — z-prefixed so the
# names sort AFTER q01..q99 and leave the driver's 50-name correctness
# window (q01..q50) untouched; the local oracle suite verifies them at
# every SF like any other registry query.
# ---------------------------------------------------------------------------

def z01_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run dedup with a Bloom pre-filter: keep the
    batch documents whose TEXT does not appear in the history corpus.
    The result is EXACT (identical to the plain anti-join — the filter
    only routes rows): bloom-negative rows skip the join entirely, only
    the bloom-positive sliver is verified against history.

    Scale: the history is summarized into a ~1.2 MB broadcast bitmap
    built in one pass (per-partition bitmaps, associative OR); a
    mostly-new batch then joins ~fp_rate of its rows instead of all of
    them — the shape that dedupes a daily crawl against years of corpus
    without touching the history per batch. ``persist=True`` (round-6)
    caches the flagged batch so its scan + membership UDF run ONCE
    across the two output branches — at 100 TB the opt-out form costs a
    full extra batch pass (scan-count-asserted in
    tests/test_sketches.py::test_bloom_dedup_persist_single_scan)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        bloom_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # expected_items is the capacity plan (production incremental dedup
    # tracks its history size in the run ledger) — skips the sizing
    # count job; over-capacity only lowers the FP rate below nominal.
    # The persisted flagged frame is registered as a release handle:
    # clear_query_cache(spark) (or catalog.clearCache) returns the
    # storage cache to baseline — the round-7 lifecycle contract.
    from sustainable_building_energy_benchmarking_pipeline_spark.session import (
        register_query_cache,
    )

    cache_out: list = []
    out = (
        bloom_incremental_dedup(
            history,
            batch,
            "text",
            expected_items=250_000,
            persist=True,
            cache_out=cache_out,
        )
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )
    for c in cache_out:
        register_query_cache(c)
    return out


Z01_SQL = """
SELECT b.doc_id, b.n_chars
FROM documents b
WHERE b.doc_id % 3 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents h
    WHERE h.doc_id % 5 <> 0 AND h.text = b.text
  )
ORDER BY doc_id
"""


def z02_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens via a frequent-items sketch: one
    ``approx_top_k`` pass nominates the sketch's full tracked set
    (mergeable DataSketches bytes on the shuffle, never the
    distinct-token space), a pushed-down recount makes them exact, and a
    driver-side guard raises if the k-th count falls inside the sketch's
    error bound instead of silently approximating (see
    operators/sketches.heavy_hitters for why the guard is not in-plan)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_tokens,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    return heavy_hitters(toks, "token", k=20)


Z02_SQL = r"""
WITH t AS (
  SELECT list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), w AS (
  SELECT UNNEST(tk) AS token FROM t
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM w GROUP BY token
ORDER BY cnt DESC, token
LIMIT 20
"""


def z03_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: every document gets a stable
    pseudo-random global position (sha2 key + two-pass distributed rank,
    operators/windows.deterministic_shuffle) — identical across runs,
    partitionings and engines, reshuffled by changing the seed. The
    oracle recomputes the exact positions in DuckDB from the same
    cryptographic key, proving cross-engine bit-reproducibility."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        deterministic_shuffle,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return deterministic_shuffle(docs, "doc_id", seed=42).orderBy("doc_id")


Z03_SQL = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (
         ORDER BY sha256(CONCAT('42:', COALESCE(CAST(doc_id AS VARCHAR), '')))
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
ORDER BY doc_id
"""


def z04_sharded_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z01's incremental dedup through a SHARDED Bloom filter — the
    capacity path past the single-filter ceiling (~2·10⁹ keys at 1% FP,
    SCALE.md §6). Keys route to 4 shards by an independent hash; each
    shard is built in one shard-partitioned pass and broadcast on its
    own, so executor filter memory is per-shard, not total. The result
    is EXACT at any shard count and FP rate (the oracle is the plain
    anti-join) — sharding is pure plumbing, which is the property this
    query pins cross-engine."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.sketches import (
        bloom_incremental_dedup,
        build_sharded_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 4 != 1)
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    sharded = build_sharded_bloom(
        history, "text", n_shards=4, expected_items=250_000
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.session import (
        register_query_cache,
    )

    cache_out: list = []
    out = (
        bloom_incremental_dedup(
            history, batch, "text", bloom=sharded, persist=True, cache_out=cache_out
        )
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )
    for c in cache_out:
        register_query_cache(c)
    return out


Z04_SQL = """
SELECT b.doc_id, b.n_chars
FROM documents b
WHERE b.doc_id % 2 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents h
    WHERE h.doc_id % 4 <> 1 AND h.text = b.text
  )
ORDER BY doc_id
"""


def z05_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling, MATERIALIZED: q98 computes the
    mixing weights; this query actually draws the deterministic sample a
    pretraining run would consume. Strata = language (non-uniform in the
    corpus), α = 0.5 (weight ∝ √n upweights small languages), target =
    20% of the corpus redistributed by weight, membership = hash-rank
    within each stratum (q53's trick: sha256 rank stands in for a seeded
    RNG so the sample is identical across engines/partitionings/reruns).

    Determinism engineering, the part worth pinning cross-engine:
    per-stratum targets are INTEGERS (floor of an IEEE-deterministic
    expression), so no per-doc float-boundary flakiness; and the √n
    normalizer is folded over a SORTED array (F.aggregate over
    sort_array(collect_list)) rather than F.sum, because float addition
    is non-associative and Spark's partial-agg combine order varies
    run-to-run — a last-ulp wobble that floor() could amplify into a
    ±1-row sample.

    Skew engineering (round-6 de-skew): the per-stratum rank is
    ``operators.windows.stratified_rank`` — the two-pass distributed
    row number generalized to per-stratum offsets — NOT a
    ``Window.partitionBy("lang")``, which would rank the dominant
    language (≈half a 100 TB crawl) in ONE task. Big strata now span
    as many tasks as the range partitioner assigns them; the only
    driver state is the ≤(n_partitions + n_strata)-row offset table.
    Result is bit-identical to the window form (same total order per
    stratum, unique doc_id tiebreak) — pinned by
    tests/test_sampling_deskew.py."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    sq = F.sqrt(F.col("n_docs").cast("double"))
    norm = per.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("lang"), sq.alias("s")))),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("_norm"),
        F.sum("n_docs").alias("_total"),
    )
    targets = per.crossJoin(F.broadcast(norm)).select(
        "lang",
        "n_docs",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(0.2) * F.col("_total") * sq / F.col("_norm")),
        ).cast("int").alias("target"),
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import stratified_rank

    ranked = stratified_rank(
        docs.withColumn("_hk", F.sha2(F.col("doc_id").cast("string"), 256)),
        "lang",
        ["_hk", "doc_id"],
        out_col="_rk",
    ).drop("_hk")
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("_rk") <= F.col("target"))
        .groupBy("lang", "n_docs", "target")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("lang")
    )


Z05_SQL = """
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), norm AS (
  SELECT list_sum(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)) AS _norm,
         SUM(n_docs) AS _total
  FROM per
), targets AS (
  SELECT lang, n_docs,
         CAST(GREATEST(1, FLOOR(0.2 * _total * sqrt(CAST(n_docs AS DOUBLE)) / _norm)) AS INT) AS target
  FROM per, norm
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
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


def z06_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for every embedding, the single most-similar
    vector with a DIFFERENT label — the candidate generator of
    contrastive training, complementing q37's within-label kNN. Exact
    block-GEMM form (the oracle-able tier); at 10¹⁰ rows the IVF path
    (q49/q89) generates candidates and this exact kernel re-ranks the
    short list."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        hard_negative_topk(emb, k=1)
        .select(
            "id",
            "label",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine_sim", 4).alias("cosine_sim"),
        )
        .orderBy("id")
    )


Z06_SQL = """
WITH p AS (
  SELECT a.vec_id AS id, a.label AS label, b.vec_id AS neighbor_id,
         b.label AS neighbor_label,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           / (COALESCE(NULLIF(SQRT(SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE))), 0), 1)
              * COALESCE(NULLIF(SQRT(SUM(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))), 0), 1)) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label <> b.label
  CROSS JOIN RANGE(1, 65) t(i)
  GROUP BY a.vec_id, a.label, b.vec_id, b.label
), r AS (
  SELECT id, label, neighbor_id, neighbor_label, cos,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id) AS rn
  FROM p
)
SELECT id, label, neighbor_id, neighbor_label, ROUND(cos, 4) AS cosine_sim
FROM r WHERE rn <= 1
ORDER BY id
"""


def z07_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filtering (the Gopher-rules family:
    published pretraining pipelines drop documents whose content is
    dominated by repeated fragments). Two signals per document, both
    token-level because this corpus is single-line text: the duplicate-
    token fraction (1 − distinct/total) and the top-bigram share (most
    frequent adjacent pair / all pairs); a document flags when either
    crosses its threshold (0.55 / 0.045 — sited at this corpus's
    medians so the boolean genuinely discriminates; a web pipeline
    would use the published cuts).

    Scale: tokens and the distinct fraction are pure array expressions
    (zero UDFs, one scan); bigram frequencies explode to a
    (doc_id, bigram) aggregate — keyed by document, so it distributes
    and partial-aggregates with no skeweable low-cardinality key
    anywhere. Pair mass = tokens per doc, i.e. O(corpus tokens) total,
    the same budget as any tokenizing pass."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("_t")
    ).select(
        "doc_id",
        F.size("_t").cast("bigint").alias("n_tokens"),
        # zero-token guard: an empty doc has no repetition (dup 0.0,
        # unflagged) — and under ANSI mode the unguarded division is a
        # runtime DIVIDE_BY_ZERO, not a NULL
        F.when(
            F.size("_t") > 0,
            F.lit(1.0)
            - F.size(F.array_distinct("_t")).cast("double")
            / F.size("_t").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("_dup"),
        "_t",
    )
    pairs = base.select(
        "doc_id",
        F.explode(
            # greatest(..., 0): slice length -1 on a zero-token doc is a
            # runtime error, not an empty list
            F.expr(
                "transform(slice(_t, 1, greatest(size(_t) - 1, 0)),"
                " (x, i) -> concat(x, ' ', element_at(_t, i + 2)))"
            )
        ).alias("_bg"),
    )
    shares = (
        pairs.groupBy("doc_id", "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            (F.max("_c").cast("double") / F.sum("_c").cast("double")).alias(
                "_share"
            )
        )
    )
    return (
        base.join(shares, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round("_dup", 6).alias("dup_token_frac"),
            F.round(F.coalesce("_share", F.lit(0.0)), 6).alias("top_bigram_share"),
            (
                (F.col("_dup") > 0.55)
                | (F.coalesce("_share", F.lit(0.0)) > 0.045)
            ).alias("rep_flagged"),
        )
        .orderBy("doc_id")
    )


Z07_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), base AS (
  SELECT doc_id, CAST(LEN(t) AS BIGINT) AS n_tokens,
         CASE WHEN LEN(t) > 0
              THEN 1.0 - CAST(LEN(list_distinct(t)) AS DOUBLE) / LEN(t)
              ELSE 0.0 END AS dup,
         t
  FROM toks
), pairs AS (
  -- scalar list range (end-exclusive) + lambda over row-context t:
  -- DuckDB's table-function RANGE cannot lateral-reference t
  SELECT doc_id,
         UNNEST(list_transform(range(1, LEN(t)), i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM base
), shares AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS share
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM pairs GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       ROUND(b.dup, 6) AS dup_token_frac,
       ROUND(COALESCE(s.share, 0.0), 6) AS top_bigram_share,
       (b.dup > 0.55 OR COALESCE(s.share, 0.0) > 0.045) AS rep_flagged
FROM base b LEFT JOIN shares s USING (doc_id)
ORDER BY doc_id
"""


# Per-source document cap: keep each source's 15 lowest sha256(doc_id) ranks
# and report kept/dropped counts.
Z08_SQL = """
WITH r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
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


def z09_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pass in ONE query — the composition a
    training-data pipeline actually runs, end to end: (1) exact dedup
    on normalized text (keep the min doc_id of each duplicate group),
    (2) drop high-repetition documents (z07's duplicate-token fraction
    > 0.55), (3) cap every source at 15 survivors by sha256 rank, then
    report the surviving corpus per language (docs, tokens, checksum).
    Pins that the stages COMPOSE: dedup's keep-set feeds the filter
    feeds the cap, one lazy plan, each stage its scale-safe shape
    (digest-only dedup shuffle; array-expression repetition; rank-limit
    pushdown cap). The chain itself is ``plans.curation.
    curate_documents`` — this query is its oracle-checked report (and
    the CLI ``curate`` subcommand its batch surface)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        ws_token_count,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.curation import (
        curate_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    capped = curate_documents(docs, dup_frac_max=0.55, source_cap=15)
    return (
        capped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(ws_token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("lang")
    )


Z09_SQL = """
WITH dedup AS (
  SELECT * FROM (
    SELECT *,
           MIN(doc_id) OVER (PARTITION BY sha256(LOWER(TRIM(text)))) AS _keep
    FROM documents
  ) WHERE doc_id = _keep
), clean AS (
  SELECT *,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS t
  FROM dedup
  WHERE CASE WHEN LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '')) > 0
             THEN 1.0 - CAST(LEN(list_distinct(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''))) AS DOUBLE)
                  / LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''))
             ELSE 0.0 END <= 0.55
), capped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM clean
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(t)) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM capped
WHERE rk <= 15
GROUP BY lang
ORDER BY lang
"""


def z10_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS): hash
    every 4-token gram, keep each 5-hash window's minimum, and report
    document pairs whose fingerprint overlap (shared / smaller set)
    reaches 0.5 — the local-similarity detector that catches partial
    plagiarism/near-dup content whole-document sha256 (q26) misses and
    MinHash (q33) only sees globally. Guarantee: any shared run of
    ≥ k+w−1 = 8 tokens produces a shared fingerprint.

    Scale: postings come from ONE fused mapInPandas kernel
    (``winnowing_postings``: tokenize + hash + winnow + explode in a
    single Arrow pass — the pandas_udf→F.explode form paid ~1 s of
    Generate-over-UDF overhead); winnowed postings are ~1/w the gram
    count. The pair stage is JOIN-FREE and PERSIST-FREE — a single
    linear pipeline over the postings, each row consumed exactly once
    (the round-7 self-join + 3-consumer persist re-ran the corpus
    scan + kernel per consumer and pinned blocks past the call):

    1. window ``count() OVER (PARTITION BY fp)`` → drop fp with df >
       50 (COMMON-FINGERPRINT SUPPRESSION: high-df fingerprints are
       boilerplate/stop-grams with no discriminative signal — MOSS
       practice drops them too). A window count, not a groupBy +
       collect, so no executor ever materializes a Zipf-hot posting
       list as an array.
    2. ``collect_list(doc_id)`` per fp — bounded ≤ 50 by step 1, so
       the array agg is memory-safe, and it rides the SAME fp
       partitioning the window established (no new exchange) — then
       expression-level pair expansion (worst bucket C(50,2)) and one
       (doc_a, doc_b) count aggregate.
    3. per-document RETAINED-fingerprint sizes from a second consumer
       of the same fp-partitioned stage: ``groupBy(doc_id).count()``
       ships only map-side-partial (doc_id, count) rows, and the pair
       frame (already aggregated, tiny next to postings) joins the
       sizes twice to pick up denominators.

    Round-13 restructure (guide §2.4): the previous form carried the
    denominator as a ``count() OVER (PARTITION BY doc_id)`` window
    BETWEEN the fp window and the fp groupBy, so the posting frame
    crossed THREE posting-sized exchanges (fp → doc_id → fp). Keying
    the two fp-wise steps adjacently collapses them onto ONE posting
    exchange; both consumers (pairs, sizes) share that materialized
    stage via AQE's stage cache — identical subtrees below the
    exchange, same (doc_id, fp) projection — so the winnowing kernel
    still runs exactly once. Posting-sized exchanges: 3 → 1; the two
    remaining aggregates shuffle pair rows and partial doc counts.
    No key skew (fp capped at 50 by construction; doc_id bounded by
    doc length / w); nothing persisted, so ``getPersistentRDDs`` is
    untouched. Overlap denominators count only retained
    (discriminative) fingerprints, consistently on both sides."""
    from pyspark.sql import Window

    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        winnowing_postings,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.partitioning import (
        ensure_min_partitions,
    )

    # gated: parallelizes single-file corpora ahead of the hash kernel
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    max_df = 50
    posts = (
        winnowing_postings(docs, "text", "doc_id", k=4, w=5)
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= max_df)
    )
    # members is array_sort'ed — doc_id is unique within an fp bucket
    # ((doc_id, fp) postings are per-doc distinct), so the i<j expansion
    # below emits each pair once with doc_a < doc_b
    pairs = (
        posts.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (a, i) -> "
                    "transform(slice(members, i + 2, size(members) - i - 1), "
                    "b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sizes = posts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd"))
    pairs = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("nd").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("nd").alias("nb")), "doc_b")
    )
    ratio = F.col("n_shared").cast("double") / F.least("na", "nb").cast("double")
    return (
        pairs.filter(ratio >= 0.5)
        .select(
            "doc_a", "doc_b", "n_shared", F.round(ratio, 6).alias("overlap")
        )
        .orderBy("doc_a", "doc_b")
    )


Z10_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN LEN(t) >= 4 THEN
           list_transform(range(1, LEN(t) - 2),
                          i -> substr(sha256(array_to_string(t[i:i+3], ' ')), 1, 12))
         ELSE [] END AS h
  FROM toks
), w AS (
  SELECT doc_id,
         CASE WHEN LEN(h) >= 5 THEN
           list_distinct(list_transform(range(1, LEN(h) - 3),
                                        j -> list_aggregate(h[j:j+4], 'min')))
         WHEN LEN(h) > 0 THEN [list_aggregate(h, 'min')]
         ELSE [] END AS fps
  FROM g
), p_all AS (
  SELECT doc_id, UNNEST(fps) AS fp FROM w
), p AS (
  -- common-fingerprint suppression (df > 50 = boilerplate/stop-grams)
  SELECT doc_id, fp FROM p_all
  WHERE fp IN (SELECT fp FROM p_all GROUP BY fp HAVING COUNT(*) <= 50)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
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


def z11_lm_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus quality tiers: score every document by its
    mean negative log-likelihood under a unigram LM trained on the
    corpus itself (p(tok) = corpus_count/total), then split the score
    distribution into head / middle / tail terciles — the standard
    LM-filtering step where "head" (lowest perplexity ≡ most typical
    text) is kept for training and "tail" is dropped or down-weighted.
    Docs with zero tokens carry no signal and are excluded.

    Shape: the q77 two-aggregate join — (doc, tok) term counts (map-side
    combinable), token→corpus-count LM derived from the SAME
    intermediate, join back on tok (df-compressed frames, not the raw
    exploded corpus; AQE skew split handles stopword-hot keys), then one
    per-doc aggregate. nll = ln(T) − Σ m·ln(c) / Σ m with T joined as a
    broadcast 1-row frame. Tercile thresholds are ONE built-in
    ``percentile_disc`` aggregate over the 6-dp ROUNDED scores (the
    q96 shape: smallest present value whose cume_dist reaches p) —
    classification compares rounded scores against those exact
    thresholds, so both engines bucket identical decimals (the z05
    float-fold lesson applied to thresholding). Round-12: the previous
    hand-built form (distinct-score aggregate → global-order running
    sum → broadcast doc count → min-when threshold pick) spent four
    extra shuffle stages + two broadcast builds re-deriving what the
    built-in's value-domain-bounded counts map computes in one hash
    aggregate (guide §2.4; q96 measured the same collapse at 0.94 s →
    0.07 s and the results are identical by definition — both are the
    SQL-standard discrete percentile).

    Scale: every stage is a shuffled aggregate or a broadcast; the LM
    frame is vocabulary-sized and only ever joined (never collected), so
    a 10⁹-term web vocabulary stays distributed. NOTHING IS PERSISTED
    (round-8, closing the round-6/7 lifecycle leak): the doc-count
    normalizer now reads the tiny distinct-score aggregate (Σ _cnt)
    instead of the per-doc frame, leaving exactly TWO consumers of the
    score subtree — the threshold branch and the final classification —
    whose canonicalized exchange subtrees Spark dedupes (ReuseExchange:
    the corpus explode + LM-join shuffles execute once; only post-
    shuffle map work repeats). Measured FASTER than the persisted form
    (1.18 s vs 1.66 s at sf0.1: skips MEMORY_AND_DISK serde) and
    ``getPersistentRDDs`` stays untouched."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    lm = pairs.groupBy("tok").agg(F.sum("m").alias("c"))
    tot = lm.agg(F.sum("c").alias("t"))
    scored = (
        pairs.join(lm, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("m") * F.log(F.col("c"))).alias("_slc"),
            F.sum("m").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("t")) - F.col("_slc") / F.col("n_tokens"), 6
            ).alias("nll"),
        )
    )
    th = scored.agg(
        F.expr(
            f"percentile_disc({1.0 / 3.0!r}) WITHIN GROUP (ORDER BY nll)"
        ).alias("_t1"),
        F.expr(
            f"percentile_disc({2.0 / 3.0!r}) WITHIN GROUP (ORDER BY nll)"
        ).alias("_t2"),
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            "n_tokens",
            "nll",
            F.when(F.col("nll") <= F.col("_t1"), F.lit("head"))
            .when(F.col("nll") <= F.col("_t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("tier"),
        )
        .orderBy("doc_id")
    )


Z11_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '')) AS tok
  FROM documents
), pairs AS (
  SELECT doc_id, tok, COUNT(*) AS m FROM toks GROUP BY doc_id, tok
), lm AS (
  SELECT tok, CAST(SUM(m) AS BIGINT) AS c FROM pairs GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t FROM lm
), scored AS (
  SELECT p.doc_id,
         CAST(SUM(p.m) AS BIGINT) AS n_tokens,
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


def z12_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(P_source ‖ P_corpus) in
    nats for every source — the corpus-mixing QA metric that flags a
    source whose vocabulary usage diverges from the blend (a crawl gone
    bad, a template-heavy dump) before it skews training. Every source
    token is by construction in the corpus, so no zero-probability terms
    arise and KL is finite and ≥ 0 (Gibbs' inequality; = 0 iff the
    source matches the corpus distribution exactly — e.g. a single-
    source corpus).

    Shape: one (source, tok) count aggregate (map-side combinable)
    feeds all three distributions — per-source totals (broadcast),
    corpus per-token counts (join on tok), corpus grand total
    (broadcast 1-row) — then a per-source SUM of
    (m/n_s)·ln((m/n_s)/(c/n)). Division-of-divisions keeps every
    intermediate an IEEE double both engines derive from the same
    integers (no bigint product that could overflow at corpus scale).

    Scale: frames entering the tok join are df-compressed (vocab-sized,
    not corpus-sized); the final aggregate is per-source (tiny). No
    windows, no collects."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    lm = st.groupBy("tok").agg(F.sum("m").alias("c"))
    ns = st.groupBy("source").agg(F.sum("m").alias("n_s"))
    tot = lm.agg(F.sum("c").alias("n"))
    ps = F.col("m").cast("double") / F.col("n_s")
    pc = F.col("c").cast("double") / F.col("n")
    return (
        st.join(lm, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("m").alias("n_tokens"),
            F.round(F.sum(ps * F.log(ps / pc)), 6).alias("kl_nats"),
        )
        .select("source", "n_tokens", "kl_nats")
        .orderBy("source")
    )


Z12_SQL = r"""
WITH toks AS (
  SELECT source,
         UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t <> '')) AS tok
  FROM documents
), st AS (
  SELECT source, tok, COUNT(*) AS m FROM toks GROUP BY source, tok
), lm AS (
  SELECT tok, CAST(SUM(m) AS BIGINT) AS c FROM st GROUP BY tok
), ns AS (
  SELECT source, CAST(SUM(m) AS BIGINT) AS n_s FROM st GROUP BY source
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM lm
)
SELECT s.source,
       CAST(SUM(s.m) AS BIGINT) AS n_tokens,
       ROUND(SUM((CAST(s.m AS DOUBLE) / ns.n_s)
                 * LN((CAST(s.m AS DOUBLE) / ns.n_s)
                      / (CAST(l.c AS DOUBLE) / (SELECT n FROM tot)))), 6) AS kl_nats
FROM st s
JOIN lm l USING (tok)
JOIN ns USING (source)
GROUP BY s.source
ORDER BY s.source
"""


def z13_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how much its hashed-bigram distribution looks
    like a target corpus (here lang='en' docs) versus the raw blend.
    log w(d) = Σ_b n_{d,b}·ln(p̂_b/q̂_b) over B=256 sha256-hashed bigram
    buckets, with add-one smoothing on both distributions.

    Determinism: the per-bucket log-ratio is quantized ONCE to integer
    micro-nats (a 256-row table), so every per-doc weight is an exact
    BIGINT dot product — no float summation order to wobble, unlike a
    naive per-doc Σ of doubles (the z05 lesson). The ln argument is a
    division-of-divisions of exact integers, so both engines feed ln
    the identical IEEE double.

    Scale: one corpus scan feeds target and raw counts (the same
    (doc, lang, bucket) partial aggregate — map-side combinable,
    ≤256 rows per doc). The score table is 256 rows (broadcast); the
    per-doc weight is a doc_id-keyed integer aggregate — high-
    cardinality key, no window, no skew. At 100 TB: the only wide
    exchanges are the two hash aggregations; bytes shuffled are
    O(docs·256·24B) not O(corpus text)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", _tokens(F.col("text")).alias("t"))
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
                " (x, i) -> concat(x, ' ', t[i + 1]))"
            )
        ).alias("g"),
    )
    db = (
        bg.select(
            "doc_id",
            "lang",
            F.conv(F.substring(F.sha2(F.col("g"), 256), 1, 2), 16, 10)
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    rb = db.groupBy("bucket").agg(F.sum("m").alias("rc"))
    tb = (
        db.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("m").alias("tc"))
    )
    tot = db.agg(
        F.sum("m").alias("rn"),
        F.sum(F.when(F.col("lang") == "en", F.col("m")).otherwise(F.lit(0))).alias(
            "tn"
        ),
    )
    score = (
        rb.join(tb, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            # 1.0D/256.0D: bare decimal literals type as DECIMAL in Spark
            # SQL and the DECIMAL division truncates scale — the ln input
            # must be the exact IEEE double both engines derive.
            F.expr(
                "CAST(ROUND(1000000 * LN("
                " ((COALESCE(tc, 0) + 1.0D) / (tn + 256.0D))"
                " / ((rc + 1.0D) / (rn + 256.0D)))) AS BIGINT)"
            ).alias("score"),
        )
    )
    w = (
        db.join(F.broadcast(score), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("score")).alias("w"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("w", F.lit(0)).cast("bigint").alias("dsir_micronats"),
        )
        .orderBy("doc_id")
    )


Z13_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(range(1, LEN(t)), i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
), db AS (
  SELECT doc_id, lang, bucket, COUNT(*) AS m
  FROM (
    SELECT doc_id, lang,
           (strpos('0123456789abcdef', substr(sha256(g), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(sha256(g), 2, 1)) - 1) AS bucket
    FROM bg
  )
  GROUP BY doc_id, lang, bucket
), rb AS (
  SELECT bucket, CAST(SUM(m) AS BIGINT) AS rc FROM db GROUP BY bucket
), tb AS (
  SELECT bucket, CAST(SUM(m) AS BIGINT) AS tc FROM db WHERE lang = 'en' GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS rn,
         CAST(SUM(CASE WHEN lang = 'en' THEN m ELSE 0 END) AS BIGINT) AS tn
  FROM db
), score AS (
  SELECT rb.bucket,
         CAST(ROUND(1000000 * LN(((COALESCE(tb.tc, 0) + 1.0) / (tot.tn + 256.0))
                                 / ((rb.rc + 1.0) / (tot.rn + 256.0)))) AS BIGINT) AS score
  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
), w AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         CAST(SUM(m * score) AS BIGINT) AS dsir_micronats
  FROM db JOIN score USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       COALESCE(w.n_bigrams, 0) AS n_bigrams,
       COALESCE(w.dsir_micronats, 0) AS dsir_micronats
FROM documents d LEFT JOIN w USING (doc_id)
ORDER BY d.doc_id
"""


def z14_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram novelty: for each document, how many of
    its distinct word trigrams appear in NO earlier document (by doc_id
    order) — the dedup-aware "new token contribution" accounting from
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): a corpus's effective size is the sum of novel grams, and
    near-zero novelty flags late-arriving boilerplate/template docs.

    novelty_bp = HALF_UP(10000 · novel/total) in exact integer
    arithmetic ((20000·novel + total) DIV (2·total)) — no cross-engine
    double rounding (the q23 lesson). NULL when the doc has <3 tokens.

    Scale: distinct (doc, gram) pairs shuffle on the gram key — high
    cardinality, map-side partial distinct, no skew; first-owner is a
    min() aggregate, NOT a window, so the dominant gram costs one
    combiner cell, not a single-task rank. Both per-doc aggregates are
    doc_id-keyed. At 100 TB this is the same shape as exact dedup
    (q26) one level down: gram-keyed hash agg, integer outputs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    tri = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, greatest(size(t) - 2, 0)),"
                    " (x, i) -> concat(x, ' ', t[i + 1], ' ', t[i + 2]))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    per_doc = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    first = tri.groupBy("g").agg(F.min("doc_id").alias("doc_id"))
    novel = first.groupBy("doc_id").agg(F.count(F.lit(1)).alias("novel_grams"))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("novel_grams", F.lit(0)).cast("bigint").alias("novel_grams"),
        )
        .withColumn(
            "novelty_bp",
            F.expr(
                "IF(n_grams > 0,"
                " CAST((20000 * novel_grams + n_grams) DIV (2 * n_grams) AS INT),"
                " CAST(NULL AS INT))"
            ),
        )
        .orderBy("doc_id")
    )


Z14_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), tri AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(range(1, LEN(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tri GROUP BY doc_id
), first AS (
  SELECT g, MIN(doc_id) AS doc_id FROM tri GROUP BY g
), novel AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS novel_grams FROM first GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(n.novel_grams, 0) AS novel_grams,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST((20000 * COALESCE(n.novel_grams, 0) + p.n_grams)
                      // (2 * p.n_grams) AS INTEGER)
            ELSE NULL END AS novelty_bp
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN novel n USING (doc_id)
ORDER BY d.doc_id
"""


def z15_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning over the embeddings table (Abbas et
    al. 2023): deterministic seeded centroids, argmax-cosine cluster
    assignment as a pure map (centroid literals, zero shuffles), then
    a per-cluster BLAS pair stage drops every vector cosine-≥τ to an
    earlier same-cluster vector. Returns the kept (vec_id, cluster)
    rows — the corpus a pretraining run would keep after semantic
    dedup. The DuckDB oracle replays the identical centroid rule,
    assignment tie-breaks and prune rule exactly (see
    operators/dedup.semdedup_prune for why the set-expressible prune
    variant was chosen over the paper's greedy chain)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        semdedup_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_prune(
        emb, threshold=0.35, n_clusters=None, vec_col="embedding",
        id_col="vec_id",
    ).orderBy("vec_id")


Z15_SQL = """
WITH kk AS (
  -- the auto-derived cluster count: max(8, ceil(n / 10000)), replayed
  -- exactly as semdedup_prune derives it before seed selection
  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 10000.0) AS INT)) AS k
  FROM embeddings
),
seeds AS (
  SELECT vec_id, embedding,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
  FROM embeddings WHERE vec_id % 13 = 5
  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)
),
vc AS (
  SELECT v.vec_id, s.cluster,
         SUM(CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(s.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)) AS nv,
         SUM(CAST(s.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(s.embedding[CAST(i AS INT)] AS DOUBLE)) AS ns
  FROM embeddings v, seeds s, RANGE(1, 65) t(i)
  GROUP BY v.vec_id, s.cluster
),
assign AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id
             ORDER BY ROUND(COALESCE(dot / NULLIF(SQRT(nv) * SQRT(ns), 0), 0), 6) DESC,
                      cluster ASC
           ) AS rn
    FROM vc
  ) WHERE rn = 1
),
pairs AS (
  SELECT bb.vec_id AS id_b,
         SUM(CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM assign aa
  JOIN assign bb ON aa.cluster = bb.cluster AND aa.vec_id < bb.vec_id
  JOIN embeddings ea ON ea.vec_id = aa.vec_id
  JOIN embeddings eb ON eb.vec_id = bb.vec_id
  CROSS JOIN RANGE(1, 65) t(i)
  GROUP BY aa.vec_id, bb.vec_id
),
pruned AS (
  SELECT DISTINCT id_b FROM pairs
  WHERE COALESCE(dot / NULLIF(SQRT(na) * SQRT(nb), 0), 0) >= 0.35
)
SELECT a.vec_id, a.cluster
FROM assign a
WHERE NOT EXISTS (SELECT 1 FROM pruned p WHERE p.id_b = a.vec_id)
ORDER BY a.vec_id
"""


Z16_BUDGET = 256  # tokens per packed training sequence


def z16_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LLM pretraining (round-10): per
    source, documents in doc_id order fill fixed 256-token bins
    (next-fit — overflow starts the next bin), the step that turns a
    curated corpus into fixed-length training sequences. Output: one
    row per document with its whitespace token count and 1-based bin
    id. The DuckDB oracle replays the sequential fill exactly with a
    recursive CTE — packing is the rare pipeline op whose semantics ARE
    sequential, so the parallel unit is the source shard (see
    operators/windows.sequence_pack for the 100 TB shape)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        sequence_pack,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.greatest(
            F.lit(1), F.size(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("n_tokens"),
    )
    return (
        sequence_pack(
            docs, "source", "doc_id", "n_tokens", budget=Z16_BUDGET
        )
        .select("doc_id", "source", "n_tokens", "bin_id")
        .orderBy("doc_id")
    )


Z16_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         GREATEST(1, LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')))
           AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rec AS (
  SELECT doc_id, source, n_tokens, rn,
         CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
         CASE WHEN r.fill + t.n_tokens <= 256
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + t.n_tokens <= 256
              THEN r.fill + t.n_tokens ELSE t.n_tokens END
  FROM rec r JOIN toks t ON t.source = r.source AND t.rn = r.rn + 1
)
SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens, bin_id
FROM rec
ORDER BY doc_id
"""


def z17_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split (round-10): the failure mode a
    dedup pipeline exists to prevent is a near-duplicate of a training
    document landing in the holdout — so the SPLIT UNIT must be the
    near-dup CLUSTER, never the document. Reuses q50's verified
    MinHash-LSH + connected-components machinery, then assigns each
    cluster (and every doc in it) by its representative's doc_id:
    rep % 10 < 8 → train (80%), else holdout — pure integer arithmetic,
    so the DuckDB oracle replays the split bit-for-bit on top of the
    same recursive-closure cluster oracle. Scale shape: inherits q50's
    bucketed LSH + pointer-jumping (no all-pairs anywhere); the split
    itself is a free projection. Round-11: the split lives in
    ``operators.dedup.leakage_safe_split``, which accepts PRECOMPUTED
    cluster labels so a pipeline that already ran q50 never pays for
    the LSH twice."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(
        docs, threshold=0.5, num_hashes=32, bands=16
    ).orderBy("doc_id")


Z17_SQL = f"""
WITH q50 AS (
{Q50_SQL}
)
SELECT doc_id, cluster_rep,
       CASE WHEN cluster_rep % 10 < 8 THEN 'train' ELSE 'holdout' END
         AS split
FROM q50
ORDER BY doc_id
"""


def z18_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated n-gram spans (round-11) — the
    substring-level dedup signal of Lee et al. 2022: every maximal run
    of words that at least one OTHER document also contains as a
    13-gram, i.e. the spans an ExactSubstr pass would cut before
    training. Document-level dedup (q26/q33) misses these partial
    overlaps; this is the operator that catches boilerplate and quoted
    blocks INSIDE otherwise-unique documents. Scale shape (see
    operators/dedup.dup_ngram_spans): one O(corpus-tokens) gram
    explode shuffling 16-byte md5s, a docs-per-gram aggregate, a hash
    equi-join back, then doc-partitioned interval-merge windows — no
    all-pairs, no skewed keys."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        dup_ngram_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_spans(docs, k=13).orderBy("doc_id", "span_start")


Z18_SQL = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE LEN(trim(text)) > 0
),
pos AS (
  SELECT doc_id, w, UNNEST(range(0, GREATEST(LEN(w) - 13 + 1, 0))) AS p
  FROM words
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(w[p+1:p+13], ' ')) AS h FROM pos
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


def z19_exact_substr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (round-11) — the APPLY half of z18: cut
    every word covered by a 13-gram an EARLIER document also contains
    (deterministic keep-first), rebuild the surviving text, and report
    the surgery per affected document. The corpus keeps exactly one
    copy of every duplicated run — Lee et al. 2022's dedup transform,
    not just its detector. Scale shape: the shared gram stage plus a
    min-per-hash aggregate, a DISTINCT covered-position explode bounded
    by CUT words (not corpus words), one anti-join, and a per-doc
    sort_array rebuild (see operators/dedup.exact_substr_cut)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        exact_substr_cut,
    )

    docs = load_table(spark, sf_dir, "documents")
    return exact_substr_cut(docs, k=13).orderBy("doc_id")


Z19_SQL = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE LEN(trim(text)) > 0
),
pos AS (
  SELECT doc_id, w, UNNEST(range(0, GREATEST(LEN(w) - 13 + 1, 0))) AS p
  FROM words
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(w[p+1:p+13], ' ')) AS h FROM pos
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
  SELECT DISTINCT doc_id, UNNEST(range(s, e + 1)) AS cp FROM cut_occ
),
toks AS (
  SELECT w.doc_id, UNNEST(range(0, LEN(w.w))) AS p, w.w AS w FROM words w
),
kept AS (
  SELECT t.doc_id, t.p, t.w[t.p + 1] AS tok
  FROM toks t
  LEFT JOIN cover c ON c.doc_id = t.doc_id AND c.cp = t.p
  WHERE c.doc_id IS NULL
)
SELECT d.doc_id,
       CAST(LEN(w.w) AS BIGINT) AS n_tokens,
       CAST(LEN(w.w) - COUNT(k.p) AS BIGINT) AS n_cut,
       COALESCE(STRING_AGG(k.tok, ' ' ORDER BY k.p), '') AS clean_text
FROM (SELECT DISTINCT doc_id FROM cover) d
JOIN words w ON w.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.doc_id, LEN(w.w)
ORDER BY d.doc_id
"""


def z20_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (round-12) — the RAG /
    context-window prep operator: width-32 chunks every 24 tokens, so
    consecutive chunks share 8 tokens and no retrieval span straddles a
    boundary unseen. q70 is the non-overlapping CHARACTER form; this is
    the token-aligned overlapping form whose chunk md5 is the natural
    key for chunk-level dedup and embedding caches. Scale shape (see
    functions/text.chunk_documents): one posexplode per document, pure
    codegen expressions, zero shuffles — a map-only pass bounded by
    O(corpus_tokens/stride) output rows."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, width=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


Z20_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE LEN(trim(text)) > 0
),
chunks AS (
  SELECT doc_id, w, UNNEST(range(0, GREATEST(LEN(w), 1), 24)) AS s
  FROM words
)
SELECT doc_id,
       CAST(s // 24 AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(LEN(w[s+1:s+32]) AS BIGINT) AS n_chunk_words,
       md5(array_to_string(w[s+1:s+32], ' ')) AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# UniMax language-budget allocation (Chung et al. 2023) in exact integer
# arithmetic; its windows run over the per-language aggregate.
Z21_SQL = r"""
WITH toks AS (
  SELECT lang,
         LEN(regexp_split_to_array(trim(text), '\s+')) AS nt
  FROM documents WHERE LEN(trim(text)) > 0
),
per_lang AS (
  SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM toks GROUP BY lang
),
tot AS (
  SELECT CAST((SUM(n_tokens) * 3) // 4 AS BIGINT) AS budget
  FROM per_lang
),
ranked AS (
  SELECT lang, n_tokens, budget,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS l,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, lang) AS BIGINT)
           AS cum
  FROM per_lang, tot
),
shares AS (
  SELECT *,
         CAST((budget - (cum - n_tokens)) // (l - i + 1) AS BIGINT)
           AS share
  FROM ranked
),
piv AS (
  SELECT MIN(i) AS pi, ARG_MIN(share, i) AS pshare
  FROM shares WHERE NOT (n_tokens <= share)
)
SELECT s.lang,
       s.n_tokens,
       CAST(CASE WHEN p.pi IS NULL OR s.i < p.pi
                 THEN s.n_tokens ELSE p.pshare END AS BIGINT)
         AS alloc_tokens,
       CAST((10000 * (CASE WHEN p.pi IS NULL OR s.i < p.pi
                           THEN s.n_tokens ELSE p.pshare END))
            // s.n_tokens AS BIGINT) AS epochs_bp,
       (CASE WHEN p.pi IS NULL OR s.i < p.pi
             THEN s.n_tokens ELSE p.pshare END) = s.n_tokens AS capped
FROM shares s, piv p
ORDER BY s.lang
"""


def z22_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source k-gram overlap matrix (round-12): for every source
    pair, the distinct 13-grams both contain and that overlap in basis
    points of the smaller side — the provenance/contamination triage
    that flags mirrored or repackaged sources BEFORE any per-document
    dedup runs (z18/z19 then localize the spans). Scale shape (see
    operators/dedup.source_ngram_overlap): reuses the memoized
    substring-dedup gram stage, distinct over (source, gram), a
    gram-keyed self-join fanning out ≤ |sources| rows per hash, and a
    #sources-row broadcast of totals — never doc×doc. The count of
    distinct shared grams is hash-function-independent, so the DuckDB
    oracle's md5 and the plan's structural xxhash64 pair agree
    exactly."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        source_ngram_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_ngram_overlap(docs, k=13).orderBy("source_a", "source_b")


Z22_SQL = r"""
WITH words AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE LEN(trim(text)) > 0
),
pos AS (
  SELECT source, w, UNNEST(range(0, GREATEST(LEN(w) - 13 + 1, 0))) AS p
  FROM words
),
grams AS (
  SELECT DISTINCT source, md5(array_to_string(w[p+1:p+13], ' ')) AS h
  FROM pos
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
       CAST((10000 * s.shared_grams) // LEAST(ta.n, tb.n) AS BIGINT)
         AS overlap_bp
FROM shared s
JOIN totals ta ON ta.source = s.source_a
JOIN totals tb ON tb.source = s.source_b
ORDER BY s.source_a, s.source_b
"""


# Per-source KS drift of the token-length distribution in integer basis
# points; its windows run over the (source, length) aggregate.
Z23_SQL = r"""
WITH lens AS (
  SELECT source, LEN(regexp_split_to_array(trim(text), '\s+')) AS l
  FROM documents WHERE LEN(trim(text)) > 0
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
            // (c.n * t.n_all) AS BIGINT) AS ks_bp
FROM cums c JOIN tcum t USING (l)
GROUP BY c.source, c.n, t.n_all
ORDER BY c.source
"""


EXT_QUERIES: dict[str, QuerySpec] = {
    "q70_doc_chunks": QuerySpec(partial(run_sql, SPARK_SQL["q70_doc_chunks"]), Q70_SQL),
    "q71_funnel_stages": QuerySpec(partial(run_sql, Q71_SQL), Q71_SQL),
    "q72_cohort_retention": QuerySpec(partial(run_sql, SPARK_SQL["q72_cohort_retention"]), Q72_SQL),
    "q73_mode_event_type": QuerySpec(partial(run_sql, Q73_SQL), Q73_SQL),
    "q74_ntile_buckets": QuerySpec(q74_ntile_buckets, Q74_SQL),
    "q75_numeric_correlation": QuerySpec(partial(run_sql, Q75_SQL), Q75_SQL),
    "q76_mad_outliers": QuerySpec(q76_mad_outliers, Q76_SQL),
    "q77_tfidf_terms": QuerySpec(q77_tfidf_terms, Q77_SQL),
    "q78_grid_interpolation": QuerySpec(q78_grid_interpolation, Q78_SQL),
    "q79_cube_orders": QuerySpec(partial(run_sql, Q79_SQL), Q79_SQL),
    "q80_token_entropy": QuerySpec(partial(run_sql, SPARK_SQL["q80_token_entropy"]), Q80_SQL),
    "q81_linear_trend": QuerySpec(q81_linear_trend, Q81_SQL),
    "q82_intersect_except": QuerySpec(q82_intersect_except, Q82_SQL),
    "q83_event_transitions": QuerySpec(partial(run_sql, SPARK_SQL["q83_event_transitions"]), Q83_SQL),
    "q84_equidepth_histogram": QuerySpec(q84_equidepth_histogram, Q84_SQL),
    "q85_zscore_normalize": QuerySpec(partial(run_sql, Q85_SQL), Q85_SQL),
    "q86_trailing_error_rate": QuerySpec(partial(run_sql, SPARK_SQL["q86_trailing_error_rate"]), Q86_SQL),
    "q87_wow_growth": QuerySpec(partial(run_sql, Q87_SQL), Q87_SQL),
    "q88_funnel_latency": QuerySpec(partial(run_sql, SPARK_SQL["q88_funnel_latency"]), Q88_SQL),
    "q89_ivf_approx_topk": QuerySpec(q89_ivf_approx_topk, None),
    "q90_embedding_stats": QuerySpec(q90_embedding_stats, Q90_SQL),
    "q91_outer_explode": QuerySpec(q91_outer_explode, Q91_SQL),
    "q92_agg_topk": QuerySpec(partial(run_sql, Q92_SQL), Q92_SQL),
    "q93_dense_rank_ties": QuerySpec(partial(run_sql, Q93_SQL), Q93_SQL),
    "q94_grouped_agg_udaf": QuerySpec(q94_grouped_agg_udaf, Q94_SQL),
    "q95_value_range_frame": QuerySpec(q95_value_range_frame, Q95_SQL),
    "q96_percentile_disc": QuerySpec(partial(run_sql, SPARK_SQL["q96_percentile_disc"]), Q96_SQL),
    "q97_boilerplate_ngrams": QuerySpec(q97_boilerplate_ngrams, Q97_SQL),
    "q98_source_mix_weights": QuerySpec(q98_source_mix_weights, Q98_SQL),
    "q99_lexical_richness": QuerySpec(q99_lexical_richness, Q99_SQL),
    "z01_bloom_incremental_dedup": QuerySpec(z01_bloom_incremental_dedup, Z01_SQL),
    "z02_heavy_hitters": QuerySpec(z02_heavy_hitters, Z02_SQL),
    "z03_deterministic_shuffle": QuerySpec(z03_deterministic_shuffle, Z03_SQL),
    "z04_sharded_bloom_dedup": QuerySpec(z04_sharded_bloom_dedup, Z04_SQL),
    "z05_temperature_sample": QuerySpec(z05_temperature_sample, Z05_SQL),
    "z06_hard_negatives": QuerySpec(z06_hard_negatives, Z06_SQL),
    "z07_repetition_filter": QuerySpec(z07_repetition_filter, Z07_SQL),
    "z08_source_cap": QuerySpec(partial(run_sql, SPARK_SQL["z08_source_cap"]), Z08_SQL),
    "z09_curation_pipeline": QuerySpec(z09_curation_pipeline, Z09_SQL),
    "z10_winnowing_pairs": QuerySpec(z10_winnowing_pairs, Z10_SQL),
    "z11_lm_perplexity_tiers": QuerySpec(z11_lm_perplexity_tiers, Z11_SQL),
    "z12_source_kl_drift": QuerySpec(z12_source_kl_drift, Z12_SQL),
    "z13_dsir_importance": QuerySpec(z13_dsir_importance, Z13_SQL),
    "z14_ngram_novelty": QuerySpec(z14_ngram_novelty, Z14_SQL),
    "z15_semdedup": QuerySpec(z15_semdedup, Z15_SQL),
    "z16_sequence_pack": QuerySpec(z16_sequence_pack, Z16_SQL),
    "z17_leakage_safe_split": QuerySpec(z17_leakage_safe_split, Z17_SQL),
    "z18_dup_ngram_spans": QuerySpec(z18_dup_ngram_spans, Z18_SQL),
    "z19_exact_substr_cut": QuerySpec(z19_exact_substr_cut, Z19_SQL),
    "z20_chunk_overlap": QuerySpec(z20_chunk_overlap, Z20_SQL),
    "z21_unimax_budget": QuerySpec(partial(run_sql, SPARK_SQL["z21_unimax_budget"]), Z21_SQL),
    "z22_source_overlap": QuerySpec(z22_source_overlap, Z22_SQL),
    "z23_length_drift": QuerySpec(partial(run_sql, SPARK_SQL["z23_length_drift"]), Z23_SQL),
}
