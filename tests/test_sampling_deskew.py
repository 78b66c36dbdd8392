"""Round-6 de-skew equivalence: the distributed/banded sampling forms
(q53 candidate-band rank, z05 stratified_rank) must return EXACTLY the
rows the straightforward per-stratum window form returns — the window
form is the semantic spec; it just doesn't scale past one task per
stratum. Also pins `stratified_rank` itself against `row_number` on a
skewed synthetic frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import stratified_rank
from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES

q53_stratified_sample = QUERIES["q53_stratified_sample"].fn


def test_q53_plans_partial_window_group_limit(spark):
    """q53's scale-safety rests on rank-limit pushdown: the constant
    ``row_number() <= 20`` filter MUST plan a Partial WindowGroupLimit
    (each map task forwards only its local top-20 per lang, bounding the
    reduce-side window at 20 × map-partitions per stratum). If a Spark
    upgrade or refactor loses the pushdown, this trips before the skew
    gate's exemption silently stops applying."""
    plan = (
        q53_stratified_sample(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan


def _band_q53(spark, sf_dir):
    """Independent reimplementation (candidate-band prefilter + agg
    top-k — no window): the top-20 hash ranks of a stratum of n rows all
    have hash fraction ≲ 20/n, so rows above an oversampled per-stratum
    threshold cannot be in the sample; the band is downward-closed in
    the ranking order, so band coverage ≥ min(20, n) proves exactness."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 20
    sha = F.sha2(F.col("doc_id").cast("string"), 256)
    frac = F.conv(F.substring(sha, 1, 13), 16, 10).cast("double") / float(16**13)
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    thr = spark.createDataFrame(
        [(s, min(1.0, 8.0 * k / n)) for s, n in counts.items()],
        schema="_blang STRING, _thr DOUBLE",
    )
    band = (
        docs.withColumn("_frac", frac)
        .join(F.broadcast(thr), F.col("lang") == F.col("_blang"))
        .filter(F.col("_frac") < F.col("_thr"))
    )
    got = (
        band.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.slice(
                F.array_sort(F.collect_list(F.struct(sha.alias("h"), "doc_id"))),
                1,
                k,
            ).alias("top"),
        )
        .collect()
    )
    assert all(
        {r["lang"]: r["bn"] for r in got}.get(s, 0) >= min(k, n)
        for s, n in counts.items()
    ), "band under-covered — oversampling factor too low for this fixture"
    return sorted(
        (e["doc_id"], r["lang"], i + 1)
        for r in got
        for i, e in enumerate(r["top"])
    )


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_q53_window_equals_band_reimplementation(spark, sf):
    got = sorted(map(tuple, q53_stratified_sample(spark, sf).collect()))
    assert got == _band_q53(spark, sf)


def _window_z05(spark, sf_dir):
    """z05 with the original window rank substituted back in."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
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
    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.asc("doc_id")
    )
    ranked = docs.withColumn("_rk", F.row_number().over(w))
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


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_z05_stratified_rank_equals_window_form(spark, sf):
    got = [tuple(r) for r in QUERIES["z05_temperature_sample"].fn(spark, sf).collect()]
    want = [tuple(r) for r in _window_z05(spark, sf).collect()]
    assert got == want


def test_stratified_rank_matches_row_number_on_skew(spark):
    """90% of rows in one stratum (the shape that breaks the window
    form at scale) across more partitions than strata; unique tiebreak
    → rank must equal ROW_NUMBER bit-for-bit."""
    rows = [("big" if i % 10 else f"s{i % 3}", i * 37 % 1000, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "stratum STRING, key INT, id INT").repartition(8)
    got = {
        (r["stratum"], r["id"]): r["rk"]
        for r in stratified_rank(
            df, "stratum", ["key", "id"], out_col="rk", num_partitions=7
        ).collect()
    }
    w = Window.partitionBy("stratum").orderBy("key", "id")
    want = {
        (r["stratum"], r["id"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_stratified_rank_null_stratum(spark):
    df = spark.createDataFrame(
        [(None, 5, 1), ("a", 1, 2), (None, 2, 3), ("a", 9, 4)],
        "stratum STRING, key INT, id INT",
    )
    got = {
        r["id"]: r["rk"]
        for r in stratified_rank(df, "stratum", ["key", "id"], out_col="rk").collect()
    }
    assert got == {3: 1, 1: 2, 2: 1, 4: 2}
