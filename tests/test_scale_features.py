"""Cluster-scale machinery proofs: dynamic partition pruning on a
partitioned fact table and AQE's runtime skew-join split."""

from __future__ import annotations

from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """A dim-filtered join against a partition-keyed fact must plan a
    dynamicpruning subquery on the fact scan — at scale this is the
    difference between scanning one year and scanning the table."""
    base = tmp_path_factory.mktemp("dpp")
    fact_dir = str(base / "orders_by_year")
    orders = load_table(spark, SF_DIR, "orders")
    (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(fact_dir)
    )
    fact = spark.read.parquet(fact_dir)
    years = spark.createDataFrame(
        [(1995, "target"), (1996, "target"), (2001, "other")], "yr INT, tag STRING"
    )
    joined = fact.join(
        years.where(F.col("tag") == "target"), fact["o_year"] == years["yr"]
    )
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized
    # and the result equals the statically filtered equivalent
    want = orders.where(F.year("o_orderdate").isin(1995, 1996)).count()
    assert joined.count() == want


def test_aqe_skew_join_split(spark):
    """AQE must split a skewed shuffle partition at join time
    (SortMergeJoin(skew=true) + AQEShuffleRead 'skewed' in the final
    adaptive plan) — the runtime answer to hot keys. Skew thresholds are
    lowered (and restored) so a local-scale hot key crosses them."""
    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # 90% of rows on one key: one shuffle partition dwarfs the others
        big = spark.range(400_000).select(
            (F.when(F.col("id") % 100 < 90, 7).otherwise(F.col("id") % 1000)).alias("k"),
            F.rand(1).alias("x"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("d").alias("d"))
        j = big.join(right, "k").select(F.sum("x"))
        j.collect()  # execute THIS frame so its adaptive plan finalizes
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
