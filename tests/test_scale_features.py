"""Cluster-scale machinery proofs: dynamic partition pruning on a
partitioned fact table, and the streaming → Delta foreachBatch sink
pattern (each micro-batch an atomic commit, exactly-once per batch)."""

from __future__ import annotations

import pytest
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


def test_foreachbatch_versioned_sink(spark, tmp_path_factory):
    """Streaming events upserted into a Delta table via foreachBatch:
    each micro-batch commits atomically (one version per batch, its
    batch id recorded as the txn version), and the final latest-state
    read equals the batch compaction of all input."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl
    from sustainable_building_energy_benchmarking_pipeline_spark.streaming.events_stream import (
        event_stream,
    )

    base = tmp_path_factory.mktemp("stream_versioned")
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    input_dir = str(base / "input")
    mid = events.agg(F.expr("percentile(CAST(ts AS DOUBLE), 0.5)")).first()[0]
    events.filter(F.col("ts").cast("double") <= mid).coalesce(1).write.parquet(input_dir)
    events.filter(F.col("ts").cast("double") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    table_dir = str(base / "versioned")

    def upsert_batch(batch_df, batch_id: int) -> None:
        # latest value per user within the batch, appended as one commit
        latest = batch_df.groupBy("user_id").agg(
            F.max_by(F.struct("ts", "value"), "ts").alias("_s")
        ).select("user_id", F.col("_s.ts").alias("ts"), F.col("_s.value").alias("value"))
        dl.write_delta_txn(latest, table_dir, "events_latest", batch_id)

    q = (
        event_stream(spark, input_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    history = dl.delta_history(table_dir)
    assert len(history) >= 2, "expected one commit per micro-batch"
    assert dl.last_txn_version(table_dir, "events_latest") == len(history) - 1

    # compact the appended changelog to latest-per-user and compare with
    # the batch answer over the full input
    got = (
        dl.read_delta(spark, table_dir)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("ts", "value"), "ts").alias("_s"))
        .select("user_id", F.col("_s.value").alias("value"))
    )
    want = (
        events.groupBy("user_id")
        .agg(F.max_by(F.struct("ts", "value"), "ts").alias("_s"))
        .select("user_id", F.col("_s.value").alias("value"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_aqe_skew_join_split(spark):
    """AQE must split a skewed shuffle partition at join time
    (SortMergeJoin(skew=true) + AQEShuffleRead 'skewed' in the final
    adaptive plan) — the runtime answer to hot keys that complements the
    explicit salted join in operators/joins.py. Skew thresholds are
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
