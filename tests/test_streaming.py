"""Structured Streaming parity tests (SURVEY §2.10 extension).

Strategy: generate a deterministic HVAC workload, split it into multiple
files (micro-batches via maxFilesPerTrigger=1 + availableNow), run the
streaming rule engine, and compare against the batch detection pipeline
on the same rows — exact parity for the row-wise/trailing-window rules
beyond each zone's warm-up, documented prefix semantics for temp_drift.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.plans import detection
from sustainable_building_energy_benchmarking_pipeline_spark.plans.hvac import run_feature_pipeline
from sustainable_building_energy_benchmarking_pipeline_spark.sources.generators import generate_hvac_data
from sustainable_building_energy_benchmarking_pipeline_spark.streaming.hvac_stream import (
    read_sensor_stream,
    stateful_anomaly_stream,
    windowed_zone_stats,
    write_anomaly_stream,
)

N_ZONES = 10
DAYS = 6  # fault episodes start at day 2-5 (sources.generators.fault_episodes)
WARMUP_ROWS = 11  # streaming buffer warm-up per zone


@pytest.fixture(scope="module")
def hvac_input_dir(spark, tmp_path_factory):
    """Deterministic 6-day × 10-zone workload (covers one episode of each
    fault type) written as 3 in-order files so the stream processes
    several micro-batches and state crosses batches."""
    base = tmp_path_factory.mktemp("hvac_stream")
    raw = generate_hvac_data(spark, start="2024-01-01", days=DAYS, n_zones=N_ZONES, seed=42)
    input_dir = str(base / "input")
    raw = raw.withColumn("_q", ((F.dayofmonth("timestamp") - 1) / 2).cast("int"))
    for q in range(3):
        (
            raw.filter(F.col("_q") == q)
            .drop("_q")
            .coalesce(1)
            .write.mode("append" if q else "overwrite")
            .parquet(input_dir)
        )
    return input_dir


@pytest.fixture(scope="module")
def stream_anomalies(spark, hvac_input_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("hvac_stream_out")
    sink = str(base / "sink")
    ckpt = str(base / "ckpt")
    stream = read_sensor_stream(spark, hvac_input_dir, max_files_per_trigger=1)
    q = write_anomaly_stream(
        stateful_anomaly_stream(stream), sink, ckpt, available_now=True
    )
    q.awaitTermination(300)
    return spark.read.parquet(sink).cache()


@pytest.fixture(scope="module")
def batch_frames(spark, hvac_input_dir):
    raw = spark.read.parquet(hvac_input_dir)
    features = run_feature_pipeline(raw).cache()
    return raw, features


def _beyond_warmup(spark, features):
    """(zone_id, timestamp) keys past each zone's first WARMUP_ROWS rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("zone_id").orderBy("timestamp")
    return (
        features.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > WARMUP_ROWS)
        .select("zone_id", "timestamp")
    )


def test_stream_produces_anomalies(stream_anomalies):
    assert stream_anomalies.count() > 0
    rules = {r["rule_name"] for r in stream_anomalies.select("rule_name").distinct().collect()}
    assert "clogged_filter" in rules or "compressor_failure" in rules or "temp_drift" in rules


@pytest.mark.parametrize("rule", ["clogged_filter", "compressor_failure"])
def test_rowwise_rules_exact_parity(spark, stream_anomalies, batch_frames, rule):
    """Row-wise rules match batch exactly beyond warm-up."""
    _, features = batch_frames
    batch = getattr(detection, rule)(features)
    keys = _beyond_warmup(spark, features)
    b = batch.join(keys, ["zone_id", "timestamp"]).select(
        "zone_id", "timestamp", "score", "severity"
    )
    s = stream_anomalies.filter(F.col("rule_name") == rule).join(
        keys, ["zone_id", "timestamp"]
    ).select("zone_id", "timestamp", "score", "severity")
    assert b.exceptAll(s).count() == 0, "batch hits missing from stream"
    assert s.exceptAll(b).count() == 0, "stream emitted spurious hits"
    assert b.count() > 0, "test workload produced no hits — weak fixture"


def test_oscillation_window_parity(spark, stream_anomalies, batch_frames):
    """Streaming oscillation = batch overlapping-window variant beyond
    warm-up (same trailing 12-row sign-change count)."""
    _, features = batch_frames
    batch = detection.oscillating_control_window(features)
    keys = _beyond_warmup(spark, features)
    b = batch.join(keys, ["zone_id", "timestamp"]).select("zone_id", "timestamp")
    s = stream_anomalies.filter(F.col("rule_name") == "oscillating_control").join(
        keys, ["zone_id", "timestamp"]
    ).select("zone_id", "timestamp")
    assert b.exceptAll(s).count() == 0
    assert s.exceptAll(b).count() == 0


def test_temp_drift_prefix_semantics(spark, stream_anomalies, batch_frames):
    """Stream emits exactly the batch temp_drift rows whose position in
    their run is ≥ min_duration (append mode can't flag retroactively)."""
    from pyspark.sql import Window

    _, features = batch_frames
    w = Window.partitionBy("zone_id").orderBy("timestamp")
    cond = (F.col("temp_error_c") > 3.0).cast("int")
    grp = F.sum(1 - cond).over(w)
    run_pos = F.row_number().over(Window.partitionBy("zone_id", "_grp").orderBy("timestamp"))
    expected = (
        features.withColumn("_grp", grp)
        .filter(F.col("temp_error_c") > 3.0)
        .withColumn("_pos", run_pos)
        .filter(F.col("_pos") >= 6)
        .select("zone_id", "timestamp")
    )
    s = stream_anomalies.filter(F.col("rule_name") == "temp_drift").select(
        "zone_id", "timestamp"
    )
    assert expected.exceptAll(s).count() == 0
    assert s.exceptAll(expected).count() == 0
    assert s.count() > 0


def test_windowed_zone_stats_subset_of_batch(spark, hvac_input_dir, tmp_path_factory):
    """Emitted (zone, window) rows equal the batch time-window aggregate
    for those windows (append mode emits only watermark-expired windows,
    so the stream output is a subset — values must match exactly)."""
    base = tmp_path_factory.mktemp("win_out")
    stream = read_sensor_stream(spark, hvac_input_dir, max_files_per_trigger=2)
    q = (
        windowed_zone_stats(stream)
        .writeStream.format("parquet")
        .option("path", str(base / "sink"))
        .option("checkpointLocation", str(base / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(str(base / "sink"))
    assert got.count() > 0

    raw = spark.read.parquet(hvac_input_dir)
    temp_error = F.col("temp_zone_c") - F.col("setpoint_c")
    expected = (
        raw.groupBy(F.window("timestamp", "15 minutes", "5 minutes"), "zone_id")
        .agg(
            F.avg(temp_error).alias("temp_error_mean"),
            F.coalesce(F.stddev(temp_error), F.lit(0.0)).alias("temp_error_std"),
            F.avg("power_kw").alias("power_mean"),
            F.avg("fan_speed_pct").alias("fan_mean"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "zone_id", "temp_error_mean", "temp_error_std",
            "power_mean", "fan_mean", "n_rows",
        )
    )
    # every emitted row must match batch exactly (round floats for compare)
    def rounded(df):
        return df.select(
            "window_start", "window_end", "zone_id", "n_rows",
            *[F.round(c, 6).alias(c) for c in
              ["temp_error_mean", "temp_error_std", "power_mean", "fan_mean"]],
        )

    assert rounded(got).exceptAll(rounded(expected)).count() == 0
