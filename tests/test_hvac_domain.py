"""Domain-parity tests for the HVAC pipeline, mirroring the reference's
test pyramid (SURVEY §5): shape goldens, schema presence, value domains,
physical invariants, recomputation checks, scenario-injection detector
tests, partition independence, and end-to-end."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.plans import detection, hvac
from sustainable_building_energy_benchmarking_pipeline_spark.schemas import HVAC_FEATURE_COLS
from sustainable_building_energy_benchmarking_pipeline_spark.sources import generators


@pytest.fixture(scope="module")
def hvac_small(spark):
    """1 day × 2 zones, no faults (reference test fixture shape)."""
    return generators.generate_hvac_data(
        spark, days=1, n_zones=2, with_faults=False
    ).cache()


@pytest.fixture(scope="module")
def hvac_faulty(spark):
    """5 days × 3 zones with fault episodes."""
    return generators.generate_hvac_data(spark, days=5, n_zones=3).cache()


@pytest.fixture(scope="module")
def features(hvac_faulty):
    return hvac.run_feature_pipeline(hvac_faulty).cache()


def test_base_profile_shape_golden(hvac_small):
    # 1 day × 288 ticks × 2 zones = 576 (tests/test_generate_hvac_data.py:24-25)
    assert hvac_small.count() == 576


def test_base_profile_schema(hvac_small):
    required = [
        "timestamp", "zone_id", "ahu_id", "temp_zone_c", "rh_zone_pct",
        "supply_air_temp_c", "return_air_temp_c", "power_kw",
        "fan_speed_pct", "setpoint_c", "mode", "fault_type",
    ]
    assert set(required) <= set(hvac_small.columns)


def test_value_domains(hvac_faulty):
    # tests/test_generate_hvac_data.py:42-46,74-77
    row = hvac_faulty.agg(
        F.min("temp_zone_c").alias("tmin"), F.max("temp_zone_c").alias("tmax"),
        F.min("rh_zone_pct").alias("rmin"), F.max("rh_zone_pct").alias("rmax"),
        F.min("fan_speed_pct").alias("fmin"), F.max("fan_speed_pct").alias("fmax"),
        F.min("power_kw").alias("pmin"),
    ).collect()[0]
    assert 15 <= row.tmin and row.tmax <= 35
    assert 30 <= row.rmin and row.rmax <= 60
    assert 0 <= row.fmin and row.fmax <= 100
    assert row.pmin >= 0


def test_physical_invariants(hvac_small):
    # return warmer than supply on average; |temp−setpoint| < 2 normally
    # (tests/test_generate_hvac_data.py:111-127)
    row = hvac_small.agg(
        F.avg(F.col("return_air_temp_c") - F.col("supply_air_temp_c")).alias("d"),
        F.avg(F.abs(F.col("temp_zone_c") - F.col("setpoint_c"))).alias("e"),
    ).collect()[0]
    assert row.d > 0
    assert row.e < 2


def test_mode_schedule(hvac_small):
    bad = hvac_small.filter(
        (
            (F.hour("timestamp") + F.minute("timestamp") / 60).between(8, 18)
            & (F.col("mode") != "cooling")
        )
        | (
            ~(F.hour("timestamp") + F.minute("timestamp") / 60).between(8, 18)
            & (F.col("mode") != "off")
        )
    ).count()
    assert bad == 0


def test_determinism_partition_invariant(spark):
    """Hash-based RNG: same data regardless of parallelism."""
    a = generators.generate_hvac_base(spark, days=1, n_zones=2).orderBy("zone_id", "timestamp")
    b = (
        generators.generate_hvac_base(spark, days=1, n_zones=2)
        .repartition(13)
        .orderBy("zone_id", "timestamp")
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def _fingerprint(df) -> tuple[int, int]:
    """Order-independent content hash: row count and the sum of a per-row
    xxhash64 over every column."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    r = df.selectExpr(f"CAST(xxhash64({cols}) AS DECIMAL(20, 0)) AS h").agg(
        F.count("*"), F.sum("h")
    ).first()
    return r[0], int(r[1])


# pinned from the withColumn-chain generator this one replaced, in a UTC
# driver with the session zone UTC
@pytest.mark.parametrize(
    "build, want",
    [
        (lambda s: generators.generate_hvac_data(s, days=5, n_zones=3, seed=42),
         (4320, 271914811675210526863)),
        (lambda s: generators.generate_hvac_data(s, days=1, n_zones=2, seed=7),
         (576, 69505630525644937468)),
        (lambda s: generators.generate_buildings(s, 100, seed=42),
         (100, 44512180136338548320)),
    ],
    ids=["hvac_5d_3z_s42", "hvac_1d_2z_s7", "buildings_100_s42"],
)
def test_generator_fingerprint_pinned(spark, build, want):
    assert _fingerprint(build(spark)) == want


def test_generator_ignores_driver_tz(spark, monkeypatch):
    """Timestamps are session-zone literals: a driver process in another
    zone builds the same table (first tick 00:00, episode windows at their
    scheduled session-time hours)."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        df = generators.generate_hvac_data(spark, days=6, n_zones=2, seed=42)
        first = df.agg(F.date_format(F.min("timestamp"), "yyyy-MM-dd HH:mm")).first()[0]
        windows = {
            (r.fault_type, r.zone_id): (r.lo, r.hi)
            for r in df.filter(F.col("fault_type") != "none")
            .groupBy("fault_type", "zone_id")
            .agg(
                F.date_format(F.min("timestamp"), "yyyy-MM-dd HH:mm").alias("lo"),
                F.date_format(F.max("timestamp"), "yyyy-MM-dd HH:mm").alias("hi"),
            )
            .collect()
        }
    finally:
        monkeypatch.undo()
        time.tzset()
    assert first == "2024-01-01 00:00"
    fmt = "%Y-%m-%d %H:%M"
    want = {
        (ep["fault"], ep["zone"]): (ep["start"].strftime(fmt), ep["end"].strftime(fmt))
        for ep in generators.fault_episodes(n_zones=2, seed=42)
        if ep["end"] < dt.datetime(2024, 1, 7)
    }
    assert len(want) == 4 and windows == want


def _overlapping_pairs(episodes):
    return [
        (i, j)
        for i, a in enumerate(episodes)
        for j, b in enumerate(episodes[i + 1:], i + 1)
        if a["zone"] == b["zone"] and a["start"] <= b["end"] and b["start"] <= a["end"]
    ]


def test_fault_episodes_never_overlap():
    """The schedule is disjoint per zone for every size inject_faults may
    be handed: starts fall on distinct days mod 6, windows end same-day."""
    for n_eps in range(1, 11):
        for n_zones in range(1, 13):
            for seed in (1, 42):
                eps = generators.fault_episodes(
                    n_zones=n_zones, n_episodes_per_fault=n_eps, seed=seed
                )
                assert len(eps) == 4 * n_eps
                assert _overlapping_pairs(eps) == [], (n_eps, n_zones, seed)


def test_inject_faults_refuses_overlap(hvac_small):
    """One CASE per column applies only the first matching episode, so
    two episodes sharing a zone and a moment are refused, not merged."""
    t0 = dt.datetime(2024, 1, 1, 8)
    a = {"fault": "temp_drift", "zone": "Z1", "start": t0,
         "end": t0 + dt.timedelta(hours=4), "drift": 4.0}
    touching = dict(a, fault="clogged_filter", start=a["end"], end=a["end"] + dt.timedelta(hours=2))
    other_zone = dict(touching, zone="Z2")
    later = dict(touching, start=touching["end"] + dt.timedelta(minutes=5),
                 end=touching["end"] + dt.timedelta(hours=1))
    with pytest.raises(ValueError, match=r"zone Z1: #0 temp_drift .* and #1 clogged_filter"):
        generators.inject_faults(hvac_small, [a, touching])
    with pytest.raises(ValueError, match=r"#0 temp_drift .* and #2 clogged_filter"):
        generators.inject_faults(hvac_small, [a, other_zone, touching])
    out = generators.inject_faults(hvac_small, [a, other_zone, later])
    assert out.columns == hvac_small.columns


def test_features_28_columns(features):
    assert set(HVAC_FEATURE_COLS) <= set(features.columns)
    assert len(features.columns) == 28


def test_features_recomputation(features):
    # temp_error_c == temp − setpoint; delta == return − supply
    # (tests/test_pipeline_batch.py:75-81)
    bad = features.filter(
        (F.abs(F.col("temp_error_c") - (F.col("temp_zone_c") - F.col("setpoint_c"))) > 1e-6)
        | (
            F.abs(
                F.col("delta_return_supply")
                - (F.col("return_air_temp_c") - F.col("supply_air_temp_c"))
            )
            > 1e-6
        )
    ).count()
    assert bad == 0


def test_features_no_nulls(features):
    cols = HVAC_FEATURE_COLS
    bad = features.filter(
        F.greatest(*[F.col(c).isNull().cast("int") for c in cols]) == 1
    ).count()
    assert bad == 0


def test_partition_independence(spark, hvac_faulty):
    """Window features per zone equal features computed on that zone alone
    (tests/test_pipeline_batch.py:153-168)."""
    one_zone = hvac_faulty.filter(F.col("zone_id") == "Z1")
    solo = hvac.run_feature_pipeline(one_zone).orderBy("timestamp")
    joint = (
        hvac.run_feature_pipeline(hvac_faulty)
        .filter(F.col("zone_id") == "Z1")
        .orderBy("timestamp")
    )
    a = [tuple(r) for r in solo.collect()]
    b = [tuple(r) for r in joint.collect()]
    assert a == b


# ---------------------------------------------------------------------------
# Scenario-injection detector tests (tests/test_models.py:69-118 pattern)
# ---------------------------------------------------------------------------

def _frame(spark, rows: list[dict]):
    base = {
        "zone_id": "Z1", "ahu_id": "AHU1", "mode": "cooling", "fault_type": "none",
        "temp_error_c": 0.0, "fan_speed_pct": 50.0, "fan_rolling_mean_15min": 50.0,
        "power_kw": 5.0, "power_rolling_mean_60min": 5.0, "temp_change_rate": 0.0,
    }
    t0 = dt.datetime(2024, 1, 1)
    full = []
    for i, r in enumerate(rows):
        d = dict(base)
        d.update(r)
        d["timestamp"] = t0 + dt.timedelta(minutes=5 * i)
        full.append(d)
    return spark.createDataFrame(pd.DataFrame(full))


def test_temp_drift_fires_on_sustained_run(spark):
    rows = [{"temp_error_c": 4.0} for _ in range(8)] + [{"temp_error_c": 0.0}] * 4
    out = detection.temp_drift(_frame(spark, rows)).collect()
    assert len(out) == 8
    assert all(r.rule_name == "temp_drift" and r.severity == "medium" for r in out)
    # score = min(3, |err|/3)
    assert abs(out[0].score - 4.0 / 3.0) < 1e-9


def test_temp_drift_ignores_short_run(spark):
    rows = [{"temp_error_c": 4.0}] * 5 + [{"temp_error_c": 0.0}] * 5
    assert detection.temp_drift(_frame(spark, rows)).count() == 0


def test_temp_drift_high_severity_above_5(spark):
    rows = [{"temp_error_c": 6.0}] * 6
    out = detection.temp_drift(_frame(spark, rows)).collect()
    assert len(out) == 6 and all(r.severity == "high" for r in out)


def test_clogged_filter_fires(spark):
    rows = [{"fan_speed_pct": 85.0, "fan_rolling_mean_15min": 80.0}] * 3
    out = detection.clogged_filter(_frame(spark, rows)).collect()
    assert len(out) == 3
    assert all(r.severity == "high" and r.score == 2.0 for r in out)


def test_compressor_failure_requires_cooling(spark):
    hit = {"power_kw": 1.0, "temp_error_c": 2.0, "power_rolling_mean_60min": 1.0}
    out = detection.compressor_failure(_frame(spark, [hit] * 2)).collect()
    assert len(out) == 2 and all(r.severity == "high" for r in out)
    off = dict(hit, mode="off")
    assert detection.compressor_failure(_frame(spark, [off] * 2)).count() == 0


def test_oscillation_fires_on_alternating_signs(spark):
    rows = [{"temp_change_rate": (1.0 if i % 2 == 0 else -1.0)} for i in range(14)]
    out = detection.oscillating_control(_frame(spark, rows)).collect()
    assert len(out) >= 12
    assert all(r.rule_name == "oscillating_control" for r in out)
    # scalable variant flags a superset
    sup = detection.oscillating_control_window(_frame(spark, rows)).collect()
    assert len(sup) >= len(out) - 11  # overlapping variant covers the same region


def test_oscillation_quiet_on_steady_signal(spark):
    rows = [{"temp_change_rate": 0.5} for _ in range(20)]
    assert detection.oscillating_control(_frame(spark, rows)).count() == 0


# ---------------------------------------------------------------------------
# End-to-end: generate → features → rules + ML → union
# ---------------------------------------------------------------------------

def test_full_pipeline_end_to_end(spark, features):
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        IsolationForestDetector,
    )

    rules = detection.run_rule_detection(features)
    det = IsolationForestDetector(max_train_rows=5000).train(features)
    ml = det.detect(features)
    allano = rules.unionByName(ml)
    counts = {r.rule_name: r.n for r in allano.groupBy("rule_name").agg(F.count("*").alias("n")).collect()}
    assert counts, "no anomalies detected at all"
    assert "isolation_forest" in counts
    assert any(k in counts for k in ["temp_drift", "clogged_filter", "compressor_failure", "oscillating_control"])
    # anomaly schema domains (tests/test_models.py:237-242)
    row = allano.agg(
        F.min("score").alias("smin"),
        F.count_distinct("severity").alias("nsev"),
    ).collect()[0]
    assert row.smin > 0
    sevs = {r.severity for r in allano.select("severity").distinct().collect()}
    assert sevs <= {"low", "medium", "high"}


def test_if_model_roundtrip(spark, features, tmp_path):
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        IsolationForestDetector,
    )

    det = IsolationForestDetector(max_train_rows=2000).train(features)
    p = str(tmp_path / "if_model.pkl")
    det.save(p)
    det2 = IsolationForestDetector().load(p)
    a = det.detect(features).count()
    b = det2.detect(features).count()
    assert a == b and a > 0


def test_paper_scale_anomaly_counts_pinned(spark):
    """The reference's own 1x run (30 days x 10 zones, seed 42): the
    injected fault rows match HVAC_README.md:112-113 exactly, and each
    detector's count is pinned so any generator, ETL or rule change
    shows up as a diff.

    oscillating_control fires on ~89% of rows by construction: the
    generator's zone temperature carries i.i.d. noise per
    tick, and consecutive differences of i.i.d. noise change sign with
    probability 2/3. A 12-row window has 11 transitions, so it expects
    about 7.3 sign changes, above the rule's threshold of 6; most windows
    fire and the non-overlapping scan flags whole 12-row blocks. That is
    why the total (80,212) is 25x the published ~3,209."""
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        IsolationForestDetector,
    )

    raw = generators.generate_hvac_data(spark, days=30, n_zones=10, seed=42)
    faults = {r[0]: r[1] for r in raw.groupBy("fault_type").count().collect()}
    assert faults == {
        "none": 84_944,
        "temp_drift": 484,
        "clogged_filter": 388,
        "oscillating_control": 292,
        "compressor_failure": 292,
    }
    feats = hvac.run_feature_pipeline(raw).cache()
    try:
        rules = detection.run_rule_detection(feats)
        counts = {r[0]: r[1] for r in rules.groupBy("rule_name").count().collect()}
        assert counts == {
            "temp_drift": 570,
            "clogged_filter": 380,
            "compressor_failure": 211,
            "oscillating_control": 77_124,
        }
        # identical at 1 and 4 local cores
        det = IsolationForestDetector().train(feats)
        assert det.detect(feats).count() == 1_927
    finally:
        feats.unpersist()
