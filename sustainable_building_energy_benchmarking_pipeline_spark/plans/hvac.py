"""HVAC feature-engineering ETL (SURVEY §2.5, FIXTURES §3).

Re-expresses the reference's per-zone loop (``src/pipeline_batch.py:71-163``)
as a single window-function stage: ONE hash shuffle on ``zone_id``, then all
16 engineered columns compute inside the same sorted window partition. The
reference's 10-zone Python loop becomes embarrassingly parallel across
zones/executors — at 100 zones × 1-min × years of data the plan is
unchanged; only partition count grows.

Column-for-column parity with the reference's 28-column feature table:
- clean: parse ts, sort, per-zone ffill, dropna (src/pipeline_batch.py:36-68)
- features: rolling mean/std 3/12 rows, lag1, diff (…:92-146)
- post: per-zone bfill + fillna(0) on lag/diff cols, round 4dp (…:149-158)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import windows as W

# (source column, short name used in feature column names)
_ROLLING_SPECS = [
    ("temp_error_c", "temp_error"),
    ("power_kw", "power"),
]

SENSOR_COLS = [
    "temp_zone_c",
    "rh_zone_pct",
    "supply_air_temp_c",
    "return_air_temp_c",
    "power_kw",
    "fan_speed_pct",
    "setpoint_c",
]


def clean_data(df: DataFrame) -> DataFrame:
    """Parse/sort/ffill/dropna (src/pipeline_batch.py:36-68).

    The reference sorts globally by (zone_id, timestamp); in Spark ordering
    is a property of the window, not the table, so the sort happens inside
    the window exchange — no separate global sort stage.
    """
    w = W.ordered_window("zone_id", "timestamp")
    out = df
    if dict(df.dtypes).get("timestamp") == "string":
        out = out.withColumn("timestamp", F.to_timestamp("timestamp"))
    for c in SENSOR_COLS:
        out = out.withColumn(c, W.ffill(c, w))
    return out.na.drop(subset=SENSOR_COLS)


def engineer_features(df: DataFrame) -> DataFrame:
    """The 16 engineered columns (src/pipeline_batch.py:71-163), one window
    stage. min_periods=1 and sample-stddev/NaN→0 semantics match pandas
    (see operators.windows.rolling_mean/rolling_std docstrings)."""
    w = W.ordered_window("zone_id", "timestamp")

    out = (
        df.withColumn("temp_error_c", F.col("temp_zone_c") - F.col("setpoint_c"))
        .withColumn(
            "delta_return_supply",
            F.col("return_air_temp_c") - F.col("supply_air_temp_c"),
        )
    )
    for src, short in _ROLLING_SPECS:
        out = (
            out.withColumn(f"{short}_rolling_mean_15min", W.rolling_mean(src, w, 3))
            .withColumn(f"{short}_rolling_std_15min", W.rolling_std(src, w, 3))
            .withColumn(f"{short}_rolling_mean_60min", W.rolling_mean(src, w, 12))
            .withColumn(f"{short}_rolling_std_60min", W.rolling_std(src, w, 12))
        )
    out = out.withColumn("fan_rolling_mean_15min", W.rolling_mean("fan_speed_pct", w, 3))

    lag_cols = {}
    for src in ["temp_zone_c", "power_kw", "fan_speed_pct"]:
        lag_cols[f"{src}_lag1"] = W.lag_col(src, w, 1)
    out = out.withColumns(lag_cols)
    out = out.withColumns(
        {
            "temp_change_rate": W.diff_col("temp_zone_c", w, 1),
            "power_change_rate": W.diff_col("power_kw", w, 1),
        }
    )

    # per-zone bfill then residual fillna(0) on the lag/diff columns
    # (src/pipeline_batch.py:149; each zone's first row has no lag)
    fill_targets = [
        "temp_zone_c_lag1", "power_kw_lag1", "fan_speed_pct_lag1",
        "temp_change_rate", "power_change_rate",
    ]
    out = out.withColumns(
        {c: F.coalesce(W.bfill(c, "zone_id", "timestamp"), F.lit(0.0)) for c in fill_targets}
    )

    # round engineered cols to 4dp (src/pipeline_batch.py:157-158)
    from sustainable_building_energy_benchmarking_pipeline_spark.schemas import HVAC_FEATURE_COLS

    out = out.withColumns({c: F.round(c, 4) for c in HVAC_FEATURE_COLS})
    return out


def run_feature_pipeline(df_raw: DataFrame) -> DataFrame:
    """clean → engineer: the full ETL stage (src/pipeline_batch.py:193-245)."""
    return engineer_features(clean_data(df_raw))
