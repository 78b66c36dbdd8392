"""Multimodal column operators (BASELINE.json north-star).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct — the lakehouse-native representation (what e.g. the open
image-dataset parquet layouts do). The Spark-side plumbing here is the
row-expansion shape a decoder would consume; the engine ships no
image/audio codec, so no payload is decoded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expands each video row into frame
    timestamps (sequence+explode) that a decoder would materialize. The
    expansion — the Spark-side shape — is real; no pixel is decoded."""
    vids = df.filter(F.col("kind") == "video")
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(3000))
    # zero/negative-duration media have no frames — and F.sequence raises
    # on an empty [0, dur-1] range, so the filter is load-bearing
    return vids.filter(dur > 0).select(
        "media_id",
        F.explode(F.sequence(F.lit(0), dur - 1, F.lit(every_ms))).alias("frame_ts_ms"),
    )
