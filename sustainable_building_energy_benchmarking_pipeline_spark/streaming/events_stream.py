"""Structured Streaming sessionization over the events stream.

The streaming counterpart of the registry query q43_session_windows:
``session_window`` aggregation under an event-time watermark. In
append mode a (user, session) row emits once the watermark passes the
session's close (last event + gap) — Spark merges/extends open sessions
in state until then, which is exactly the semantics q43's batch
gaps-and-islands SQL computes in one pass.

Scale: state is keyed by (user_id, open session) — the hash shuffle on
user_id bounds per-executor state to its user subset, and the watermark
bounds how long a session can stay open. No custom stateful code needed:
session_window is the built-in operator (contrast streaming/hvac_stream,
where the trailing-row-buffer semantics force applyInPandasWithState).

The driver testdata's ``events.parquet`` carries TIMESTAMP(NANOS);
streaming file sources get the same normalized micro-second rows the
batch path produces via session.load_table — write those to the stream
input directory (tests do exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])


def event_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    within_watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup — the streaming counterpart of
    operators.dedup.exact_dedup: first occurrence per key wins, duplicates
    arriving in LATER micro-batches are dropped against keyed state.

    ``within_watermark`` bounds the state (production setting): duplicates
    are only guaranteed dropped if they arrive within that event-time
    delay of the first occurrence — state older than the watermark is
    evicted, which is the only way dedup state stays finite on an
    unbounded stream. Without it, state grows with distinct keys
    (exact-forever semantics: fine for tests/backfills, not for 100 TB
    streams). Keyed-state shuffle is on ``keys`` — same partitioning
    logic as the batch groupBy."""
    keys = keys or ["event_id"]
    if within_watermark is not None:
        return stream.withWatermark(ts_col, within_watermark).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def session_stats_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked session aggregation — append-mode rows are CLOSED
    sessions, column-identical to q43's batch output."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def attribution_join_stream(
    stream: DataFrame,
    trigger_type: str = "click",
    outcome_type: str = "purchase",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream event-time range join: each OUTCOME event (e.g.
    purchase) paired with every TRIGGER event (e.g. click) by the same
    user in the preceding ``horizon`` — the streaming counterpart of
    q44/q64's attribution range join, and the one streaming operator
    class (two buffered sides, watermark-bounded state on BOTH) that no
    single-input stateful op expresses.

    Semantics: inner join on user_id with the time-range predicate
    ``trigger.ts < outcome.ts AND trigger.ts >= outcome.ts − horizon``.
    For an INNER stream-stream join Spark emits a pair as soon as both
    rows have arrived; the watermarks + range condition let it EVICT a
    buffered row once no future match can exist (trigger older than
    outcome-watermark − horizon; outcome older than trigger-watermark).
    Over a finite availableNow run the emitted set is exactly the batch
    range join of the same rows (the parity test asserts set-equality).

    Scale: both sides shuffle once on user_id into the join's keyed
    state store; per-key state is bounded by rate × (horizon + watermark
    delay), independent of stream length. Without the watermark pair
    Spark must buffer both sides forever — the unbounded-state trap this
    wrapper makes unrepresentable (both watermarks are mandatory here).
    """
    trig = (
        stream.where(F.col("event_type") == trigger_type)
        .select(
            F.col("event_id").alias("trigger_id"),
            F.col("user_id"),
            F.col("ts").alias("trigger_ts"),
        )
        .withWatermark("trigger_ts", watermark)
    )
    outc = (
        stream.where(F.col("event_type") == outcome_type)
        .select(
            F.col("event_id").alias("outcome_id"),
            F.col("user_id").alias("o_user_id"),
            F.col("ts").alias("outcome_ts"),
            F.col("value").alias("outcome_value"),
        )
        .withWatermark("outcome_ts", watermark)
    )
    return trig.join(
        outc,
        (F.col("user_id") == F.col("o_user_id"))
        & (F.col("trigger_ts") < F.col("outcome_ts"))
        & (F.col("trigger_ts") >= F.col("outcome_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        "user_id", "trigger_id", "outcome_id", "trigger_ts", "outcome_ts",
        "outcome_value",
    )
