"""As-of (nearest-event) join — the time-series join Spark lacks natively.

For each left row, attach the latest right row with ``right.ts <= left.ts``
(backward, inclusive) or the earliest with ``right.ts >= left.ts``
(forward) within the same key group. The reference has no as-of join
(SURVEY.md §2.3: its join surface is small equi-joins), but any engine
processing event/sensor time-series at scale needs one — e.g. click →
purchase attribution, sensor-reading → maintenance-event alignment.

Spark-first shape — the union + window trick, NOT a range join:

    union(tag left 1 / right 0) → window over (PARTITION BY key
    ORDER BY ts, side) → last(right_payload, ignorenulls) → keep left

- ONE hash shuffle on the key, then a per-partition sort — same cost as
  any windowed aggregation. A theta/range join (``l.ts >= r.ts``) would
  plan as BroadcastNestedLoop (quadratic); an exploded time-bucket join
  multiplies the data by the bucket count. The union form is linear and
  AQE-coalescible, and survives 100 TB as long as single keys fit a
  partition (for pathological hot keys, pre-split by time range and fix
  up group boundaries — same recipe as any skewed window).
- The right payload rides in ONE struct column so the window fill is a
  single ``last(ignorenulls)`` — per-column fills could mix values from
  different right rows when payload columns contain nulls.
- Ties: right rows sort before left rows at equal ts (side 0 < 1), so
  "inclusive" means a right row at exactly left.ts matches. Among right
  rows sharing (key, ts) the struct's own ordering (lexicographic by
  field) breaks the tie deterministically — put a unique id first in
  ``right_cols``. NB: DuckDB's ASOF JOIN picks an *unspecified* row
  among equal timestamps, so differential comparisons against it must
  pre-dedup the right side per (key, ts) on both engines (q44 does).

Oracle parity: semantically identical to DuckDB/QuestDB/kdb ``ASOF
JOIN`` (tested against DuckDB's in tests/test_queries_oracle.py via
q44).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import windows as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    right_cols: dict[str, str] | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
) -> DataFrame:
    """As-of join: every ``left`` row + the payload of its nearest
    ``right`` row (``<= on`` for backward, ``>= on`` for forward) within
    the same ``by`` group. Unmatched left rows keep NULL payloads (filter
    afterwards for inner semantics).

    ``on`` and ``by`` name columns present in BOTH inputs; ``right_cols``
    maps right column → output name (default: every non-key right column
    suffixed ``_right``). ``tolerance`` (an INTERVAL column, e.g.
    ``F.expr("INTERVAL 1 HOUR")``) voids matches farther than the given
    gap from the left timestamp — the match becomes NULL, the row stays.

    ``direction="nearest"`` (pandas merge_asof parity) picks whichever
    of the backward/forward candidates is closer in time, backward
    winning exact ties. Same single union + window pass — both fills
    ride the one sorted partition, so nearest costs no extra shuffle.

    Equal-timestamp right duplicates: when several right rows share
    (by, on), the winner is the MAX payload struct (lexicographic by
    field order) — deterministic, but not pandas' "last input row".
    For strict pandas parity either pre-dedup the right side per
    (by, on) or map a unique, input-order column as the FIRST entry of
    ``right_cols`` so it drives the tiebreak.
    """
    if direction == "nearest":
        return _asof_nearest(left, right, on, by, right_cols, tolerance)
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    by = by or []
    if right_cols is None:
        right_cols = {
            c: f"{c}_right" for c in right.columns if c not in (*by, on)
        }

    # the right timestamp rides along as a hidden struct field so the
    # tolerance check compares against the row that actually matched
    payload = F.struct(
        F.col(on).alias("_rts"),
        *[F.col(c).alias(out) for c, out in right_cols.items()],
    ).alias("_rv")
    left_side, right_side = (1, 0) if direction == "backward" else (0, 1)
    l = left.select(
        *by,
        F.col(on).alias("_ts"),
        F.lit(left_side).alias("_side"),
        F.struct(*left.columns).alias("_lv"),
        F.lit(None).cast(right.select(payload).schema["_rv"].dataType).alias("_rv"),
    )
    r = right.select(
        *by,
        F.col(on).alias("_ts"),
        F.lit(right_side).alias("_side"),
        F.lit(None).cast(l.schema["_lv"].dataType).alias("_lv"),
        payload,
    )
    # equal-(by, on) right duplicates resolve to the MAX payload struct
    # in BOTH directions (the docstring contract): backward's ffill
    # takes the last of an ASCENDING _rv run, forward's bfill the first
    # of a DESCENDING one.
    if direction == "backward":
        fill = W.ffill("_rv", W.ordered_window(by, ["_ts", "_side", "_rv"]))
    else:
        fill = W.bfill("_rv", by, ["_ts", "_side", W.Desc("_rv")])
    matched = (
        l.unionByName(r).withColumn("_m", fill).filter(F.col("_side") == left_side)
    )
    m = F.col("_m")
    if tolerance is not None:
        if direction == "backward":
            in_tol = m.getField("_rts") >= F.col("_ts") - tolerance
        else:
            in_tol = m.getField("_rts") <= F.col("_ts") + tolerance
        m = F.when(in_tol, F.col("_m"))
    return matched.select(
        *[F.col(f"_lv.{c}").alias(c) for c in left.columns],
        *[m.getField(out).alias(out) for out in right_cols.values()],
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None,
    right_cols: dict[str, str] | None,
    tolerance: Column | None,
) -> DataFrame:
    """direction="nearest": both directional fills over ONE sorted
    union, then per-row choice of the closer candidate (backward wins
    ties — pandas merge_asof semantics). Right rows sort before left at
    equal ts, so an exact-ts right row is the backward candidate at
    Δ = 0 and beats any forward row; the forward frame starting at the
    current (left) row therefore never needs to see equal-ts rights.

    Right rows sharing (by, ts) resolve to the max payload struct (the
    sort's third key), NOT pandas' last-input-row — see asof_join
    docstring for the parity recipe."""
    by = by or []
    if right_cols is None:
        right_cols = {
            c: f"{c}_right" for c in right.columns if c not in (*by, on)
        }
    payload = F.struct(
        F.col(on).alias("_rts"),
        *[F.col(c).alias(out) for c, out in right_cols.items()],
    ).alias("_rv")
    l = left.select(
        *by,
        F.col(on).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_lv"),
        F.lit(None).cast(right.select(payload).schema["_rv"].dataType).alias("_rv"),
    )
    r = right.select(
        *by,
        F.col(on).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l.schema["_lv"].dataType).alias("_lv"),
        payload,
    )
    back = W.ffill("_rv", W.ordered_window(by, ["_ts", "_side", "_rv"]))
    # the forward fill orders the duplicate run DESCENDING so it resolves
    # equal-ts right duplicates to the MAX payload struct, same as the
    # backward fill (last of an ascending run) — one extra local sort
    # inside the same exchange (both windows share the partition key),
    # not an extra shuffle
    fwd = W.bfill("_rv", by, ["_ts", "_side", W.Desc("_rv")])
    matched = (
        l.unionByName(r)
        .withColumn("_mb", back)
        .withColumn("_mf", fwd)
        .filter(F.col("_side") == 1)
    )
    ts = F.col("_ts")
    mb, mf = F.col("_mb"), F.col("_mf")
    if tolerance is not None:
        mb = F.when(mb.getField("_rts") >= ts - tolerance, mb)
        mf = F.when(mf.getField("_rts") <= ts + tolerance, mf)
    d_b = ts.cast("double") - mb.getField("_rts").cast("double")
    d_f = mf.getField("_rts").cast("double") - ts.cast("double")
    m = (
        F.when(mb.isNull(), mf)
        .when(mf.isNull(), mb)
        .when(d_b <= d_f, mb)
        .otherwise(mf)
    )
    return matched.select(
        *[F.col(f"_lv.{c}").alias(c) for c in left.columns],
        *[m.getField(out).alias(out) for out in right_cols.values()],
    )
