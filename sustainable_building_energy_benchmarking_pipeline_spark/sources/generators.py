"""Spark-native synthetic data generators (SURVEY §2.1 S5, §2.8 F7/F18/F19).

Replicates the reference generators' distributions
(``generate_sample_data.py:15-45``, ``src/generate_hvac_data.py:13-225``)
with a crucial scale difference: randomness is **hash-based and
partition-invariant** — ``xxhash64(key, salt)`` → uniform → Box-Muller —
instead of ``F.rand(seed)`` (whose values depend on partition layout) or a
driver-side RNG. The same (key, salt) always produces the same value on
any cluster at any parallelism, so generated tables are reproducible and
the generator scales linearly with no driver bottleneck: the 86,400-row
reference workload and a 52.6M-row year×100-zones×1-min workload
(HVAC_README.md:554-557) run the same plan.

Plan shape: the HVAC table is one narrow plan over ``spark.range`` — the
(tick, zone) grid is decoded from the row id, so there is no explode, no
shuffle and no join, and writing it is one Spark job. Every column is a
SQL expression string passed through ``selectExpr``: a projection costs
one parse and one analysis on the driver, however many fault episodes it
folds in. Timestamps are session-time-zone ``TIMESTAMP`` literals, so the
output never depends on the driver process's ``TZ``.

Distribution parity, not bit parity: the reference's numpy RNG stream
cannot (and need not) be reproduced; tests assert the reference's own
invariants (FIXTURES.md: shapes, domains, return>supply, |temp−setpoint|<2).
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

BUILDING_TYPES = ["office", "residential", "retail", "industrial", "educational"]
FAULT_TYPES = ["clogged_filter", "compressor_failure", "temp_drift", "oscillating_control"]


def _d(x: float) -> str:
    """A Python float as an exact SQL DOUBLE literal (a bare ``0.3`` would
    parse as DECIMAL)."""
    return f"{float(x)!r}D"


def _ts(dt: datetime) -> str:
    """A session-time-zone TIMESTAMP literal (an aware datetime keeps its
    offset)."""
    return f"TIMESTAMP '{dt.isoformat(sep=' ')}'"


def _u(salt: str, *cols: str) -> str:
    """SQL text: deterministic uniform [0,1) from a hash of (cols, salt)."""
    return f"(CAST(xxhash64({', '.join(cols)}, '{salt}') AS DOUBLE) / {_d(2.0**64)} + 0.5D)"


def _randn(salt: str, *cols: str) -> str:
    """SQL text: deterministic standard normal via Box-Muller on two hash
    uniforms; 1-u1 ∈ (0,1] keeps the log finite."""
    u1, u2 = _u(salt + ":u1", *cols), _u(salt + ":u2", *cols)
    return f"(sqrt(-2.0D * ln(1.0D - {u1})) * cos({_d(2.0 * math.pi)} * {u2}))"


# ---------------------------------------------------------------------------
# Buildings (generate_sample_data.py:15-45)
# ---------------------------------------------------------------------------

def generate_buildings(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Synthetic building portfolio with the reference's distributions:
    B%03d ids, 5 uniform types, area U(500,10000), year randint(1970,2023),
    energy U(10000,500000), occupancy randint(10,500), hvac Bern(0.5),
    solar Bern(0.3). One projection over ``spark.range``, hash-keyed by id."""
    salt = f"buildings:{seed}"

    def u(tag: str) -> str:
        return _u(f"{salt}:{tag}", "id")

    types = ", ".join(f"'{t}'" for t in BUILDING_TYPES)
    return spark.range(1, n + 1).selectExpr(
        "format_string('B%03d', CAST(id AS INT)) AS building_id",
        f"array({types})[CAST(floor({u('type')} * {len(BUILDING_TYPES)}) AS INT)] AS building_type",
        f"round({u('area')} * 9500 + 500, 2) AS area",
        f"CAST(floor({u('year')} * 54) + 1970 AS INT) AS year_built",
        f"round({u('energy')} * 490000 + 10000, 2) AS energy_consumption",
        f"CAST(floor({u('occ')} * 491) + 10 AS INT) AS occupancy",
        f"{u('hvac')} < 0.5D AS has_hvac",
        f"{u('solar')} < 0.3D AS has_solar",
    )


# ---------------------------------------------------------------------------
# HVAC base profile (src/generate_hvac_data.py:13-89)
# ---------------------------------------------------------------------------

def generate_hvac_base(
    spark: SparkSession,
    start: str = "2024-01-01",
    days: int = 30,
    freq_minutes: int = 5,
    n_zones: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Dense 5-min sensor grid × zones, fully distributed.

    Grid = ``spark.range(ticks × zones)`` (F7): tick = ``id div n_zones``,
    zone index = ``id % n_zones``, timestamp = the session-zone ``start``
    literal + tick × freq minutes. All noise is hash-keyed by (zone, ts).
    Matches the reference profile: business-hour (8-18h, weekend ×0.6)
    day_factor drives temp/power/fan; return air ≈ temp + N(1.0, 0.3);
    last tick at start + days − freq, like pd.date_range's inclusive end.
    """
    salt = f"hvac:{seed}"
    start_dt = datetime.fromisoformat(start)
    # the reference generates "2024-01-01 00:00".."2024-01-30 23:55"
    # inclusive = days × 288 ticks
    step = timedelta(minutes=freq_minutes)
    n_ticks = (timedelta(days=days) - step) // step + 1

    def n(tag: str) -> str:
        return _randn(f"{salt}:{tag}", "zone_id", "timestamp")

    grid = spark.range(
        n_ticks * n_zones, numPartitions=spark.sparkContext.defaultParallelism
    ).selectExpr(
        f"{_ts(start_dt)} + make_dt_interval(0, 0, (id DIV {n_zones}) * {freq_minutes}) AS timestamp",
        f"id % {n_zones} AS z",
    )
    calendar = grid.selectExpr(
        "timestamp",
        "format_string('Z%d', CAST(z + 1 AS INT)) AS zone_id",
        f"round(22.0D + {_randn(salt + ':zoff', 'z')} * 0.5D, 2) AS setpoint_c",
        "hour(timestamp) + minute(timestamp) / 60.0D BETWEEN 8 AND 18 AS business",
        "weekday(timestamp) >= 5 AS weekend",
    ).selectExpr(
        "*",
        "CASE WHEN business THEN 1.5D ELSE 0.5D END"
        " * CASE WHEN weekend THEN 0.6D ELSE 1.0D END AS day_factor",
    )
    profile = calendar.selectExpr(
        "timestamp",
        "zone_id",
        "'AHU1' AS ahu_id",
        f"round(setpoint_c + {n('temp')} * 0.3D + (day_factor - 1.0D) * 1.0D, 2) AS temp_zone_c",
        f"round(least(greatest(45 + {n('rh')} * 5, 30.0D), 60.0D), 2) AS rh_zone_pct",
        f"round(CASE WHEN business THEN 14.0D ELSE 18.0D END + {n('supply')} * 0.5D, 2)"
        " AS supply_air_temp_c",
        f"round(greatest(0.0D, 5.0D * day_factor + {n('power')} * 0.3D), 2) AS power_kw",
        f"round(least(greatest(40.0D * day_factor + {n('fan')} * 5, 10.0D), 90.0D), 2)"
        " AS fan_speed_pct",
        "setpoint_c",
        "CASE WHEN business THEN 'cooling' ELSE 'off' END AS mode",
        "'none' AS fault_type",
    )
    return profile.selectExpr(
        "timestamp", "zone_id", "ahu_id", "temp_zone_c", "rh_zone_pct",
        "supply_air_temp_c",
        f"round(temp_zone_c + 1.0D + {n('ret')} * 0.3D, 2) AS return_air_temp_c",
        "power_kw", "fan_speed_pct", "setpoint_c", "mode", "fault_type",
    )


# ---------------------------------------------------------------------------
# Fault injection (src/generate_hvac_data.py:92-225)
# ---------------------------------------------------------------------------

def fault_episodes(
    start: str = "2024-01-01",
    n_zones: int = 10,
    n_episodes_per_fault: int = 4,
    seed: int = 42,
) -> list[dict]:
    """Deterministic fault-episode schedule (driver-side metadata only —
    a handful of literals, not data). Mirrors the reference's layout:
    episodes spread across the month, per-fault day offsets/hours.

    Episodes never overlap: the four faults start on days ≡ 5, 3, 4, 2
    (mod 6) and every window ends on its start day, so ``inject_faults``
    accepts any schedule this returns."""
    rng = random.Random(seed)
    zones = [f"Z{i + 1}" for i in range(n_zones)]
    start_dt = datetime.fromisoformat(start)
    spec = [
        ("clogged_filter", 5, 9, 8),
        ("compressor_failure", 3, 10, 6),
        ("temp_drift", 4, 11, 10),
        ("oscillating_control", 2, 8, 6),
    ]
    episodes = []
    for fault, day0, hour0, dur_h in spec:
        for ep in range(n_episodes_per_fault):
            s = start_dt + timedelta(days=day0 + ep * 6, hours=hour0)
            episodes.append(
                {
                    "fault": fault,
                    "zone": rng.choice(zones),
                    "start": s,
                    "end": s + timedelta(hours=dur_h),
                    "drift": 3.5 + rng.uniform(0, 1.5),  # temp_drift amount
                }
            )
    return episodes


def _check_disjoint(episodes: list[dict]) -> None:
    """Raise if two episodes share a zone and their closed [start, end]
    windows intersect: a row would then match both, and the one-CASE fold
    applies only the first."""
    by_zone: dict[str, list[tuple[int, dict]]] = {}
    for i, ep in enumerate(episodes):
        if ep["fault"] in FAULT_TYPES:
            by_zone.setdefault(ep["zone"], []).append((i, ep))
    for eps in by_zone.values():
        eps.sort(key=lambda p: p[1]["start"])
        for (i, a), (j, b) in zip(eps, eps[1:]):
            if b["start"] <= a["end"]:
                raise ValueError(
                    f"fault episodes overlap in zone {a['zone']}: #{i} {a['fault']} "
                    f"[{a['start']}, {a['end']}] and #{j} {b['fault']} "
                    f"[{b['start']}, {b['end']}]"
                )


def inject_faults(df: DataFrame, episodes: list[dict]) -> DataFrame:
    """Masked conditional updates (P17): each episode modifies its
    (zone, time-window) slice. Progression ramps use the time fraction
    through the window — the continuous form of the reference's
    ``np.linspace(0, 1, n_points)`` over a regular grid. Oscillation is
    2·sin over 0..4π of the window (F18).

    One projection: every episode folds into one ``CASE`` per affected
    column, with the reference's clamps and the 2-dp rounding
    (src/generate_hvac_data.py:215-222) in the same expression. Episodes
    must be disjoint per zone (``ValueError`` otherwise); other columns of
    ``df`` pass through in place.
    """
    _check_disjoint(episodes)
    cases: dict[str, list[str]] = {
        c: [] for c in ("temp_zone_c", "supply_air_temp_c", "return_air_temp_c",
                        "power_kw", "fan_speed_pct", "fault_type")
    }
    for ep in (e for e in episodes if e["fault"] in FAULT_TYPES):
        m = (f"zone_id = '{ep['zone']}' AND timestamp >= {_ts(ep['start'])}"
             f" AND timestamp <= {_ts(ep['end'])}")
        span = (ep["end"] - ep["start"]).total_seconds()
        p = f"((CAST(timestamp AS DOUBLE) - CAST({_ts(ep['start'])} AS DOUBLE)) / {_d(span)})"
        fault = ep["fault"]
        if fault == "clogged_filter":
            upd = {"fan_speed_pct": f"fan_speed_pct + {p} * 20",
                   "power_kw": f"power_kw + {p} * 2",
                   "return_air_temp_c": f"return_air_temp_c + {p} * 1.5D"}
        elif fault == "compressor_failure":
            m += " AND mode = 'cooling'"
            upd = {"power_kw": "power_kw * 0.3D",
                   "supply_air_temp_c": "supply_air_temp_c + 5",
                   "temp_zone_c": f"temp_zone_c + {p} * 4"}
        elif fault == "temp_drift":
            upd = {"temp_zone_c": f"temp_zone_c + {_d(ep['drift'])}"}
        else:  # oscillating_control
            osc = f"(2.0D * sin({p} * 4 * {_d(math.pi)}))"
            upd = {"temp_zone_c": f"temp_zone_c + {osc}",
                   "fan_speed_pct": f"fan_speed_pct + {osc} * 5"}
        upd["fault_type"] = f"'{fault}'"
        for col, expr in upd.items():
            cases[col].append(f"WHEN {m} THEN {expr}")

    def case(col: str) -> str:
        return f"CASE {' '.join(cases[col])} ELSE {col} END" if cases[col] else col

    final = {
        "temp_zone_c": f"round(least(greatest({case('temp_zone_c')}, 15.0D), 35.0D), 2)",
        "rh_zone_pct": "round(rh_zone_pct, 2)",
        "supply_air_temp_c": f"round(least(greatest({case('supply_air_temp_c')}, 10.0D), 25.0D), 2)",
        "return_air_temp_c": f"round({case('return_air_temp_c')}, 2)",
        "power_kw": f"round(greatest({case('power_kw')}, 0.0D), 2)",
        "fan_speed_pct": f"round(least(greatest({case('fan_speed_pct')}, 0.0D), 100.0D), 2)",
        "setpoint_c": "round(setpoint_c, 2)",
        "fault_type": case("fault_type"),
    }
    return df.selectExpr(
        *[f"{final[c]} AS {c}" if c in final else f"`{c}`" for c in df.columns]
    )


def generate_hvac_data(
    spark: SparkSession,
    start: str = "2024-01-01",
    days: int = 30,
    n_zones: int = 10,
    seed: int = 42,
    with_faults: bool = True,
) -> DataFrame:
    """Full generator: base profile + fault episodes (the `make sample-data`
    stage 1, src/generate_hvac_data.py:228-295) — one narrow plan over
    ``spark.range``, written by a single job with no shuffle."""
    base = generate_hvac_base(spark, start=start, days=days, n_zones=n_zones, seed=seed)
    if not with_faults:
        return base
    return inject_faults(base, fault_episodes(start=start, n_zones=n_zones, seed=seed))
