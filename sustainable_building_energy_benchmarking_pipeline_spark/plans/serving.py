"""Serving-layer queries (E2 /alerts, E3 /alerts/summary;
reference ``src/db.py:113-236``, ``src/api.py:105-261``).

The reference builds SQL strings incrementally against PostgreSQL; here the
dynamic predicate builder (P5) composes DataFrame filters over the anomaly
table, and the 4-statement summary becomes ONE grouping-sets pass (A7) —
one scan, one shuffle, one action, versus four round-trips.

The anomaly table is whatever DataFrame the caller serves: the ``detect``
CLI writes parquet with ``sources.io.write_table`` (whose ``partition_by``
can lay it out by date), and the pipeline commits it with
``sources.deltalog.write_delta``. The predicates push down into the
parquet scan (partition pruning on a partitioned layout, row-group
min/max otherwise), replacing the reference's PostgreSQL indexes
(SURVEY §4).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LIMIT = 5000  # src/api.py:127-132
DEFAULT_LIMIT = 500
# ceiling on the daily-trend series the dashboard endpoints collect:
# one row per calendar day, so ~3 years of span — beyond that the
# request must narrow start/end (422), keeping the driver-side list
# bounded by contract rather than by the data (round-5 directive #6)
MAX_DAILY_POINTS = 1000


def count_order(kv: tuple[str | None, int]) -> tuple[int, bool, str]:
    """Sort key for ``(value, count)`` pairs: count DESC, then value ASC
    with NULL first. A total order, so the top-10 cut and every response
    order are independent of collect order (NULL and '' tie otherwise)."""
    return (-kv[1], kv[0] is not None, kv[0] or "")


def _apply_filters(
    df: DataFrame,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
    zone_id: str | None = None,
    severity: str | None = None,
    rule_name: str | None = None,
) -> DataFrame:
    """Dynamic predicate builder (src/db.py:138-159): optional conjuncts."""
    out = df
    if start_time is not None:
        out = out.filter(F.col("timestamp") >= F.lit(start_time).cast("timestamp"))
    if end_time is not None:
        out = out.filter(F.col("timestamp") <= F.lit(end_time).cast("timestamp"))
    if zone_id is not None:
        out = out.filter(F.col("zone_id") == zone_id)
    if severity is not None:
        out = out.filter(F.col("severity") == severity)
    if rule_name is not None:
        out = out.filter(F.col("rule_name") == rule_name)
    return out


def query_anomalies(
    anomalies: DataFrame,
    limit: int = DEFAULT_LIMIT,
    **filters: Any,
) -> DataFrame:
    """GET /alerts: filters → ORDER BY timestamp DESC LIMIT n (bounded
    1..5000, src/api.py:127-132). Plans as TakeOrderedAndProject — the
    limit pushes into each partition before the single-partition merge."""
    limit = max(1, min(int(limit), MAX_LIMIT))
    return (
        _apply_filters(anomalies, **filters)
        .orderBy(F.desc("timestamp"), F.asc("zone_id"), F.asc("rule_name"))
        .limit(limit)
    )


def anomaly_summary(anomalies: DataFrame, **filters: Any) -> dict[str, Any]:
    """GET /alerts/summary: total + by-severity + by-rule + by-zone-top-10
    (src/db.py:171-236) as one action over the filtered table:
    ``GROUPING SETS ((severity),(rule_name),(zone_id),())``. With AQE
    that is two jobs, the shuffle map stage and the result stage; the
    base is neither cached nor counted separately."""
    dims = [F.col(d) for d in ("severity", "rule_name", "zone_id")]
    rows = (
        _apply_filters(anomalies, **filters)
        .groupingSets([[d] for d in dims] + [[]], *dims)
        .agg(F.grouping_id().alias("_gid"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # empty input yields no rows at all, the () set's included
    total = 0
    by_severity: dict[str, int] = {}
    by_rule: dict[str, int] = {}
    by_zone: dict[str, int] = {}
    # classify rows by grouping_id, NOT value-nullness: a NULL dim
    # value (null-severity anomaly) is a legitimate group whose row
    # a nullness chain would drop — total would then exceed every
    # breakdown's sum. gid bit = 1 means aggregated-out; dims are
    # MSB-first, so the (severity)/(rule)/(zone)/() sets are
    # 011/101/110/111.
    for r in rows:
        gid = r["_gid"]
        if gid == 0b111:
            total = r["n"]
        elif gid == 0b011:
            by_severity[r["severity"]] = r["n"]
        elif gid == 0b101:
            by_rule[r["rule_name"]] = r["n"]
        elif gid == 0b110:
            by_zone[r["zone_id"]] = r["n"]
    # ORDER BY count DESC LIMIT 10 (src/db.py:222-229)
    top_zones = dict(sorted(by_zone.items(), key=count_order)[:10])
    return {
        "total_anomalies": total,
        "by_severity": by_severity,
        "by_rule": by_rule,
        "by_zone": top_zones,
    }


def stat_tiles(
    anomalies: DataFrame,
    summary: dict[str, Any] | None = None,
    **filters: Any,
) -> dict[str, Any]:
    """Dashboard stat tiles (src/dashboard_app.py:270-294): total anomalies,
    high-severity count, top-1 rule by count, top-1 zone by count.

    One grouping-sets pass over the filtered table (reusing anomaly_summary's
    single-scan design) instead of the reference's four cached queries; the
    top-1 picks are driver-side over the already-small per-dimension maps.
    Ties break by name ascending.
    Callers that already hold the ``anomaly_summary`` dict pass it via
    ``summary`` to skip the second Spark pass (the /dashboard endpoint
    renders both and must not pay twice).
    """
    if summary is None:
        summary = anomaly_summary(anomalies, **filters)

    def _top1(counts: dict[str, int]) -> dict[str, Any] | None:
        if not counts:
            return None
        name, n = min(counts.items(), key=count_order)
        return {"name": name, "count": n}

    return {
        "total_anomalies": summary["total_anomalies"],
        "high_severity": summary["by_severity"].get("high", 0),
        "top_rule": _top1(summary["by_rule"]),
        "top_zone": _top1(summary["by_zone"]),
    }


def daily_counts(anomalies: DataFrame, **filters: Any) -> DataFrame:
    """Daily anomaly trend series (src/dashboard_app.py:406-416: the
    plotly line chart's groupby(date).size()): one date-grained
    aggregate over the filtered table, date-ascending. Output is
    bounded by the calendar (one row per day), so the API can collect
    it safely at any table size; the timestamp filters partition-prune
    before the shuffle."""
    return (
        _apply_filters(anomalies, **filters)
        .groupBy(F.to_date("timestamp").alias("date"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("date")
    )


def zone_marker_series(
    anomalies: DataFrame, zone_id: str, limit: int = DEFAULT_LIMIT, **filters: Any
) -> DataFrame:
    """Per-zone anomaly marker series (src/dashboard_app.py:143-163: the
    time-series chart's severity-colored markers). The reference merges
    anomalies with the features frame to recover the metric value at
    each marker timestamp; the engine's anomaly table already carries
    the rule's ``metric`` name and ``score``, so the marker projection
    needs no join — a client overlaying raw feature values joins its
    features series on timestamp exactly as the reference does. Newest
    first, limit-bounded like /alerts."""
    limit = max(1, min(int(limit), MAX_LIMIT))
    return (
        _apply_filters(anomalies, zone_id=zone_id, **filters)
        .select("timestamp", "severity", "rule_name", "metric", "score")
        .orderBy(F.desc("timestamp"), F.asc("rule_name"))
        .limit(limit)
    )


def format_alerts(df: DataFrame) -> list[dict[str, Any]]:
    """Row formatting for the API boundary (src/api.py:183-190):
    ISO-8601 timestamps, plain dicts."""
    out = []
    for r in df.collect():
        d = r.asDict()
        for k in ("timestamp", "created_at"):
            if d.get(k) is not None:
                d[k] = d[k].isoformat()
        out.append(d)
    return out
