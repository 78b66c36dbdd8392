"""Differential properties for the serving layer: ``anomaly_summary``
and the ``/alerts/summary`` JSON against a pandas groupby of the same
rows, on hostile inputs (NULL dimensions, windows that match nothing,
non-ASCII and whitespace-only zone ids, ties across the top-10 zone cut,
1-3 input partitions), and concurrent ``/alerts/summary`` + ``/alerts``
requests against one app.

Timestamps are built in Spark from an hour offset (``h``), so the filter
strings and the data share the session time zone and the pandas side
filters on ``h`` alone."""

from __future__ import annotations

import datetime as dt
import threading

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

pytest.importorskip("flask")

from sustainable_building_energy_benchmarking_pipeline_spark.api import create_app
from sustainable_building_energy_benchmarking_pipeline_spark.plans import serving

T0 = dt.datetime(2024, 1, 1)
HOURS = 48
ZONES = [f"Z{i}" for i in range(1, 13)] + ["", " ", "\t", "\u3000", "zöne", "区域", "ゾーン "]
SEVERITIES = ["low", "medium", "high"]
RULES = ["temp_drift", "clogged_filter", "compressor_failure", "oscillating_control"]
DIMS = ("severity", "rule_name", "zone_id")


def _frame(spark, rows, n_parts):
    rdd = spark.sparkContext.parallelize(rows, n_parts)
    return spark.createDataFrame(
        rdd, "h INT, zone_id STRING, rule_name STRING, severity STRING"
    ).selectExpr(
        "TIMESTAMP'2024-01-01 00:00:00' + make_dt_interval(0, h) AS timestamp", "*"
    )


def _at(h: int) -> dt.datetime:
    return T0 + dt.timedelta(hours=h)


def _filtered(rows, window) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["h", "zone_id", "rule_name", "severity"])
    if window is not None:
        pdf = pdf[(pdf["h"] >= window[0]) & (pdf["h"] <= window[1])]
    return pdf


def _counts(pdf: pd.DataFrame, col: str) -> dict:
    sizes = pdf.groupby(col, dropna=False).size()
    return {(None if pd.isna(k) else k): int(n) for k, n in sizes.items()}


def _ordered(counts: dict) -> list:
    # count DESC, then NULL, then values ascending
    return sorted(counts.items(), key=lambda kv: (-kv[1], (0, "") if kv[0] is None else (1, kv[0])))


def _want(pdf: pd.DataFrame) -> tuple[dict, dict]:
    full = {c: _counts(pdf, c) for c in DIMS}
    summary = {
        "total_anomalies": len(pdf),
        "by_severity": full["severity"],
        "by_rule": full["rule_name"],
        "by_zone": dict(_ordered(full["zone_id"])[:10]),
    }
    response = {
        "total": len(pdf),
        "by_severity": [{"severity": k, "count": n} for k, n in _ordered(full["severity"])],
        "by_rule": [{"rule_name": k, "count": n} for k, n in _ordered(full["rule_name"])],
        "by_zone": [{"zone_id": k, "count": n} for k, n in _ordered(full["zone_id"])[:10]],
    }
    for counts in full.values():
        assert sum(counts.values()) == len(pdf)
    return summary, response


_rows = st.lists(
    st.tuples(
        st.integers(0, HOURS - 1),
        st.none() | st.sampled_from(ZONES),
        st.none() | st.sampled_from(RULES),
        st.none() | st.sampled_from(SEVERITIES),
    ),
    max_size=60,
)
# a window with start > end, or one outside [0, HOURS), matches nothing
_window = st.none() | st.tuples(st.integers(-6, HOURS + 6), st.integers(-6, HOURS + 6))

# fourteen zones (NULL, '' and whitespace-only among them) tied at two
# rows each: the top-10 cut falls inside the tie
_TIED = [
    (i, z, RULES[i % len(RULES)] if i % 5 else None, (SEVERITIES + [None])[i % 4])
    for i, z in enumerate(
        [None, "", " ", "\t", "\u3000", "zöne", "区域", "ゾーン ", "Z1", "Z2", "Z3", "Z4", "Z5", "Z6"] * 2
    )
]


@given(rows=_rows, window=_window, n_parts=st.integers(1, 3))
@example(rows=[], window=None, n_parts=1)
@example(rows=_TIED, window=None, n_parts=3)
@example(rows=_TIED, window=(30, 10), n_parts=2)
@example(rows=_TIED, window=(HOURS + 1, HOURS + 5), n_parts=1)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_summary_matches_pandas_groupby(spark, rows, window, n_parts):
    df = _frame(spark, rows, n_parts)
    filters, params = {}, {}
    if window is not None:
        filters = {
            "start_time": _at(window[0]).strftime("%Y-%m-%d %H:%M:%S"),
            "end_time": _at(window[1]).strftime("%Y-%m-%d %H:%M:%S"),
        }
        params = {"start": _at(window[0]).isoformat(), "end": _at(window[1]).isoformat()}
    want_summary, want_response = _want(_filtered(rows, window))

    got = serving.anomaly_summary(df, **filters)
    for dim in ("by_severity", "by_rule"):
        assert got["total_anomalies"] == sum(got[dim].values())
    assert got == want_summary
    assert list(got["by_zone"]) == list(want_summary["by_zone"])  # ranked order

    r = create_app(spark, df).test_client().get("/alerts/summary", query_string=params)
    assert r.status_code == 200
    assert r.get_json() == want_response


def test_concurrent_summary_and_alerts_match_pandas(spark):
    """Eight threads issue ``/alerts/summary`` and ``/alerts`` requests
    at once against one app; every response equals pandas."""
    rows = [
        (h, z, rule, SEVERITIES[(h + i + j) % 3] if (h + i) % 7 else None)
        for h in range(HOURS)
        for i, z in enumerate(ZONES[:5])
        for j, rule in enumerate(RULES[:2])
        if (h + i + j) % 3
    ]  # unique (h, zone_id, rule_name): /alerts' ORDER BY is total
    app = create_app(spark, _frame(spark, rows, 3))

    def check_summary(client, k):
        window = (k % 11, k % 11 + 7 + k)
        params = {"start": _at(window[0]).isoformat(), "end": _at(window[1]).isoformat()}
        got = client.get("/alerts/summary", query_string=params).get_json()
        assert got == _want(_filtered(rows, window))[1], params

    def check_alerts(client, k):
        window = (k % 13, k % 13 + 11)
        params = {
            "start": _at(window[0]).isoformat(),
            "end": _at(window[1]).isoformat(),
            "limit": 3 + 5 * k,
        }
        if k % 2:
            params["zone_id"] = ZONES[k % 5]
        pdf = _filtered(rows, window)
        if "zone_id" in params:
            pdf = pdf[pdf["zone_id"] == params["zone_id"]]
        want = [
            tuple(r)
            for r in pdf.sort_values(["h", "zone_id", "rule_name"], ascending=[False, True, True])
            .head(params["limit"])
            .itertuples(index=False)
        ]
        got = client.get("/alerts", query_string=params).get_json()
        assert got["count"] == len(want), params
        assert [
            (a["h"], a["zone_id"], a["rule_name"], a["severity"]) for a in got["anomalies"]
        ] == want, params

    start = threading.Barrier(8)
    errors: list[BaseException] = []

    def worker(t: int):
        client = app.test_client()
        start.wait()
        try:
            for k in range(t, t + 4):
                (check_summary if (t + k) % 2 else check_alerts)(client, k)
        except Exception as e:  # re-raised on the main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads), "a request thread hung"
    if errors:
        raise errors[0]
