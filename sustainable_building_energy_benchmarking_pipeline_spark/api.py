"""HTTP serving shell (E1-E4): the reference's two FastAPI apps as one
Flask app over the Spark-backed serving plans.

Reference parity:
- ``/`` and ``/health`` and ``POST /benchmark`` — the benchmarking API
  (reference ``api/main.py:51-89``); the health probe substitutes a
  1-row Spark job for the reference's PostgreSQL ``SELECT 1``
  (``src/api.py:76-103``) since the engine's store is parquet.
- ``GET /alerts`` and ``GET /alerts/summary`` — the HVAC alerts API
  (reference ``src/api.py:105-261``), backed by ``plans.serving``:
  the dynamic-predicate + TakeOrderedAndProject query and the one-pass
  grouping-sets summary instead of the reference's four SQL round-trips
  (``src/db.py:113-236``).

Validation mirrors the reference observable behavior: malformed
timestamps and severities → 400 with the same messages
(``src/api.py:138-160, 228-244``); body/type errors on ``/benchmark``
and out-of-range ``limit`` → 422 (what FastAPI's pydantic/Query layers
return). The summary response uses the reference's list-of-records
shape ordered count-DESC (``src/db.py:204-229``).

Flask is the shell because it is what this environment provides; the
app factory takes the SparkSession and the anomalies DataFrame, so
tests drive it with ``app.test_client()`` — no socket needed. The web
layer holds no query logic: everything is in ``plans.serving`` /
``plans.benchmarking``, which is the part that runs at scale.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from sustainable_building_energy_benchmarking_pipeline_spark.plans import serving
from sustainable_building_energy_benchmarking_pipeline_spark.plans.benchmarking import (
    benchmark_building,
)

_SEVERITIES = ("low", "medium", "high")


def _valid_iso(ts: str) -> bool:
    try:
        _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
        return True
    except ValueError:
        return False


def _records(d: dict[str, int], key: str) -> list[dict[str, Any]]:
    """{value: n} → reference record shape, count DESC (src/db.py:204-229)."""
    return [
        {key: v, "count": n}
        for v, n in sorted(d.items(), key=serving.count_order)
    ]


# --- server-rendered SVG charts (the reference dashboard's plotly daily
# trend + per-zone severity markers, src/dashboard_app.py:147-152,374-416,
# re-expressed dependency-free). Colors reference CSS custom properties
# set on .viz-root so light/dark swap in one place; severity identity is
# NEVER color-alone: each severity has a distinct marker shape, a text
# legend, a per-mark <title>, and the alerts table below is the table
# view. Data volume is bounded by the serving-layer limits, so string
# assembly here is O(points), never O(table).

_W, _H, _PAD_L, _PAD_B, _PAD_T = 640, 180, 42, 24, 10


def _xy(i: int, n: int, v: float, vmax: float) -> tuple[float, float]:
    # vmax is the value the axis label PRINTS — scale by it exactly
    # (callers guarantee vmax > 0). A max(vmax, 1) clamp here silently
    # squashed fractional-score charts: a 0.65-max series plotted at
    # 65% height under an axis labeled 0.65.
    x = _PAD_L + (_W - _PAD_L - 8) * (i / max(n - 1, 1))
    y = _PAD_T + (_H - _PAD_T - _PAD_B) * (1 - v / vmax)
    return round(x, 1), round(y, 1)


def _svg_daily_trend(series: list[dict[str, Any]], esc) -> str:
    """Single-series line (change-over-time): 2px line in the series-1
    slot, recessive grid, native <title> tooltips on >=8px hover
    targets. One series — the heading names it, no legend box."""
    if not series:
        return "<p class='muted'>no data in window</p>"
    vmax = max(p["count"] for p in series) or 1  # all-zero series: flat baseline
    n = len(series)
    pts = [_xy(i, n, p["count"], vmax) for i, p in enumerate(series)]
    grid = "".join(
        f'<line x1="{_PAD_L}" y1="{_PAD_T + (_H - _PAD_T - _PAD_B) * f:.1f}" '
        f'x2="{_W - 8}" y2="{_PAD_T + (_H - _PAD_T - _PAD_B) * f:.1f}" '
        'class="grid"/>'
        for f in (0.0, 0.5, 1.0)
    )
    ylab = (
        f'<text x="{_PAD_L - 6}" y="{_PAD_T + 4}" class="axis" '
        f'text-anchor="end">{vmax}</text>'
        f'<text x="{_PAD_L - 6}" y="{_H - _PAD_B + 4}" class="axis" '
        'text-anchor="end">0</text>'
    )
    xlab = (
        f'<text x="{pts[0][0]}" y="{_H - 6}" class="axis">'
        f'{esc(series[0]["date"])}</text>'
        f'<text x="{pts[-1][0]}" y="{_H - 6}" class="axis" '
        f'text-anchor="end">{esc(series[-1]["date"])}</text>'
    )
    path = "M" + " L".join(f"{x},{y}" for x, y in pts)
    dots = "".join(
        f'<circle cx="{x}" cy="{y}" r="4" class="pt">'
        f'<title>{esc(p["date"])}: {p["count"]}</title></circle>'
        for (x, y), p in zip(pts, series)
    )
    return (
        f'<svg viewBox="0 0 {_W} {_H}" role="img" '
        f'aria-label="daily anomaly counts">{grid}{ylab}{xlab}'
        f'<path d="{path}" class="line"/>{dots}</svg>'
    )


_SEV_MARK = {  # shape is the color-independent identity channel
    "low": ("circle", "sev-low"),
    "medium": ("diamond", "sev-med"),
    "high": ("triangle", "sev-high"),
}


def _sev_shape(x: float, y: float, sev: str, title: str) -> str:
    shape, cls = _SEV_MARK.get(sev, ("circle", "sev-low"))
    t = f"<title>{title}</title>"
    if shape == "diamond":
        return (
            f'<path d="M{x},{y - 5} L{x + 5},{y} L{x},{y + 5} L{x - 5},{y} Z" '
            f'class="{cls}">{t}</path>'
        )
    if shape == "triangle":
        return (
            f'<path d="M{x},{y - 5} L{x + 5},{y + 4} L{x - 5},{y + 4} Z" '
            f'class="{cls}">{t}</path>'
        )
    return f'<circle cx="{x}" cy="{y}" r="4.5" class="{cls}">{t}</circle>'


def _svg_zone_markers(rows: list[dict[str, Any]], esc) -> str:
    """Per-zone severity markers over time (status encoding): score on
    y, time order on x, one mark per anomaly. Severity identity =
    shape + legend text + <title>, not color alone (the light-surface
    'warning' step is below 3:1 — the relief the palette doc requires)."""
    if not rows:
        return "<p class='muted'>no anomalies for this zone in window</p>"
    rows = sorted(rows, key=lambda r: str(r.get("timestamp")))
    scores = [abs(float(r.get("score") or 0.0)) for r in rows]
    vmax = max(scores) or 1.0
    n = len(rows)
    marks = "".join(
        _sev_shape(
            *_xy(i, n, s, vmax),
            str(r.get("severity")),
            f'{esc(r.get("timestamp"))} · {esc(r.get("rule_name"))} · '
            f'{esc(r.get("severity"))} · score {esc(r.get("score"))}',
        )
        for i, (r, s) in enumerate(zip(rows, scores))
    )
    legend = "".join(
        f'<g transform="translate({_PAD_L + 130 * i},0)">'
        + _sev_shape(6, 8, sev, sev)
        + f'<text x="16" y="12" class="axis">{sev} ({shape})</text></g>'
        for i, (sev, (shape, _)) in enumerate(_SEV_MARK.items())
    )
    return (
        f'<svg viewBox="0 0 {_W} {_H + 22}" role="img" '
        f'aria-label="zone anomaly markers">'
        f'<g transform="translate(0,{_H})">{legend}</g>'
        f'<text x="{_PAD_L - 6}" y="{_PAD_T + 4}" class="axis" '
        f'text-anchor="end">{vmax:.2f}</text>'
        f'<text x="{_PAD_L - 6}" y="{_H - _PAD_B + 4}" class="axis" '
        f'text-anchor="end">0</text>{marks}</svg>'
    )


def create_app(spark: SparkSession, anomalies: DataFrame):
    """Build the Flask app over a session and an anomalies DataFrame."""
    try:
        from flask import Flask, jsonify, request
    except ImportError as e:  # pragma: no cover - flask is present here
        raise ImportError(
            "The HTTP shell needs flask; the query logic in plans.serving "
            "works without it."
        ) from e

    app = Flask("sustainable_building_energy_benchmarking_pipeline_spark")

    @app.get("/")
    def root():
        return jsonify(
            {
                "message": "Sustainable Building Energy Benchmarking API",
                "version": "1.0.0",
                "endpoints": {
                    "/benchmark": "POST - Benchmark a building's energy performance",
                    "/health": "GET - Health check endpoint",
                    "/alerts": "GET - Query anomaly alerts with filters",
                    "/alerts/summary": "GET - Get anomaly summary statistics",
                },
            }
        )

    @app.get("/health")
    def health():
        try:
            spark.range(1).count()
            engine = "connected"
        except Exception as e:  # pragma: no cover - session loss
            engine = f"error: {e}"
        return jsonify(
            {
                "status": "healthy" if engine == "connected" else "degraded",
                "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
                "engine": engine,
            }
        )

    @app.post("/benchmark")
    def benchmark():
        body = request.get_json(silent=True)
        if not isinstance(body, dict):
            return jsonify({"detail": "Invalid JSON body"}), 422
        errors = []
        if not isinstance(body.get("building_id"), str):
            errors.append("building_id: str required")
        for fld in ("area", "energy_consumption"):
            if not isinstance(body.get(fld), (int, float)) or isinstance(
                body.get(fld), bool
            ):
                errors.append(f"{fld}: number required")
        if not isinstance(body.get("building_type"), str):
            errors.append("building_type: str required")
        if errors:
            return jsonify({"detail": errors}), 422
        return jsonify(benchmark_building(body))

    def _validate_window() -> tuple[dict[str, Any], Any]:
        filters: dict[str, Any] = {}
        for param, key in (("start", "start_time"), ("end", "end_time")):
            v = request.args.get(param)
            if v is not None:
                if not _valid_iso(v):
                    return {}, (
                        jsonify(
                            {
                                "detail": f"Invalid {param} timestamp format. "
                                "Use ISO 8601 (e.g., 2024-01-01T00:00:00)"
                            }
                        ),
                        400,
                    )
                # 'Z' must become an explicit UTC offset: stripping it
                # reinterprets the instant in the Spark session timezone
                # (a +08:00 session would widen the window by 8 hours);
                # numeric offsets already pass through and cast correctly
                filters[key] = v.replace("T", " ").replace("Z", "+00:00")
        return filters, None

    def _bounded_daily(filters: dict[str, Any]):
        """Collect the daily-counts series under MAX_DAILY_POINTS: the
        collect is LIMIT-bounded plan-side (never an unbounded list),
        and an over-span window is the caller's error (422), not a
        silent truncation."""
        rows = (
            serving.daily_counts(anomalies, **filters)
            .limit(serving.MAX_DAILY_POINTS + 1)
            .collect()
        )
        if len(rows) > serving.MAX_DAILY_POINTS:
            return None, (
                jsonify(
                    {
                        "detail": "date window spans more than "
                        f"{serving.MAX_DAILY_POINTS} daily points; narrow "
                        "start/end"
                    }
                ),
                422,
            )
        return (
            [{"date": r["date"].isoformat(), "count": r["count"]} for r in rows],
            None,
        )

    def _parse_alert_params(default_limit: int):
        """Shared /alerts + /dashboard query-param contract: bad
        timestamps and severities are 400, bad limits are 422 — the two
        surfaces must not silently diverge on validation."""
        filters, err = _validate_window()
        if err:
            return None, None, err
        severity = request.args.get("severity")
        if severity is not None:
            if severity not in _SEVERITIES:
                return None, None, (
                    jsonify(
                        {"detail": "Invalid severity. Must be one of: low, medium, high"}
                    ),
                    400,
                )
            filters["severity"] = severity
        for param in ("zone_id", "rule_name"):
            if request.args.get(param) is not None:
                filters[param] = request.args.get(param)
        try:
            limit = int(request.args.get("limit", default_limit))
        except ValueError:
            return None, None, (jsonify({"detail": "limit: integer required"}), 422)
        if not 1 <= limit <= serving.MAX_LIMIT:
            return None, None, (
                jsonify({"detail": f"limit must be in [1, {serving.MAX_LIMIT}]"}),
                422,
            )
        return filters, limit, None

    @app.get("/alerts")
    def alerts():
        filters, limit, err = _parse_alert_params(serving.DEFAULT_LIMIT)
        if err:
            return err
        rows = serving.format_alerts(
            serving.query_anomalies(anomalies, limit=limit, **filters)
        )
        return jsonify({"count": len(rows), "anomalies": rows})

    @app.get("/dashboard")
    def dashboard():
        """Server-rendered HTML dashboard — the reference's Streamlit app
        (src/dashboard_app.py:184-298: sidebar filters, four stat tiles,
        anomaly table, per-dimension analytics) re-expressed as one
        dependency-free page over the same serving plans. Streamlit is
        not in this runtime; a self-contained page over the identical
        data endpoints is the engine-native equivalent (the plots tab
        maps to the /alerts JSON a charting client consumes)."""
        import html as _html

        filters, limit, err = _parse_alert_params(50)
        if err:
            return err

        summary = serving.anomaly_summary(anomalies, **filters)
        tiles = serving.stat_tiles(anomalies, summary=summary)
        rows = serving.format_alerts(
            serving.query_anomalies(anomalies, limit=limit, **filters)
        )
        daily, err = _bounded_daily(filters)
        if err:
            return err
        zone_rows: list[dict[str, Any]] | None = None
        if "zone_id" in filters:
            mfilters = dict(filters)
            zone = mfilters.pop("zone_id")
            zone_rows = serving.format_alerts(
                serving.zone_marker_series(anomalies, zone, limit=limit, **mfilters)
            )

        def esc(v: Any) -> str:
            return _html.escape(str(v if v is not None else ""))

        def tile(label: str, value: Any) -> str:
            return (
                f'<div class="tile"><div class="v">{esc(value)}</div>'
                f'<div class="l">{esc(label)}</div></div>'
            )

        def dim_table(title: str, counts: dict[str, int]) -> str:
            body = "".join(
                f"<tr><td>{esc(k)}</td><td>{v}</td></tr>"
                for k, v in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] if kv[0] is not None else ""))
            )
            return (
                f"<h3>{esc(title)}</h3><table><tr><th>name</th><th>count</th>"
                f"</tr>{body}</table>"
            )

        top_rule = tiles["top_rule"] or {"name": "N/A", "count": ""}
        top_zone = tiles["top_zone"] or {"name": "N/A", "count": ""}
        cols = ["timestamp", "zone_id", "rule_name", "severity", "score"]
        alert_rows = "".join(
            "<tr>" + "".join(f"<td>{esc(r.get(c))}</td>" for c in cols) + "</tr>"
            for r in rows
        )
        page = f"""<!doctype html><html><head><meta charset="utf-8">
<title>Anomaly Dashboard</title><style>
body{{font-family:system-ui,sans-serif;margin:2rem;color:#222}}
.tiles{{display:flex;gap:1rem;flex-wrap:wrap}}
.tile{{border:1px solid #ddd;border-radius:8px;padding:1rem 1.5rem;min-width:10rem}}
.tile .v{{font-size:1.6rem;font-weight:600}}.tile .l{{color:#666}}
table{{border-collapse:collapse;margin:.5rem 0 1.5rem}}
td,th{{border:1px solid #ddd;padding:.3rem .6rem;text-align:left}}
th{{background:#f5f5f5}}
.viz-root{{color-scheme:light;--surface-1:#fcfcfb;--text-secondary:#52514e;
  --grid:#e4e3e0;--series-1:#2a78d6;--sev-low:#0ca30c;--sev-med:#fab219;
  --sev-high:#d03b3b;background:var(--surface-1);border:1px solid #ddd;
  border-radius:8px;padding:.6rem;max-width:44rem}}
@media (prefers-color-scheme: dark){{
  :root:where(:not([data-theme="light"])) .viz-root{{color-scheme:dark;
    --surface-1:#1a1a19;--text-secondary:#c3c2b7;--grid:#3a3936;
    --series-1:#3987e5}}}}
.viz-root svg{{display:block;width:100%;height:auto}}
.viz-root .grid{{stroke:var(--grid);stroke-width:1}}
.viz-root .axis{{fill:var(--text-secondary);font-size:11px}}
.viz-root .line{{fill:none;stroke:var(--series-1);stroke-width:2}}
.viz-root .pt{{fill:var(--series-1)}}
.viz-root .sev-low{{fill:var(--sev-low)}}
.viz-root .sev-med{{fill:var(--sev-med)}}
.viz-root .sev-high{{fill:var(--sev-high)}}
.muted{{color:#666}}</style></head><body>
<h1>Anomaly Detection Dashboard</h1>
<p>Filters: {esc(filters or 'none')} &middot; limit {limit}</p>
<div class="tiles">
{tile("Total Anomalies", tiles["total_anomalies"])}
{tile("High Severity", tiles["high_severity"])}
{tile("Top Rule", f"{top_rule['name']} ({top_rule['count']})")}
{tile("Most Affected Zone", f"{top_zone['name']} ({top_zone['count']})")}
</div>
<h3>Daily anomaly trend</h3>
<div class="viz-root">{_svg_daily_trend(daily, esc)}</div>
{(f'<h3>Zone {esc(filters["zone_id"])} anomaly markers</h3>'
  f'<div class="viz-root">{_svg_zone_markers(zone_rows, esc)}</div>')
 if zone_rows is not None else ""}
{dim_table("By severity", summary["by_severity"])}
{dim_table("By rule", summary["by_rule"])}
{dim_table("By zone", summary["by_zone"])}
<h3>Recent anomalies ({len(rows)})</h3>
<table><tr>{"".join(f"<th>{c}</th>" for c in cols)}</tr>{alert_rows}</table>
</body></html>"""
        return page, 200, {"Content-Type": "text/html; charset=utf-8"}

    @app.get("/dashboard/series/daily")
    def dashboard_series_daily():
        """Daily anomaly-count series (the reference dashboard's 'Daily
        Anomaly Trend' line, src/dashboard_app.py:406-416) as JSON a
        charting client consumes; honors the same window/severity/zone
        filters as /alerts."""
        filters, _limit, err = _parse_alert_params(serving.DEFAULT_LIMIT)
        if err:
            return err
        series, err = _bounded_daily(filters)
        if err:
            return err
        return jsonify({"series": series, "total": sum(p["count"] for p in series)})

    @app.get("/dashboard/series/zones")
    def dashboard_series_zones():
        """Per-zone severity-marker series (the reference dashboard's
        time-series chart markers, src/dashboard_app.py:143-163), keyed
        by severity like its color map. Requires zone_id; limit-bounded
        like /alerts."""
        filters, limit, err = _parse_alert_params(serving.DEFAULT_LIMIT)
        if err:
            return err
        zone_id = filters.pop("zone_id", None)
        if zone_id is None:
            return jsonify({"detail": "zone_id: required"}), 422
        rows = serving.format_alerts(
            serving.zone_marker_series(anomalies, zone_id, limit=limit, **filters)
        )
        by_severity: dict[str, list[dict[str, Any]]] = {}
        for r in rows:
            by_severity.setdefault(r.pop("severity"), []).append(r)
        return jsonify({"zone_id": zone_id, "series": by_severity})

    @app.get("/alerts/summary")
    def alerts_summary():
        filters, err = _validate_window()
        if err:
            return err
        s = serving.anomaly_summary(anomalies, **filters)
        return jsonify(
            {
                "total": s["total_anomalies"],
                "by_severity": _records(s["by_severity"], "severity"),
                "by_rule": _records(s["by_rule"], "rule_name"),
                "by_zone": _records(s["by_zone"], "zone_id"),
            }
        )

    return app
