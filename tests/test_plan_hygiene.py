"""Physical-plan regression gates: catches scale anti-patterns the
moment a refactor reintroduces them, instead of waiting for a 100×
corpus to expose the single task.

The one hard rule here is the W9 lesson (round 1's only perf_weak):
``Window.orderBy(...)`` with no partition key plans as
Exchange SinglePartition → Window, funneling the entire input through
ONE task. Global aggregates and final LIMIT merges legitimately use
SinglePartition (their reduced input is tiny); a Window over it is the
anti-pattern.

Four more gates ride along: ``/alerts/summary`` runs as one uncached
action; every package module must have an importer outside
``tests/``, or an allowlisted reason to be kept; every top-level
package function and class must be reached from code outside
``tests/``, or have an allowlisted reason to be kept; and deltalog's
copy-on-write rewrite stages (``_move_staged_adds``,
``_rt_stamp_stable``, ``_row_tracking_rewrite_mode``) each have exactly
one call site, so write/DELETE/UPDATE/OPTIMIZE share one path.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _single_partition_window(plan: str) -> bool:
    """True when a Window operator consumes an Exchange SinglePartition
    (scanning upward from each Window line past Sort/Project barriers)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(Group)?Exec\b|\+- Window |^Window ", line) or (
            "Window " in line and "windowspecdefinition" in line
        ):
            for j in range(i + 1, min(i + 4, len(lines))):
                nxt = lines[j]
                if "Exchange SinglePartition" in nxt:
                    return True
                # anything other than the sort/project feeding the window
                # breaks the chain
                if "Exchange hashpartitioning" in nxt or "Scan" in nxt:
                    break
    return False


# Queries whose single-partition window input is aggregate OUTPUT
# bounded by a VALUE DOMAIN (not by corpus row count) — the one task
# holds at most |domain| tiny rows at any scale, while the raw table
# never meets a window. Mirror of _TINY_INPUT_ENUM_WINDOW_OK below;
# every entry needs the boundedness argument in the query docstring.
_TINY_INPUT_GLOBAL_WINDOW_OK = {
    # running sum over DISTINCT 6-dp-rounded nll scores (bounded by the
    # score decimal domain — nll concentrates in a few nats); the corpus
    # itself is aggregated twice before this frame exists
    "z11_lm_perplexity_tiers",
    # UniMax waterfall windows over the per-LANGUAGE token aggregate —
    # bounded by language cardinality (an enum domain); the corpus is
    # consumed by one map-side-combined aggregate before any window
    "z21_unimax_budget",
    # KS cumulative over the per-LENGTH corpus aggregate — bounded by
    # the length value domain; the corpus is consumed by one
    # (source, length) aggregate before any window
    "z23_length_drift",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_single_partition_window(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in _TINY_INPUT_GLOBAL_WINDOW_OK:
        # weaker targeted gate instead of a skip (round-7 advice): each
        # single-partition window must consume AGGREGATE output — an
        # aggregate appears in its child chain before any scan. A
        # refactor that re-points the window at the raw corpus would
        # pass a skip silently.
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window " not in line and "WindowExec" not in line:
                continue
            ok = False
            for nxt in lines[i + 1 :]:
                if re.search(r"(Hash|Sort|Object.*)Aggregate", nxt):
                    ok = True
                    break
                if "Scan" in nxt:
                    break
            assert ok, (
                f"{name} is allowlisted for a value-domain-bounded "
                "global window but the window's input chain reaches a "
                "scan before any aggregate — the boundedness argument "
                "no longer holds"
            )
        return
    assert not _single_partition_window(plan), (
        f"{name} plans a Window over Exchange SinglePartition — "
        "the whole input funnels through one task; partition the window, "
        "use the two-pass distributed form (operators.windows."
        "distributed_percent_rank / stratified_cumsum), or — ONLY if the "
        "window input is a provably value-domain-bounded aggregate — "
        "annotate it in _TINY_INPUT_GLOBAL_WINDOW_OK with justification"
    )


# --- skewed-stratum window gate (round 6) -------------------------------
#
# The q53/z05 lesson: a Window whose ENTIRE partition key is a fixed-
# cardinality enum (lang, event_type, o_orderstatus, ...) is the
# single-partition anti-pattern reappearing via skew — a window
# partition cannot be split across tasks, so the dominant enum value
# (≈half a 100 TB crawl for `lang='en'`) ranks in ONE task no matter
# how many executors exist. Composite keys that include a scaling
# column (_pid, _mb, user_id, zone...) are fine; windows over TINY
# aggregates are fine but must be annotated below.

# enum-typed columns in the test tables (and their direct derivations)
# whose cardinality does NOT grow with data volume
_ENUM_COLS = {
    "lang",
    "event_type",
    "prev_type",
    "curr_type",
    "o_orderstatus",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "c_mktsegment",
    "r_name",
    "n_name",
    "label",
    "source",
}

# Queries whose enum-partitioned window is over a PROVABLY tiny input
# (a prior aggregate bounded by enum-cardinality²), with justification:
_TINY_INPUT_ENUM_WINDOW_OK = {
    "q83_event_transitions",  # normalizer over the ≤25-row prev→curr aggregate
    "q87_wow_growth",         # lag over the ~#types×#weeks weekly aggregate
    # per-source KS cumulative over the support GRID — an aggregate
    # bounded by |sources| × |length domain|, never the corpus
    "z23_length_drift",
}

_WINDOW_LINE = re.compile(r"\bWindow \[.*\], \[([^\[\]]*)\], \[[^\[\]]*\]")
_GROUP_LIMIT_PARTIAL = re.compile(r"\bWindowGroupLimit \[([^\[\]]*)\],.*Partial")
_ATTR = re.compile(r"(\w+)#\d+")


def _enum_only_windows(plan: str) -> list[str]:
    """Partition specs of Window operators whose partition columns are
    ALL fixed-cardinality enums (empty list = plan is skew-clean).

    A Window fed by a PARTIAL ``WindowGroupLimit`` (Spark's rank-limit
    pushdown for ``row_number() <= k`` filters) is exempt: each map task
    forwards only its local top-k per group, so the reduce-side window
    input is bounded by k × map-partitions regardless of skew."""
    pushed = {
        frozenset(_ATTR.findall(m.group(1)))
        for m in _GROUP_LIMIT_PARTIAL.finditer(plan)
    }
    hits = []
    for line in plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        cols = _ATTR.findall(m.group(1))
        if (
            cols
            and all(c in _ENUM_COLS for c in cols)
            and frozenset(cols) not in pushed
        ):
            hits.append(", ".join(cols))
    return hits


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_skewed_enum_window(spark, name):
    if name in _TINY_INPUT_ENUM_WINDOW_OK:
        pytest.skip("annotated tiny-aggregate enum window")
    df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = _enum_only_windows(plan)
    assert not hits, (
        f"{name} plans a Window partitioned ONLY by fixed-cardinality "
        f"enum column(s) {hits} — the dominant value funnels through one "
        "task at scale. Use operators.windows.stratified_rank/"
        "stratified_cumsum, an aggregation-based top-k (q92/q93 shape), "
        "or a frame-overlap partition split (q95 shape); if the window "
        "input is a provably tiny aggregate, annotate it in "
        "_TINY_INPUT_ENUM_WINDOW_OK with justification."
    )


def test_skew_gate_catches_full_table_enum_rank(spark):
    """Seeded regression: z05's ORIGINAL window form — a full-table
    per-lang row_number whose limit is data-dependent (so rank-limit
    pushdown CANNOT bound it) — must be flagged by the detector."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.asc("doc_id")
    )
    bad = docs.withColumn("_rk", F.row_number().over(w))
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert _enum_only_windows(plan), (
        "detector failed to flag a full-table enum-partitioned window"
    )


def test_skew_gate_exempts_rank_limit_pushdown(spark):
    """A constant ``row_number() <= k`` filter plans a Partial
    WindowGroupLimit — bounded reduce input, must NOT be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = Window.partitionBy("lang").orderBy("doc_id")
    ok = docs.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= 3)
    plan = ok._jdf.queryExecution().executedPlan().toString()
    assert not _enum_only_windows(plan)


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# each crossJoins a SINGLE-ROW broadcast global-stats frame (corpus size,
# global min/max) — a 1×N nested loop is a constant attach, not a join.
_SINGLE_ROW_CROSSJOIN_OK = {
    "q51_bm25_search",        # broadcast 1-row corpus stats
    "q68_value_histogram",    # broadcast 1-row global min/max
    "q77_tfidf_terms",        # broadcast 1-row document count
    "q98_source_mix_weights", # broadcast 1-row mix normalizer
    "z05_temperature_sample", # broadcast 1-row √n normalizer + O(#strata) targets
    "z11_lm_perplexity_tiers", # broadcast 1-row corpus total / doc count / terciles
    "z12_source_kl_drift",    # broadcast 1-row corpus token total
    "z13_dsir_importance",    # broadcast 1-row target/raw totals onto 256 buckets
    "z21_unimax_budget",      # broadcast 1-row total-budget + pivot attaches
    "z23_length_drift",       # length-support grid (|sources|x|len domain| aggregate frames) + 1-row n_all
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_quadratic_joins(spark, name):
    """No registry query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin only for allowlisted single-row constant
    attaches — anything else is the O(|L|·|R|) trap that a range/fuzzy
    predicate silently plans when its equi-join decomposition regresses."""
    df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in _SINGLE_ROW_CROSSJOIN_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin on non-trivial inputs — "
            "decompose the predicate into an equi-join (banding, binning, "
            "deletion variants) or broadcast a true single-row frame"
        )


# --- unbounded-following frame gate -------------------------------------
#
# Spark recomputes a frame that runs to UNBOUNDED FOLLOWING from each
# row to the partition's end — O(n²) per window partition. The HVAC
# ETL's backward fill once spent about 14 s of a 27 s pipeline run there
# (30 days × 2 zones, 4 vCPUs). Look-ahead fills run as a growing frame
# over the reversed order instead (operators.windows.bfill).

_FOLLOWING_FRAME = "specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$())"


def _hvac_features(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.hvac import (
        run_feature_pipeline,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.generators import (
        generate_hvac_data,
    )

    return run_feature_pipeline(generate_hvac_data(spark, days=1, n_zones=2))


def _asof(spark, direction):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "u", 10)], "lid INT, k STRING, ts INT")
    right = spark.createDataFrame([(7, "u", 12)], "rid INT, k STRING, ts INT")
    return asof_join(left, right, on="ts", by=["k"], direction=direction)


# package operators whose look-ahead no registry query exercises
_OPERATOR_PLANS = {
    "run_feature_pipeline": _hvac_features,
    "asof_join:forward": lambda spark: _asof(spark, "forward"),
    "asof_join:nearest": lambda spark: _asof(spark, "nearest"),
}


@pytest.mark.parametrize("name", [*sorted(QUERIES), *_OPERATOR_PLANS])
def test_no_unbounded_following_row_frame(spark, name):
    if name in _OPERATOR_PLANS:
        df = _OPERATOR_PLANS[name](spark)
    else:
        df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _FOLLOWING_FRAME not in plan, (
        f"{name} plans a (currentRow, unboundedFollowing) row frame — "
        "Spark re-aggregates it per row, O(n²) per partition; use "
        "operators.windows.bfill (last(ignorenulls) over the reversed order)"
    )


def test_following_frame_gate_catches_first_over_following(spark):
    """Seeded regression: the old bfill form — first(ignorenulls) over
    rowsBetween(currentRow, unboundedFollowing) — must be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("zone_id").orderBy("timestamp")
    bad = _hvac_features(spark).withColumn(
        "_next",
        F.first("power_kw", ignorenulls=True).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert _FOLLOWING_FRAME in plan, "gate failed to flag the quadratic frame"


# ---------------------------------------------------------------------------
# /alerts/summary: one uncached action per request
# ---------------------------------------------------------------------------


def test_anomaly_summary_is_one_uncached_action(spark, tmp_path, monkeypatch):
    """The summary's GROUPING SETS, grand total included, is ONE action:
    with AQE that is the shuffle map stage's job plus the result job. A
    per-request ``cache()`` of the filtered base costs a build job pair
    and a global CacheManager edit on every request, so caching fails
    the gate whether or not it is released afterwards."""
    import uuid

    from sustainable_building_energy_benchmarking_pipeline_spark.plans import serving

    rows = [
        (h % 24, f"Z{h % 12}", ("temp_drift", "clogged_filter")[h % 2], ("low", "medium", "high", None)[h % 4])
        for h in range(96)
    ]
    path = str(tmp_path / "anomalies")
    spark.createDataFrame(rows, "h INT, zone_id STRING, rule_name STRING, severity STRING").selectExpr(
        "TIMESTAMP'2024-01-01 00:00:00' + make_dt_interval(0, h) AS timestamp", "*"
    ).repartition(3).write.parquet(path)
    anomalies = spark.read.parquet(path)  # uncached, as ``serve`` passes it

    def refuse(self, *args, **kwargs):
        raise AssertionError("anomaly_summary cached a DataFrame")

    monkeypatch.setattr(type(anomalies), "cache", refuse)
    monkeypatch.setattr(type(anomalies), "persist", refuse)
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = f"summary-gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "anomaly_summary plan-shape gate")
    try:
        s = serving.anomaly_summary(anomalies, start_time="2024-01-01 06:00:00")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert s["total_anomalies"] == 72
    assert sum(s["by_severity"].values()) == 72
    assert len(jobs) <= 2, f"anomaly_summary ran {len(jobs)} jobs: {sorted(jobs)}"
    assert sc._jsc.getPersistentRDDs().size() == persisted


# ---------------------------------------------------------------------------
# Structural gate: no package module whose only importers are tests
# ---------------------------------------------------------------------------

_PKG = "sustainable_building_energy_benchmarking_pipeline_spark"

# Modules kept without a non-test importer, each with its reason.
_TEST_ONLY_MODULE_OK = {
    # PAPER.md: the reference has no streams and Structured Streaming is
    # an extension; the streaming HVAC detector waits for the
    # detection-latency workload (ROADMAP item 5) that will call it
    "streaming.hvac_stream",
}


def _imported_modules(tree, modules: set[str]) -> set[str]:
    """Dotted package modules named by the imports in ``tree`` at any
    nesting depth: ``import a.b.c``, ``from a.b import c`` (a submodule)
    and ``from a.b.c import name``."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out & modules


def _non_test_sources(root: pathlib.Path) -> list[pathlib.Path]:
    """The files of every entry point: the package (its CLI included),
    bench.py, __spark_entry__, scripts/ and perfbench/."""
    return [
        *(root / _PKG).rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
        *(root / "scripts").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
    ]


def _non_test_importers() -> dict[str, set[str]]:
    """Every package module (package ``__init__``/``__main__`` aside)
    mapped to the non-test files that import it."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / _PKG
    modules = {
        ".".join(p.relative_to(root).with_suffix("").parts)
        for p in pkg.rglob("*.py")
        if p.stem not in ("__init__", "__main__")
    }
    importers: dict[str, set[str]] = {m: set() for m in modules}
    for src in _non_test_sources(root):
        name = ".".join(src.relative_to(root).with_suffix("").parts)
        for mod in _imported_modules(ast.parse(src.read_text()), modules):
            if mod != name:
                importers[mod].add(name)
    return importers


def test_every_package_module_has_a_non_test_importer():
    """A package module that only tests import is dead weight: it costs
    reading and upkeep and serves no entry point (the package, its CLI,
    bench.py, __spark_entry__, scripts/ or perfbench/)."""
    importers = _non_test_importers()
    allowed = {f"{_PKG}.{m}" for m in _TEST_ONLY_MODULE_OK}
    assert allowed <= importers.keys(), "allowlist names a missing module"
    orphans = sorted(m for m, by in importers.items() if not by and m not in allowed)
    assert not orphans, f"package modules with no non-test importer: {orphans}"
    stale = sorted(m for m in allowed if importers[m])
    assert not stale, f"allowlisted modules that now have importers: {stale}"


# ---------------------------------------------------------------------------
# Structural gate: no package function or class that only tests reach
# ---------------------------------------------------------------------------

_HVAC_STREAM_REASON = (
    "streaming HVAC detector: ROADMAP item 5's detection-latency workload "
    "is its planned caller"
)

# Top-level package definitions ("<module>:<name>", module relative to
# the package) kept without a non-test caller, each with its reason.
_TEST_ONLY_OK = {
    "sources.deltalog:verify_version_checksum": (
        "safety code: the check on the .crc checksum every commit writes; "
        "tests run it after every random operation to prove the stored "
        "table state matches a fresh replay"
    ),
    "functions.text:language_scores": (
        "the expression reference the q29 language kernel is compared "
        "against (tests/test_language_kernel.py)"
    ),
    "functions.text:language_argmax": (
        "the expression reference the q29 language kernel is compared "
        "against (tests/test_language_kernel.py)"
    ),
    "operators.similarity:brute_force_topk": (
        "the exact top-k the ANN recall tests measure against"
    ),
    "sources.io:read_jdbc": (
        "parity with the reference's PostgreSQL layer (src/db.py, "
        "MIGRATION.md)"
    ),
    "sources.io:write_jdbc": (
        "parity with the reference's PostgreSQL sink (src/db.py, "
        "MIGRATION.md)"
    ),
    "plans.benchmarking:portfolio_totals": (
        "paper surface: medallion A4 portfolio totals "
        "(notebooks/benchmarking_medallion.py:256-261)"
    ),
    "plans.benchmarking:benchmark_buildings_df": (
        "paper surface: batch scoring of a buildings frame"
    ),
    "plans.export:validate_export_document": (
        "paper surface: the export document's schema check"
    ),
    "streaming.hvac_stream:read_sensor_stream": _HVAC_STREAM_REASON,
    "streaming.hvac_stream:windowed_zone_stats": _HVAC_STREAM_REASON,
    "streaming.hvac_stream:_compute_features": _HVAC_STREAM_REASON,
    "streaming.hvac_stream:stateful_anomaly_stream": _HVAC_STREAM_REASON,
    "streaming.hvac_stream:write_anomaly_stream": _HVAC_STREAM_REASON,
}

def _referenced_names(tree: ast.AST) -> set[str]:
    """Every name ``tree`` loads, reads as an attribute or imports, and
    every string constant that is an identifier (names looked up by
    string: ``getattr``, registry keys)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.add(node.value)
    return out


def _package_unreached() -> set[str]:
    """``module:name`` of every top-level function and class in the
    package that no entry point reaches.

    Seeds: the names referenced by each package module's top-level
    statements other than definitions and imports (an import names a
    definition without using it), plus every name the entry-point files
    outside the package reference. Closure: the names each reached
    definition references. Names resolve by identifier across modules,
    so a definition is reached as soon as reached code names it."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / _PKG
    defs: dict[str, ast.AST] = {}
    by_name: dict[str, set[str]] = {}
    seeds: set[str] = set()
    for path in pkg.rglob("*.py"):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}:{node.name}"] = node
                by_name.setdefault(node.name, set()).add(f"{mod}:{node.name}")
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seeds |= _referenced_names(node)
    for src in _non_test_sources(root):
        if not src.resolve().is_relative_to(pkg):
            seeds |= _referenced_names(ast.parse(src.read_text()))

    def named(names: set[str]) -> set[str]:
        return {key for n in names for key in by_name.get(n, ())}

    todo, reached = named(seeds), set()
    while todo:
        key = todo.pop()
        reached.add(key)
        todo |= named(_referenced_names(defs[key])) - reached
    return defs.keys() - reached


def test_every_package_function_is_reached_from_non_test_code():
    """A package function or class that only tests reach is a feature
    no entry point (the package's registry and CLI, bench.py,
    __spark_entry__, scripts/, perfbench/) uses: it costs reading,
    upkeep and test time. Delete it, give it a caller, or allowlist it
    with a reason."""
    unreached = _package_unreached()
    assert all(_TEST_ONLY_OK.values()), "every allowlist entry needs a reason"
    orphans = sorted(unreached - _TEST_ONLY_OK.keys())
    assert not orphans, f"package definitions only tests reach: {orphans}"
    stale = sorted(_TEST_ONLY_OK.keys() - unreached)
    assert not stale, f"allowlisted definitions now reached or gone: {stale}"


# ---------------------------------------------------------------------------
# Structural gate: one copy-on-write rewrite path in deltalog
# ---------------------------------------------------------------------------

# Stages of the copy-on-write rewrite that write_delta, DELETE, UPDATE
# and OPTIMIZE share through one helper each; a second call site
# means a writer grew its own copy of the stage again.
_ONE_CALL_SITE = ("_move_staged_adds", "_rt_stamp_stable", "_row_tracking_rewrite_mode")


def _call_sites(tree: ast.Module, names) -> dict[str, list[str]]:
    """Each name in ``names`` mapped to the top-level functions of
    ``tree`` that call it, once per call."""
    sites: dict[str, list[str]] = {n: [] for n in names}
    for top in tree.body:
        if not isinstance(top, ast.FunctionDef):
            continue
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in sites
            ):
                sites[node.func.id].append(top.name)
    return sites


def test_deltalog_rewrite_stages_have_one_call_site():
    """Staging walk, row-id preservation and the row-tracking rewrite
    gate are each called from exactly one place in deltalog, so a fix
    to one of them reaches every writer."""
    root = pathlib.Path(__file__).resolve().parent.parent
    tree = ast.parse((root / _PKG / "sources" / "deltalog.py").read_text())
    sites = _call_sites(tree, _ONE_CALL_SITE)
    extra = {n: sorted(by) for n, by in sites.items() if len(by) != 1}
    assert not extra, f"deltalog rewrite stages without exactly one call site: {extra}"
