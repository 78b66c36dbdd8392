"""Edge-semantics regressions from the round-6 operator review:
null-condition runs, zero-norm cosine under ANSI, reserved scratch
columns, string-id label maps, long-diameter components, AQE-safe
partition probes, forward as-of tiebreaks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import (
    dedup,
    similarity,
    windows as W,
)
from sustainable_building_energy_benchmarking_pipeline_spark.operators.partitioning import (
    ensure_min_partitions,
)
from tests.conftest import clean_delta_log_below


# ---------------------------------------------------------------------------
# detect_runs: NULL condition rows break runs (pandas NaN-comparison parity)
# ---------------------------------------------------------------------------

def test_detect_runs_null_breaks_run(spark):
    rows = [("k", t, v) for t, v in enumerate([5.0, 5.0, None, 5.0, 5.0, 5.0])]
    df = spark.createDataFrame(rows, "k STRING, t INT, v DOUBLE")
    out = W.detect_runs(
        df, F.col("v") > 3.0, partition_by="k", order_by="t", min_run_length=3
    )
    got = sorted(r.t for r in out.collect())
    # only the 3-row run AFTER the null qualifies; the 2-row run before
    # it must NOT be inflated by the null row into a length-3 "run"
    assert got == [3, 4, 5]
    assert all(r._run_len == 3 for r in out.collect())


# ---------------------------------------------------------------------------
# cosine: zero-norm vectors score 0.0 instead of ANSI DIVIDE_BY_ZERO / NaN
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def zero_vec_corpus(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


def test_brute_force_topk_survives_zero_vector(zero_vec_corpus):
    got = {
        r.id: r.cosine_sim
        for r in similarity.brute_force_topk(
            zero_vec_corpus, [1.0, 0.0], k=3
        ).collect()
    }
    assert got[0] == pytest.approx(1.0)
    assert got[2] == 0.0  # zero vector: defined 0.0, not a crash/NaN


def test_kernel_matches_expression_on_zero_vectors(zero_vec_corpus):
    expr = similarity.brute_force_topk(zero_vec_corpus, [1.0, 0.0], k=3)
    kern = similarity.brute_force_topk_kernel(zero_vec_corpus, [1.0, 0.0], k=3)
    e = {(r.id, round(r.cosine_sim, 9)) for r in expr.collect()}
    k = {(r.id, round(r.cosine_sim, 9)) for r in kern.collect()}
    assert e == k


def test_kernel_zero_query_vector_scores_zero(zero_vec_corpus):
    got = similarity.brute_force_topk_kernel(
        zero_vec_corpus, [0.0, 0.0], k=3
    ).collect()
    assert {r.cosine_sim for r in got} == {0.0}


# ---------------------------------------------------------------------------
# reserved scratch columns: loud refusal, not silent column loss
# ---------------------------------------------------------------------------

def test_global_rank_helpers_refuse_reserved_columns(spark):
    df = spark.range(10).withColumn("_pid", F.lit(1))
    with pytest.raises(ValueError, match="_pid"):
        W.distributed_percent_rank(df, ["id"])
    df2 = spark.range(10).withColumn("_sk", F.lit(1))
    with pytest.raises(ValueError, match="_sk"):
        W.deterministic_shuffle(df2, "id")


# ---------------------------------------------------------------------------
# dedup label frames: string doc ids past the literal-map bound
# ---------------------------------------------------------------------------

def test_labels_frame_string_ids(spark):
    labels = {f"doc-{i:05d}": f"doc-{(i // 2) * 2:05d}" for i in range(5000)}
    frame = dedup._labels_frame(spark, labels)
    assert frame.count() == 5000
    row = frame.filter(F.col("id") == "doc-00001").first()
    assert row.component == "doc-00000"


def test_labels_frame_int_ids(spark):
    labels = {i: (i // 2) * 2 for i in range(5000)}
    frame = dedup._labels_frame(spark, labels)
    assert frame.schema["id"].dataType.simpleString() == "bigint"
    assert frame.filter(F.col("id") == 3).first().component == 2


# ---------------------------------------------------------------------------
# connected_components: long-diameter chains converge (pointer jumping),
# and the iteration cap fails loudly instead of fragmenting clusters
# ---------------------------------------------------------------------------

def test_connected_components_long_path_converges(spark):
    n = 300  # diameter 299 ≫ the 20-round cap: needs pointer jumping
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    comps = dedup.connected_components(pairs)
    assert {r.component for r in comps.collect()} == {0}
    assert comps.count() == n


def test_connected_components_raises_at_cap(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=1)


# ---------------------------------------------------------------------------
# q26 exact dedup: NULL-text rows, Spark vs its DuckDB oracle
# ---------------------------------------------------------------------------

def test_q26_null_text_rows_match_oracle(spark, tmp_path):
    """Both engines hash NULL text to NULL, so every NULL-text document
    lands in ONE hash group (see ``Q26_SQL``): Spark and the DuckDB
    oracle agree on a corpus with two NULL texts and one duplicate."""
    import duckdb

    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import (
        QUERIES,
    )
    from tests.oracle import normalize_result

    docs = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [
            (i, t, "en", "web", len(t or ""))
            for i, t in [
                (1, "same text"), (2, "same text"), (3, None), (4, None), (5, "other"),
            ]
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT",
    ).coalesce(1).write.parquet(docs)
    spec = QUERIES["q26_exact_dedup"]
    got = spec.fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}/*.parquet'")
        cur = con.execute(spec.sql)
        want = normalize_result([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    assert normalize_result(list(got[0].asDict()), [tuple(r) for r in got]) == want
    # three hash groups (the duplicate, the NULLs, "other"), two removed
    assert (got[0].n_unique, got[0].n_duplicates_removed) == (3, 2)


# ---------------------------------------------------------------------------
# ensure_min_partitions: never finalizes an AQE plan with exchanges
# ---------------------------------------------------------------------------

def test_ensure_min_partitions_leaves_shuffled_plans_alone(spark):
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    # identity return — no repartition node added, no stage executed
    assert ensure_min_partitions(agg, 64) is agg


def test_ensure_min_partitions_parallelizes_local_frame(spark):
    one = spark.createDataFrame([(i,) for i in range(10)], "id LONG").coalesce(1)
    out = ensure_min_partitions(one, 4)
    assert out.rdd.getNumPartitions() == 4


# ---------------------------------------------------------------------------
# PII phone pattern: digit-count discriminator (dates are not phones)
# ---------------------------------------------------------------------------

def test_phone_pattern_spares_dates_keeps_phones(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.functions import text as TXT

    rows = [
        ("meeting on 2026-08-15 at noon",),          # ISO date: 8 digits
        ("call 555-867-5309 or +1-555-0123 now",),   # real phones
        ("order id 000000123 shipped",),             # 9-digit run: masked
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [r.r for r in df.select(TXT.redact_pii(F.col("t")).alias("r")).collect()]
    assert got[0] == "meeting on 2026-08-15 at noon"
    assert got[1] == "call [PHONE] or [PHONE] now"
    assert got[2] == "order id [PHONE] shipped"


# ---------------------------------------------------------------------------
# isolation forest: psi=1 degenerate sub-forests stay finite / get dropped
# ---------------------------------------------------------------------------

def test_iforest_single_row_fit_scores_finite():
    import numpy as np

    from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
        EnsembleIsolationForest,
        NumpyIsolationForest,
    )

    rng = np.random.RandomState(0)
    lone = NumpyIsolationForest(n_estimators=8).fit(np.array([[1.0, 2.0]]))
    X = rng.normal(size=(50, 2))
    assert np.isfinite(lone._anomaly_score(X)).all()
    real = NumpyIsolationForest(n_estimators=8).fit(rng.normal(size=(200, 2)))
    ens = EnsembleIsolationForest([lone, real])
    assert np.isfinite(ens._anomaly_score(X)).all()


def test_train_distributed_survives_singleton_partitions(spark):
    import numpy as np

    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        IsolationForestDetector,
    )

    det = IsolationForestDetector(n_estimators=16)
    det.feature_cols = ["f1", "f2"]
    rows = [(float(i % 7), float(i % 5)) for i in range(6)]
    df = spark.createDataFrame(rows, "f1 double, f2 double")
    det.train_distributed(df, normal_only=False, num_partitions=8)
    assert np.isfinite(det.model.threshold_)


# ---------------------------------------------------------------------------
# read_jdbc: partition quartet validated at the call site
# ---------------------------------------------------------------------------

def test_read_jdbc_requires_bounds(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import io as sio

    with pytest.raises(ValueError, match="lower_bound"):
        sio.read_jdbc(spark, "jdbc:derby:x", "SELECT 1", partition_column="id")


# ---------------------------------------------------------------------------
# anomaly_summary: NULL dim values stay in their breakdown (grouping_id)
# ---------------------------------------------------------------------------

def test_anomaly_summary_counts_null_groups(spark):
    import datetime as dt

    from sustainable_building_energy_benchmarking_pipeline_spark.plans import serving

    rows = [
        (dt.datetime(2024, 1, 1, h), "z1", "temp_drift", sev, 1.0)
        for h, sev in enumerate(["high", "high", None, "low"])
    ]
    df = spark.createDataFrame(
        rows, "timestamp TIMESTAMP, zone_id STRING, rule_name STRING, severity STRING, score DOUBLE"
    )
    s = serving.anomaly_summary(df)
    assert s["total_anomalies"] == 4
    # the null-severity anomaly is a group, not a dropped row
    assert sum(s["by_severity"].values()) == 4
    assert s["by_severity"][None] == 1
    assert sum(s["by_rule"].values()) == 4


# ---------------------------------------------------------------------------
# SVG scaling: the axis label and the mark scale agree for vmax < 1
# ---------------------------------------------------------------------------

def test_svg_xy_matches_axis_for_fractional_vmax():
    from sustainable_building_energy_benchmarking_pipeline_spark import api

    _x, y_top = api._xy(0, 1, 0.65, 0.65)
    assert y_top == api._PAD_T  # max value renders at the top of the chart


# ---------------------------------------------------------------------------
# export: fallback row numbers come from the distributed rank, no window
# ---------------------------------------------------------------------------

def test_resolve_building_records_no_global_window(spark):
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.export import (
        resolve_building_records,
    )

    df = spark.createDataFrame(
        [(float(60 + i),) for i in range(7)], "energy_intensity DOUBLE"
    )
    out = resolve_building_records(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # the old form was a single-task global sort
    ids = sorted(r.building_id for r in out.collect())
    assert len(set(ids)) == 7 and all(i.startswith("BLD-") for i in ids)


# ---------------------------------------------------------------------------
# deltalog: log-maintenance and concurrency edges (fourth review batch)
# ---------------------------------------------------------------------------

def _dl():
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    return dl


def test_cleanup_log_keeps_replay_base(spark, tmp_path):
    """Versions BELOW the newest checkpoint stay readable after a log
    cleanup that kept their replay base: each replays from the newest
    checkpoint at-or-below it plus the JSON commits after it."""
    dl = _dl()
    path = str(tmp_path / "t")
    for i in range(25):  # auto-checkpoints every CHECKPOINT_INTERVAL
        dl.write_delta(spark.range(i * 10, i * 10 + 3), path, mode="append")
    latest = 24
    # a 10-version retention window (boundary = 15) keeps the
    # checkpoint at 10, its replay base
    clean_delta_log_below(path, 10)
    # oldest retained version (boundary = 15) replays correctly
    for v in (latest - 9, latest - 5, latest):
        assert dl.read_delta(spark, path, version=v).count() == (v + 1) * 3
    # versions below the boundary are cleaned (descriptive error)
    with pytest.raises(ValueError, match="not in table history|predates|cleaned"):
        dl.read_delta(spark, path, version=3).count()


def test_optimize_zorder_date_column(spark, tmp_path):
    dl = _dl()
    path = str(tmp_path / "t")
    df = spark.range(40).selectExpr(
        "id", "date_add(date'2024-01-01', cast(id % 7 as int)) AS d"
    )
    dl.write_delta(df, path)
    dl.optimize_delta(spark, path, target_files=2, zorder_by=["d"])
    assert dl.read_delta(spark, path).count() == 40


def test_optimize_commits_no_empty_files(spark, tmp_path):
    import json as _json

    dl = _dl()
    path = str(tmp_path / "t")
    # constant z-values collapse into ONE range partition; target 8
    df = spark.range(50).selectExpr("id", "42 AS k")
    dl.write_delta(df, path)
    dl.optimize_delta(spark, path, target_files=8, zorder_by=["k"])
    active, _schema, _p, _m = dl._replay(path, dl._list_versions(path)[-1])
    for add in active.values():
        stats = add.get("stats")
        assert stats and _json.loads(stats)["numRecords"] > 0
    assert dl.read_delta(spark, path).count() == 50


def test_sequence_pack_greedy_semantics(spark):
    """Round-10 sequence packing: next-fit fill in order, overflow opens
    the next bin, an oversize row owns its bin, bins are per-group and
    1-based, and the result is deterministic across repartitionings."""
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        sequence_pack,
    )

    rows = [
        ("a", 1, 60), ("a", 2, 30), ("a", 3, 20),   # 60+30 fit; +20 overflows
        ("a", 4, 500),                                # oversize: own bin
        ("a", 5, 10),
        ("b", 1, 100),                                # fresh numbering per group
    ]
    df = spark.createDataFrame(rows, "g string, i long, t long")
    got = {
        (r["g"], r["i"]): r["bin_id"]
        for r in sequence_pack(df, "g", "i", "t", budget=100).collect()
    }
    assert got == {
        ("a", 1): 1, ("a", 2): 1, ("a", 3): 2, ("a", 4): 3, ("a", 5): 4,
        ("b", 1): 1,
    }
    again = {
        (r["g"], r["i"]): r["bin_id"]
        for r in sequence_pack(
            df.repartition(7), "g", "i", "t", budget=100
        ).collect()
    }
    assert again == got
    # composite group key = the finer-sharding lever for mega groups
    two = sequence_pack(df, ["g", "i"], "i", "t", budget=100)
    assert all(r["bin_id"] == 1 for r in two.collect())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        sequence_pack(df, "g", "i", "t", budget=0)
    # review r10: duplicate order keys would pack in nondeterministic
    # arrival order — must refuse, not silently wobble
    dup = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20)], "g string, i long, t long"
    )
    with _pytest.raises(Exception, match="duplicate"):
        sequence_pack(dup, "g", "i", "t", budget=100).collect()
