"""IO layer tests (SURVEY §2.1): round-trips, alias coalescing, JDBC,
and the Delta transaction-log protocol (sources/deltalog.py)."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import clean_delta_log_below, long_suite, txn_versions
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sustainable_building_energy_benchmarking_pipeline_spark.session import DELTA_ACTIONS
from sustainable_building_energy_benchmarking_pipeline_spark.sources import io as sio

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("x", T.DoubleType(), True),
])


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, -0.5)], schema=SCHEMA
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_round_trip(spark, small_df, tmp_path, fmt):
    path = str(tmp_path / f"t.{fmt}")
    sio.write_table(small_df, path, fmt=fmt)
    back = sio.read_table(spark, path, schema=SCHEMA, fmt=fmt)
    assert back.count() == 3
    assert [f.name for f in back.schema.fields] == ["id", "name", "x"]
    assert {r["id"] for r in back.collect()} == {1, 2, 3}


def test_partitioned_write_prunes(spark, small_df, tmp_path):
    path = str(tmp_path / "part.parquet")
    sio.write_table(small_df.withColumn("bucket", F.col("id") % 2), path,
                    partition_by=["bucket"])
    back = sio.read_table(spark, path)
    pruned = back.filter(F.col("bucket") == 1)
    assert pruned.count() == 2
    # the bucket predicate must be a partition filter on the scan, not a
    # post-scan data filter
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "extended"
    ) if hasattr(pruned, "_jdf") else ""
    if plan:
        physical = plan.split("== Physical Plan ==")[-1]
        assert "PartitionFilters" in physical
        assert "Filter (bucket" not in physical


def test_coalesce_aliases(spark):
    df = spark.createDataFrame(
        [(1, None, 10.0), (2, "n2", None)],
        schema="building_id long, name string, energy_kwh double",
    )
    out = sio.coalesce_aliases(
        df,
        {
            "id": ["building_id", "bld_id"],
            "name": ["display_name", "name"],
            "energy": ["energy", "energy_kwh"],
            "rating": ["rating"],
        },
        defaults={"energy": 0.0, "rating": "unknown"},
    )
    rows = {r["id"]: r for r in out.collect()}
    assert out.columns == ["id", "name", "energy", "rating"]
    assert rows[1]["name"] is None and rows[2]["name"] == "n2"
    assert rows[2]["energy"] == 0.0  # null → default
    assert rows[1]["rating"] == "unknown"  # absent column → default


def test_union_missing_columns_pads_null(spark):
    """U2: unionByName(allowMissingColumns=True) pads absent columns with
    NULL on the side that lacks them."""
    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(2, 3.5)], "id long, b double")
    u = a.unionByName(b, allowMissingColumns=True)
    rows = {r["id"]: r for r in u.collect()}
    assert set(u.columns) == {"id", "a", "b"}
    assert rows[1]["b"] is None and rows[2]["a"] is None


def _derby_available() -> bool:
    import glob as _glob
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(_glob.glob(os.path.join(jars, "derby-*.jar")))


@pytest.mark.skipif(not _derby_available(), reason="no embedded Derby jar")
def test_jdbc_roundtrip_derby(spark, tmp_path):
    """S4/S12 against a real database: batched write to embedded Derby,
    plain read back, and a range-partitioned parallel read (the scale
    path — Spark requires the dbtable-subquery form for partitioning;
    identifiers are quoted because Spark creates case-preserved quoted
    columns that case-folding databases won't resolve unquoted)."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    sio.write_jdbc(df, url, "t1", mode="overwrite", batch_size=32, properties=props)

    back = sio.read_jdbc(spark, url, 'SELECT "id", "v" FROM t1', properties=props)
    assert back.count() == 100

    part = sio.read_jdbc(
        spark, url, 'SELECT "id", "v" FROM t1', properties=props,
        partition_column='"id"', lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert sorted(r["v"] for r in part.collect()) == [2 * i for i in range(100)]

    # append mode accumulates (the reference's executemany-append path)
    sio.write_jdbc(df.limit(10), url, "t1", mode="append", properties=props)
    assert sio.read_jdbc(spark, url, 'SELECT "id" FROM t1', properties=props).count() == 110


def test_versioned_table_time_travel(spark, tmp_path):
    """Versioned writes on the Delta log: time travel across an append
    chain between overwrites, and snapshot isolation — data files no
    commit names are invisible to readers."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "tbl")
    v0 = dl.write_delta(spark.range(5), path, mode="overwrite")
    v1 = dl.write_delta(spark.range(5, 8), path, mode="append")       # +3
    v2 = dl.write_delta(spark.range(100, 102), path, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    assert dl.read_delta(spark, path).count() == 2                     # latest
    assert dl.read_delta(spark, path, version=0).count() == 5
    assert dl.read_delta(spark, path, version=1).count() == 8
    got = {r.id for r in dl.read_delta(spark, path, version=1).collect()}
    assert got == set(range(8))

    hist = dl.delta_history(path)
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert hist[2]["mode"] == "OVERWRITE"

    # parquet files written into the table dir without a commit are
    # invisible to readers
    spark.range(50).coalesce(1).write.mode("append").parquet(path)
    assert dl.read_delta(spark, path).count() == 2


def test_orc_roundtrip(spark, tmp_path, small_df):
    """S-format dispatch covers ORC (bundled in Spark natively)."""
    p = str(tmp_path / "t.orc")
    sio.write_table(small_df, p)
    back = sio.read_table(spark, p)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in small_df.collect()}


def test_csv_malformed_row_handling(spark, tmp_path_factory):
    """Corrupt-input policy on CSV scans: PERMISSIVE captures the raw bad
    line in the corrupt-record column and nulls unparsable fields;
    DROPMALFORMED removes the row entirely — the 100 TB ingestion choice
    between auditability and clean-feed simplicity."""
    from pyspark.sql import types as T

    from sustainable_building_energy_benchmarking_pipeline_spark.sources.io import read_table

    base = tmp_path_factory.mktemp("csv_malformed")
    p = base / "rows.csv"
    p.write_text("id,val\n1,10.5\nnot_an_int,oops,extra\n3,2.5\n")

    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("val", T.DoubleType(), True),
        T.StructField("_corrupt", T.StringType(), True),
    ])
    permissive = read_table(
        spark, str(p), schema=schema, fmt="csv",
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt",
    ).cache()
    assert permissive.count() == 3
    bad = permissive.filter(F.col("_corrupt").isNotNull()).collect()
    assert len(bad) == 1 and "not_an_int" in bad[0]["_corrupt"]

    dropped = read_table(
        spark, str(p),
        schema=T.StructType(schema.fields[:2]), fmt="csv", mode="DROPMALFORMED",
    )
    assert [r.id for r in dropped.collect()] == [1, 3]


# ---------------------------------------------------------------------------
# Delta transaction-log protocol (sources/deltalog.py)
# ---------------------------------------------------------------------------

def test_deltalog_roundtrip_and_time_travel(spark, tmp_path):
    """Protocol-conformant Delta writes: JSON commits under _delta_log,
    append/overwrite semantics, snapshot reads, time travel, history."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    assert dl.write_delta(df1, path, mode="append") == 0
    assert dl.write_delta(df2, path, mode="append") == 1
    got = {(r.id, r.v) for r in dl.read_delta(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # time travel
    v0 = {(r.id, r.v) for r in dl.read_delta(spark, path, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b")}
    # overwrite replaces the active set
    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    assert dl.write_delta(df3, path, mode="overwrite") == 2
    assert {(r.id, r.v) for r in dl.read_delta(spark, path).collect()} == {(9, "z")}
    # prior snapshots still readable (snapshot isolation for time travel)
    assert {(r.id, r.v) for r in dl.read_delta(spark, path, version=1).collect()} == got
    hist = dl.delta_history(path)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["mode"] == "OVERWRITE"
    # operationMetrics (round-12): delta-spark's string-valued map,
    # derived from the commit's actions — the overwrite both added and
    # removed files, and byte counts reconcile with the adds
    m = hist[2]["operationMetrics"]
    assert int(m["numAddedFiles"]) >= 1
    assert int(m["numRemovedFiles"]) >= 1
    assert int(m["numOutputBytes"]) > 0
    assert all(isinstance(x, str) for x in m.values())
    assert int(hist[0]["operationMetrics"]["numRemovedFiles"]) == 0


def test_deltalog_protocol_shape(spark, tmp_path):
    """The emitted log IS the Delta spec's shape: %020d.json files of
    newline-delimited actions, v0 carrying protocol+metaData, adds with
    relative paths that exist on disk."""
    import json as _json
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(spark.range(5).toDF("id"), path)
    log = _os.path.join(path, "_delta_log", "0" * 20 + ".json")
    assert _os.path.exists(log)
    actions = [_json.loads(line) for line in open(log)]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert actions[0]["protocol"]["minReaderVersion"] == 1
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(
        not a["path"].startswith("/") and _os.path.exists(_os.path.join(path, a["path"]))
        and a["size"] > 0
        for a in adds
    )


def test_deltalog_crashed_writer_invisible(spark, tmp_path):
    """Uncommitted part files (crashed writer) must be invisible: the
    reader's file list comes from the log, not directory listing."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    # simulate a crashed writer: orphan parquet in the table root
    spark.createDataFrame([(99,)], "id long").write.parquet(str(tmp_path / "orphan"))
    import shutil, glob, os as _os
    orphan = glob.glob(str(tmp_path / "orphan" / "*.parquet"))[0]
    shutil.copy(orphan, _os.path.join(path, "part-orphan-deadbeef.snappy.parquet"))
    assert [r.id for r in dl.read_delta(spark, path).collect()] == [1]


def test_deltalog_schema_enforcement(spark, tmp_path):
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), path)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        dl.write_delta(spark.createDataFrame([(2,)], "id long"), path, mode="append")


def test_deltalog_concurrent_commit_loses(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version: O_EXCL create makes the
    loser fail with FileExistsError (Delta's optimistic-concurrency
    primitive — exposed raw via max_retries=0). Simulated by pinning this
    writer's view of the log to a stale version list while a rival lands
    the next commit."""
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    df = spark.createDataFrame([(1,)], "id long")
    dl.write_delta(df, path)
    monkeypatch.setattr(dl, "_list_versions", lambda p: [0])  # stale view
    # rival lands version 1 after our writer read the log
    _os.close(_os.open(dl._commit_file(path, 1), _os.O_WRONLY | _os.O_CREAT | _os.O_EXCL))
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        dl.write_delta(df, path, mode="append", max_retries=0)


def test_deltalog_concurrent_appenders_both_land(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency RETRY: two blind appenders interleave (the
    rival publishes our target version between our log read and our
    commit) — with the retry loop both land, at consecutive versions,
    and no rows are lost. The race is made deterministic by having the
    first _commit call publish a rival append first."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "drace")
    dl.write_delta(spark.createDataFrame([(0,)], "id long"), path)

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            # rival append lands the contested version first
            rival_staging = spark.createDataFrame([(100,)], "id long")
            monkeypatch.setattr(dl, "_commit", real_commit)
            dl.write_delta(rival_staging, path, mode="append")
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    v = dl.write_delta(spark.createDataFrame([(1,)], "id long"), path, mode="append")
    monkeypatch.setattr(dl, "_commit", real_commit)
    assert v == 2  # retried past the rival's version 1
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [0, 1, 100]
    assert [h["version"] for h in dl.delta_history(path)] == [0, 1, 2]


def test_deltalog_rewrite_conflict_raises(spark, tmp_path, monkeypatch):
    """A true conflict: a rival rewrites (removes) files this UPDATE read
    → DeltaConcurrentModification, never a silent lost update."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dconf")
    dl.write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), path)

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(dl, "_commit", real_commit)
            # rival rewrites the SAME files (overwrite removes them all)
            dl.write_delta(
                spark.createDataFrame([(9, "z")], "id long, v string"),
                path,
                mode="overwrite",
            )
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    with _pytest.raises(dl.DeltaConcurrentModification):
        dl.update_delta(spark, path, "id = 1", {"v": "'A'"})
    monkeypatch.setattr(dl, "_commit", real_commit)
    # the rival's overwrite stands untouched
    assert {(r.id, r.v) for r in dl.read_delta(spark, path).collect()} == {(9, "z")}


def test_deltalog_checkpoint_bounds_replay(spark, tmp_path, monkeypatch):
    """A long-history table reads from the newest checkpoint: only the
    post-checkpoint JSON commits are parsed (O(interval), not O(V)), the
    `_last_checkpoint` pointer exists, and content/time-travel/txn
    watermarks are identical to a full replay."""
    import json as _json
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dckpt")
    for i in range(25):  # versions 0..24; auto-checkpoints at 10 and 20
        dl.write_delta(spark.createDataFrame([(i,)], "id long"), path)
    assert _os.path.exists(dl._checkpoint_file(path, 10))
    assert _os.path.exists(dl._checkpoint_file(path, 20))
    with open(dl._last_checkpoint_file(path)) as f:
        assert _json.load(f)["version"] == 20

    # count JSON commit parses during a cold replay of the latest snapshot
    DELTA_ACTIONS.clear()
    real_read = dl._read_actions
    calls: list[int] = []

    def counting_read(p, v):
        calls.append(v)
        return real_read(p, v)

    monkeypatch.setattr(dl, "_read_actions", counting_read)
    got = sorted(r.id for r in dl.read_delta(spark, path).collect())
    monkeypatch.setattr(dl, "_read_actions", real_read)
    assert got == list(range(25))
    assert set(calls) == {21, 22, 23, 24}, (
        f"replay must start at checkpoint 20, parsed JSON for {sorted(set(calls))}"
    )

    # time travel below the newest checkpoint picks the older one / none
    assert sorted(r.id for r in dl.read_delta(spark, path, version=15).collect()) == list(range(16))
    assert sorted(r.id for r in dl.read_delta(spark, path, version=5).collect()) == list(range(6))


def test_deltalog_log_cleanup_retention(spark, tmp_path):
    """After another engine's log cleanup deletes the JSON commits and
    checkpoints below the newest checkpoint, snapshots inside the
    retained window stay byte-identical, reads below the boundary raise
    (never a silently incomplete snapshot), and new writes keep
    committing at the right version."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dclean")
    for i in range(25):  # 0..24, checkpoints at 10 and 20
        dl.write_delta(spark.createDataFrame([(i,)], "id long"), path)
    before = sorted(r.id for r in dl.read_delta(spark, path).collect())

    clean_delta_log_below(path, 20)
    assert dl._list_versions(path) == list(range(20, 25))
    # current snapshot identical; time travel inside retention works
    DELTA_ACTIONS.clear()
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == before
    assert dl.read_delta(spark, path, version=21).count() == 22
    # below the boundary: descriptive error, not partial data
    with _pytest.raises(ValueError):
        dl.read_delta(spark, path, version=5)
    # writes continue at the next version
    v = dl.write_delta(spark.createDataFrame([(99,)], "id long"), path)
    assert v == 25
    assert dl.read_delta(spark, path).count() == 26


def test_deltalog_checkpoint_txn_and_partitions(spark, tmp_path):
    """Checkpoint rows carry txn watermarks and partitionValues (incl.
    null partitions) faithfully — another engine's idempotent writer and
    partition pruning survive a checkpoint boundary."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dckpt2")
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "fr")], "id long, lang string"
    )
    dl.write_delta(df, path)
    # version 1: an external writer's SetTransaction, as raw log bytes
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as f:
        for action in (
            {"txn": {"appId": "appX", "version": 7, "lastUpdated": 1700000000000}},
            {"commitInfo": {"timestamp": 1700000000000, "operation": "STREAMING UPDATE"}},
        ):
            f.write(json.dumps(action) + "\n")
    dl.write_checkpoint(path)  # manual checkpoint at version 1
    # cold cache: watermark must come from the checkpoint rows
    DELTA_ACTIONS.clear()
    assert txn_versions(path) == {"appX": 7}
    assert dl.read_delta(spark, path).count() == 3

    path2 = str(tmp_path / "dckpt3")
    dl.write_delta(df, path2, partition_by=["lang"])
    dl.write_checkpoint(path2)
    DELTA_ACTIONS.clear()
    got = {r.id for r in dl.read_delta(spark, path2, partition_filter={"lang": "en"}).collect()}
    assert got == {1}
    got_null = {r.id for r in dl.read_delta(spark, path2, partition_filter={"lang": None}).collect()}
    assert got_null == {2}


def test_deltalog_partitioned_pruning(spark, tmp_path):
    """Partitioned Delta tables: hive-layout dirs, partitionValues in the
    add actions, and log-level partition pruning that hands Spark ONLY
    the surviving files."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dpart")
    df = spark.createDataFrame(
        [(1, "en", 10.0), (2, "en", 20.0), (3, "de", 30.0), (4, "fr", 40.0)],
        "id long, lang string, v double",
    )
    dl.write_delta(df, path, partition_by=["lang"])
    # full read reconstructs partition column values from dir names
    back = dl.read_delta(spark, path)
    assert {(r.id, r.lang) for r in back.collect()} == {
        (1, "en"), (2, "en"), (3, "de"), (4, "fr")}
    # pruned read: only en files reach Spark
    en = dl.read_delta(spark, path, partition_filter={"lang": "en"})
    assert {r.id for r in en.collect()} == {1, 2}
    assert en.inputFiles() and all("lang=en" in f for f in en.inputFiles())
    # unknown partition column is an error, not a silent no-op
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not partition columns"):
        dl.read_delta(spark, path, partition_filter={"v": 10.0})
    # a plain append ADOPTS the table's partitioning (delta-spark
    # behavior: partitionBy is optional on appends)
    dl.write_delta(df.filter("id = 1"), path, mode="append")
    again = dl.read_delta(spark, path, partition_filter={"lang": "en"})
    assert sorted(r.id for r in again.collect()) == [1, 1, 2]
    # ...but an EXPLICIT mismatch is still an error
    with _pytest.raises(ValueError, match="partition columns fixed"):
        dl.write_delta(df, path, mode="append", partition_by=["v"])


def test_deltalog_stats_data_skipping(spark, tmp_path):
    """Footer-stats data skipping: add actions carry min/max per column
    and a range predicate drops files that provably cannot match."""
    import json as _json
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dskip")
    # two commits → two disjoint id ranges in separate files
    dl.write_delta(spark.range(0, 100).toDF("id").coalesce(1), path)
    dl.write_delta(
        spark.range(1000, 1100).toDF("id").coalesce(1), path, mode="append"
    )
    # stats recorded in the log
    log1 = _os.path.join(path, "_delta_log", f"{1:020d}.json")
    adds = [_json.loads(line)["add"] for line in open(log1)
            if '"add"' in line]
    st = _json.loads(adds[0]["stats"])
    assert st["numRecords"] == 100
    assert st["minValues"]["id"] == 1000 and st["maxValues"]["id"] == 1099
    # a predicate that only the second file can satisfy reads ONE file
    hi = dl.read_delta(spark, path, where=("id", ">=", 500))
    assert len(hi.inputFiles()) == 1
    assert hi.count() == 100
    # conservative: an unknown column keeps every file
    allf = dl.read_delta(spark, path, where=("nope", ">=", 1))
    assert len(allf.inputFiles()) == 2


def test_deltalog_optimize_and_vacuum(spark, tmp_path):
    """OPTIMIZE compacts the snapshot into fewer files with
    dataChange=false; VACUUM then deletes the unreferenced originals
    (retention 0 for the test) while the current snapshot stays intact."""
    import json as _json
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dopt")
    for i in range(4):  # four small files across four commits
        dl.write_delta(
            spark.range(i * 10, i * 10 + 10).toDF("id").coalesce(1),
            path, mode="append",
        )
    assert len(dl.read_delta(spark, path).inputFiles()) == 4

    v = dl.optimize_delta(spark, path, target_files=1)
    assert v == 4
    assert len(dl.read_delta(spark, path).inputFiles()) == 1
    assert dl.read_delta(spark, path).count() == 40  # content unchanged
    acts = [_json.loads(line) for line in
            open(_os.path.join(path, "_delta_log", f"{4:020d}.json"))]
    assert all(a["add"]["dataChange"] is False for a in acts if "add" in a)
    # idempotent: already compact → no-op
    assert dl.optimize_delta(spark, path, target_files=1) is None

    # sub-hour retention without force is refused (it could delete a
    # concurrent in-flight writer's already-moved part files)
    with pytest.raises(ValueError, match="safety floor"):
        dl.vacuum_delta(path, retain_hours=0.0)
    # vacuum deletes the 4 unreferenced originals; snapshot still reads
    deleted = dl.vacuum_delta(path, retain_hours=0.0, force=True)
    assert len(deleted) == 4
    assert dl.read_delta(spark, path).count() == 40
    # time travel to pre-optimize versions is now broken — documented
    with pytest.raises(Exception):
        dl.read_delta(spark, path, version=3).count()


def test_deltalog_partition_values_unescaped(spark, tmp_path):
    """Hive layout %-escapes special chars in dir names (lang=pt:BR →
    lang=pt%3ABR) and writes nulls as __HIVE_DEFAULT_PARTITION__; the log
    must record the LOGICAL values (unescaped / None) or
    partition_filter comparisons silently match nothing."""
    import json as _json
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "desc")
    df = spark.createDataFrame(
        [(1, "pt:BR"), (2, "en"), (3, None)], "id long, lang string"
    )
    dl.write_delta(df, path, partition_by=["lang"])
    acts = [_json.loads(line) for line in
            open(_os.path.join(path, "_delta_log", f"{0:020d}.json"))]
    pvals = {a["add"]["partitionValues"]["lang"] for a in acts if "add" in a}
    assert pvals == {"pt:BR", "en", None}

    got = dl.read_delta(spark, path, partition_filter={"lang": "pt:BR"})
    assert [r["id"] for r in got.collect()] == [1]
    got_null = dl.read_delta(spark, path, partition_filter={"lang": None})
    assert [r["id"] for r in got_null.collect()] == [3]


def test_deltalog_stats_require_full_rowgroup_coverage(tmp_path):
    """A column whose min/max is missing from SOME row group (NaN-bearing
    doubles: parquet writers omit stats) must not be reported at all —
    a falsely-narrow range would make data skipping (and DML's
    candidate-file pruning) silently drop files holding matching rows."""
    import json as _json
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    f = str(tmp_path / "nanstats.parquet")
    # row group 1: v in [0, 10]; row group 2: NaN (no stats) + 500..600
    t = pa.table({"v": pa.array([0.0, 10.0, math.nan, 500.0, 600.0])})
    pq.write_table(t, f, row_group_size=2)
    md = pq.ParquetFile(f).metadata
    assert md.num_row_groups >= 2  # precondition: multiple groups
    covered = [
        md.row_group(rg).column(0).statistics is not None
        and md.row_group(rg).column(0).statistics.has_min_max
        for rg in range(md.num_row_groups)
    ]
    if all(covered):
        # this parquet writer reports stats even for NaN groups — the
        # narrowing hazard can't occur here; assert the full range instead
        s = _json.loads(dl._file_stats(f))
        assert s["maxValues"]["v"] >= 500.0
    else:
        s = _json.loads(dl._file_stats(f))
        assert "v" not in s["minValues"] and "v" not in s["maxValues"]
        assert s["numRecords"] == 5


def test_deltalog_zorder_all_null_column(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY on a degenerate (all-null) column must not
    fail: the column yields a constant bucket and the other columns still
    cluster. Content is preserved exactly."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dznull")
    df = spark.range(256).selectExpr("id", "CAST(NULL AS DOUBLE) AS dead")
    dl.write_delta(df, path)
    before = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())
    v = dl.optimize_delta(spark, path, target_files=4, zorder_by=["dead", "id"])
    assert v == 1
    after = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())
    assert after == before


def test_deltalog_action_cache_mutation_isolated(spark, tmp_path):
    """_read_actions hands out copies: a caller annotating an action (or
    its nested add dict) must not corrupt later replays for the process
    lifetime."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dmut")
    dl.write_delta(spark.range(3).toDF("id"), path)
    first = dl._read_actions(path, 0)
    for a in first:
        if "add" in a:
            a["add"]["path"] = "CORRUPTED"
        a["_annotated"] = True
    second = dl._read_actions(path, 0)
    assert all("_annotated" not in a for a in second)
    assert all(a["add"]["path"] != "CORRUPTED" for a in second if "add" in a)
    # and the table still reads
    assert dl.read_delta(spark, path).count() == 3


def test_deltalog_zorder_skips_on_every_dim(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): every output file covers a narrow
    range on BOTH columns, so footer-stats skipping prunes files for a
    predicate on either — a lexicographic sort only serves its leading
    column. Content must be byte-identical and the commit dataChange=false."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dz")
    df = spark.range(4096).selectExpr(
        "id", "id % 64 AS x", "CAST(pmod(xxhash64(id), 64) AS BIGINT) AS y"
    )
    dl.write_delta(df, path)
    before = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())

    v = dl.optimize_delta(spark, path, target_files=8, zorder_by=["x", "y"])
    assert v == 1
    assert len(dl.read_delta(spark, path).inputFiles()) == 8
    after = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())
    assert after == before  # clustering, not content change

    n_x = len(dl.read_delta(spark, path, where=("x", ">=", 56)).inputFiles())
    n_y = len(dl.read_delta(spark, path, where=("y", ">=", 56)).inputFiles())
    assert n_x < 8, "x predicate must prune z-ordered files"
    assert n_y < 8, "y predicate must prune z-ordered files"


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_deltalog_model_based_random_ops(spark, tmp_path, seed):
    """Model-based protocol check: a seeded random sequence of
    append / overwrite / OPTIMIZE(+ZORDER) / VACUUM / DELETE / RESTORE /
    constraint-roundtrip must keep the table content equal to a plain
    Python reference model after EVERY operation — the whole-protocol
    invariant no single hand-written scenario covers. RESTORE targets a random retained version (the model keeps
    per-version snapshots); restoring past vacuumed files must raise
    cleanly and leave the table untouched."""
    import random

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    rng = random.Random(seed)
    path = str(tmp_path / f"dmodel{seed}")

    def batch(lo_id: int, n: int):
        rows = [(lo_id + i, rng.randrange(1000)) for i in range(n)]
        return rows, spark.createDataFrame(rows, "id long, v long")

    model: list[tuple[int, int]] = []
    rows0, df0 = batch(0, rng.randrange(3, 10))
    dl.write_delta(df0, path)
    model.extend(rows0)
    history: dict[int, list[tuple[int, int]]] = {0: list(model)}
    next_id = 1000

    for step in range(16):
        op = rng.choice(
            ["append", "overwrite", "optimize", "vacuum",
             "delete", "restore", "constraint", "clone", "maintenance"]
        )
        if op == "clone":
            # round-12: fork, mutate the FORK, prove copy-on-write both
            # ways — the clone equals the model at fork time, its DML
            # diverges it, and the source never moves
            cpath = str(tmp_path / f"dmodel{seed}_clone{step}")
            dl.clone_delta(path, cpath)
            cgot = sorted(
                tuple(r) for r in dl.read_delta(spark, cpath).collect()
            )
            assert cgot == sorted(model), f"seed={seed} step={step} clone"
            if model:
                t = rng.randrange(1, 1000)
                dl.delete_delta(spark, cpath, f"v < {t}")
                cmodel = [r for r in model if not (r[1] < t)]
                cgot = sorted(
                    tuple(r) for r in dl.read_delta(spark, cpath).collect()
                )
                assert cgot == sorted(cmodel), f"seed={seed} step={step}"
            got = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())
            assert got == sorted(model), (
                f"seed={seed} step={step}: clone DML leaked into source"
            )
            continue  # the source's log did not move: no fold/history step
        if op == "append":
            rows, df = batch(next_id, rng.randrange(1, 8))
            next_id += 1000
            dl.write_delta(df, path, mode="append")
            model.extend(rows)
        elif op == "overwrite":
            rows, df = batch(next_id, rng.randrange(1, 8))
            next_id += 1000
            dl.write_delta(df, path, mode="overwrite")
            model = list(rows)
        elif op == "optimize":
            z = rng.choice([None, ["v"], ["id", "v"]])
            dl.optimize_delta(spark, path, target_files=rng.randrange(1, 3), zorder_by=z)
        elif op == "delete":
            t = rng.randrange(1, 1000)
            dl.delete_delta(spark, path, f"v < {t}")
            model = [r for r in model if not (r[1] < t)]
        elif op == "restore":
            target = rng.choice(sorted(history))
            before = dl._list_versions(path)[-1]
            try:
                dl.restore_delta(path, target)
                model = list(history[target])
            except ValueError as exc:
                # the target's files were vacuumed: the raise is the
                # correct behavior, and the table must be untouched
                assert "missing" in str(exc), exc
                assert dl._list_versions(path)[-1] == before
        elif op == "maintenance":
            # round-12 verbs under arbitrary random state: REORG and
            # FSCK must no-op (no DVs, no lost files) WITHOUT a commit,
            # a dry-run VACUUM must touch nothing, and CLUSTER BY
            # (+ the OPTIMIZE pickup) must preserve content exactly
            sub = rng.choice(["reorg", "fsck", "vacuum_dry", "cluster"])
            before_v = dl._list_versions(path)[-1]
            if sub == "reorg":
                assert dl.reorg_delta(spark, path) is None
                assert dl._list_versions(path)[-1] == before_v
            elif sub == "fsck":
                assert dl.fsck_repair_delta(path) == []
                assert dl._list_versions(path)[-1] == before_v
            elif sub == "vacuum_dry":
                would = dl.vacuum_delta(
                    path, retain_hours=0.0, force=True, dry_run=True
                )
                for rel in would:
                    assert os.path.exists(os.path.join(path, rel))
                assert dl._list_versions(path)[-1] == before_v
            else:
                dl.set_clustering_columns(
                    path, rng.choice([["v"], ["id"], []])
                )
                dl.optimize_delta(spark, path, target_files=1)
        elif op == "constraint":
            # always-true CHECK on current data; a violating write must
            # raise and leave content untouched; then drop re-enables
            dl.add_constraint(spark, path, f"c{step}", "v >= 0 AND v < 1000")
            with pytest.raises(ValueError, match="CHECK constraint"):
                dl.write_delta(
                    spark.createDataFrame([(next_id, -1)], "id long, v long"),
                    path,
                )
            next_id += 1000
            dl.drop_constraint(path, f"c{step}")
        else:
            dl.vacuum_delta(path, retain_hours=0.0, force=True)
        got = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())
        assert got == sorted(model), f"seed={seed} step={step} op={op}"
        # round-11: the per-commit version checksum must verify against
        # a fresh replay after EVERY random operation (write_delta, DML,
        # OPTIMIZE, RESTORE, constraint commits all route through
        # _commit, so a .crc exists for the latest version)
        dl.verify_version_checksum(path)
        history[dl._list_versions(path)[-1]] = list(model)


@pytest.mark.parametrize("seed", [11, 23])
def test_convert_to_delta_random_round_trip(spark, tmp_path, seed):
    """Property check for CONVERT (round-12): a random plain parquet
    directory — randomly partitioned or flat, with nulls in the
    partition column — converts in place and reads back exactly what
    spark.read.parquet saw; a post-conversion append lands on top."""
    import random

    from pyspark.sql import functions as F

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    rng = random.Random(seed)
    path = str(tmp_path / f"cvt{seed}")
    n = rng.randrange(20, 60)
    rows = [
        (i, rng.choice(["a", "b", None]), rng.randrange(100))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, p string, v long")
    partitioned = rng.random() < 0.5
    if partitioned:
        df.write.partitionBy("p").parquet(path)
        dl.convert_to_delta(path, partition_by={"p": "string"})
    else:
        df.write.parquet(path)
        dl.convert_to_delta(path)
    got = sorted(
        (r["id"], r["p"], r["v"])
        for r in dl.read_delta(spark, path).select("id", "p", "v").collect()
    )
    assert got == sorted(rows)
    # append adopts the converted table's schema order (partition
    # columns land LAST in a partitioned conversion) and partitioning
    tbl_cols = dl.read_delta(spark, path).columns
    dl.write_delta(
        spark.createDataFrame(
            [(10_000, "c", 1)], "id long, p string, v long"
        ).select(*tbl_cols),
        path,
        mode="append",
    )
    assert dl.read_delta(spark, path).count() == n + 1
    # stats landed: a point predicate prunes to a subset of files
    active, _, _, _ = dl._replay(path, None)
    assert all(a.get("stats") for a in active.values())


def test_deltalog_schema_evolution_merge_schema(spark, tmp_path):
    """write_delta(merge_schema=True) = Delta's mergeSchema: new columns
    append to the table schema via a fresh metaData action, old files
    read back with typed nulls, batch-missing table columns fill with
    nulls, and a type change on an existing column still raises."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), path
    )
    wider = spark.createDataFrame([(2, "b", 3.5)], "id long, v string, score double")
    # default posture unchanged: drift raises
    with pytest.raises(ValueError, match="schema mismatch"):
        dl.write_delta(wider, path)
    assert dl.write_delta(wider, path, merge_schema=True) == 1
    snap = dl.read_delta(spark, path)
    assert [f.name for f in snap.schema.fields] == ["id", "v", "score"]
    got = {(r.id, r.v, r.score) for r in snap.collect()}
    assert got == {(1, "a", None), (2, "b", 3.5)}
    # narrower batch: the evolved table keeps score, null-filled
    dl.write_delta(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        path,
        merge_schema=True,
    )
    got = {(r.id, r.v, r.score) for r in dl.read_delta(spark, path).collect()}
    assert got == {(1, "a", None), (2, "b", 3.5), (3, "c", None)}
    # time travel below the evolution sees the ORIGINAL two-column schema
    v0 = dl.read_delta(spark, path, version=0)
    assert [f.name for f in v0.schema.fields] == ["id", "v"]
    # type change is never silent
    with pytest.raises(ValueError, match="cannot change the type"):
        dl.write_delta(
            spark.createDataFrame([("x", "y")], "id string, v string"),
            path,
            merge_schema=True,
        )


def test_deltalog_delete_where_file_targeted(spark, tmp_path):
    """DELETE WHERE rewrites ONLY files containing matching rows: the
    untouched file's add action (and its physical bytes) survive the
    commit; a no-match delete is a no-op with no spurious version."""
    import glob as _glob

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    lo = spark.createDataFrame([(i, "lo") for i in range(10)], "id long, tag string")
    hi = spark.createDataFrame([(i, "hi") for i in range(100, 110)], "id long, tag string")
    dl.write_delta(lo.coalesce(1), path)
    dl.write_delta(hi.coalesce(1), path)
    active0, _, _, _ = dl._replay(path, None)
    lo_files = {r for r in active0 if json.loads(active0[r]["stats"])["maxValues"]["id"] < 100}
    assert len(active0) == 2 and len(lo_files) == 1
    before_bytes = {
        rel: os.path.getmtime(os.path.join(path, rel)) for rel in active0
    }
    v = dl.delete_delta(spark, path, "id >= 100 AND id < 105", prune=("id", ">=", 100))
    assert v == 2
    got = sorted(r.id for r in dl.read_delta(spark, path).collect())
    assert got == list(range(10)) + list(range(105, 110))
    active1, _, _, _ = dl._replay(path, None)
    # the lo file is untouched: same add path, same mtime
    assert lo_files < set(active1)
    for rel in lo_files:
        assert os.path.getmtime(os.path.join(path, rel)) == before_bytes[rel]
    # no matching rows -> no-op, same version
    assert dl.delete_delta(spark, path, "id > 99999") == 2
    assert dl._list_versions(path)[-1] == 2
    # NULL predicate rows are kept (SQL WHERE semantics)
    dl.write_delta(
        spark.createDataFrame([(None, "n")], "id long, tag string"), path
    )
    dl.delete_delta(spark, path, "id < 5")
    got = {r.tag for r in dl.read_delta(spark, path).collect() if r.id is None}
    assert got == {"n"}


def test_deltalog_restore_version(spark, tmp_path):
    """RESTORE VERSION AS OF: a log-only commit re-activating the old
    snapshot; pre-restore state stays time-travelable; restoring past
    vacuumed files raises instead of committing an unreadable snapshot."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)          # v0
    dl.write_delta(spark.createDataFrame([(2,)], "id long"), path)          # v1
    dl.write_delta(spark.createDataFrame([(9,)], "id long"), path, mode="overwrite")  # v2
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [9]
    v = dl.restore_delta(path, 1)
    assert v == 3
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [1, 2]
    # the pre-restore snapshot is still history
    assert sorted(r.id for r in dl.read_delta(spark, path, version=2).collect()) == [9]
    # restore-to-identical is a no-op
    assert dl.restore_delta(path, 3) == 3
    hist = dl.delta_history(path)
    assert hist[3]["operation"] == "RESTORE"
    # vacuum away v2's file (inactive since the restore), then restore to it
    dl.vacuum_delta(path, retain_hours=0.0, force=True)
    with pytest.raises(ValueError, match="missing"):
        dl.restore_delta(path, 2)


def test_deltalog_check_constraints(spark, tmp_path):
    """CHECK constraints: stored as delta.constraints.* TBLPROPERTIES,
    protocol gate raised to writer v3 (and preserved through
    checkpoints), enforced on write with SQL semantics (NULL passes),
    droppable."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(
        spark.createDataFrame([(1, 10.0), (2, None)], "id long, score double"),
        path,
    )
    # violated by existing data -> refused
    with pytest.raises(ValueError, match="existing rows violate"):
        dl.add_constraint(spark, path, "pos_id", "id > 1")
    v = dl.add_constraint(spark, path, "pos_score", "score >= 0")
    assert dl.delta_detail(path)["properties"]["delta.constraints.pos_score"] == "score >= 0"
    assert dl._latest_protocol(path, v)["minWriterVersion"] == 3
    # checkpoint must preserve the raised gate
    dl.write_checkpoint(path)
    cp_proto = [
        a["protocol"]
        for a in dl._read_checkpoint_actions(path, v)
        if "protocol" in a
    ]
    assert cp_proto and cp_proto[0]["minWriterVersion"] == 3
    # violating write refused, no new version, no stray staging
    nv_before = dl._list_versions(path)[-1]
    with pytest.raises(ValueError, match="CHECK constraint pos_score"):
        dl.write_delta(
            spark.createDataFrame([(3, -1.0)], "id long, score double"), path
        )
    assert dl._list_versions(path)[-1] == nv_before
    assert not [d for d in os.listdir(path) if d.startswith("_staging")]
    # NULL passes; clean write lands
    dl.write_delta(
        spark.createDataFrame([(3, None)], "id long, score double"), path
    )
    dl.drop_constraint(path, "pos_score")
    dl.write_delta(
        spark.createDataFrame([(4, -1.0)], "id long, score double"), path
    )
    assert sorted(
        r.id for r in dl.read_delta(spark, path).collect()
    ) == [1, 2, 3, 4]


def test_deltalog_append_only(spark, tmp_path):
    """delta.appendOnly=true blocks every file-removing operation
    (overwrite, DELETE, file-removing RESTORE) while pure appends keep
    working."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dtab")
    dl.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), path)
    dl.set_table_properties(path, {"delta.appendOnly": "true"})
    dl.write_delta(spark.createDataFrame([(2, "b")], "id long, v string"), path)
    with pytest.raises(ValueError, match="appendOnly"):
        dl.write_delta(
            spark.createDataFrame([(9, "z")], "id long, v string"),
            path,
            mode="overwrite",
        )
    with pytest.raises(ValueError, match="appendOnly"):
        dl.delete_delta(spark, path, "id = 1")
    dl.write_delta(spark.createDataFrame([(100, "c")], "id long, v string"), path)
    with pytest.raises(ValueError, match="appendOnly"):
        dl.restore_delta(path, 0)
    # OPTIMIZE and REORG are ALLOWED on append-only tables (round-12
    # parity pin): dataChange=false rewrites are not logical deletes —
    # delta-spark permits them, and so must we
    assert dl.optimize_delta(spark, path) is not None
    assert dl.read_delta(spark, path).count() == 3
    assert dl.reorg_delta(spark, path) is None  # no DVs -> no-op
    # lift the gate -> operations work again
    dl.set_table_properties(path, {"delta.appendOnly": None})
    dl.delete_delta(spark, path, "id = 1")
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [2, 100]


def test_deltalog_schema_evolution_race_raises(spark, tmp_path, monkeypatch):
    """Round-5 advice #1: two concurrent schema-evolving writers — the
    loser's retried metaData was built from the pre-race schema, so a
    verbatim retry would silently DROP the winner's new column. The
    loser must raise DeltaConcurrentModification instead."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "devorace")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(dl, "_commit", real_commit)
            dl.write_delta(
                spark.createDataFrame([(2, "x")], "id long, c_rival string"),
                path,
                mode="append",
                merge_schema=True,
            )
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    with _pytest.raises(dl.DeltaConcurrentModification, match="metaData"):
        dl.write_delta(
            spark.createDataFrame([(3, 7.5)], "id long, c_ours double"),
            path,
            mode="append",
            merge_schema=True,
        )
    monkeypatch.setattr(dl, "_commit", real_commit)
    # the rival's evolved schema stands — c_rival survived
    cols = set(dl.read_delta(spark, path).columns)
    assert cols == {"id", "c_rival"}


def test_deltalog_append_racing_constraint_add_raises(spark, tmp_path, monkeypatch):
    """A write races an ADD CONSTRAINT: the write enforced constraints
    from its (pre-constraint) snapshot, so a verbatim retry would land
    unvalidated rows behind the new CHECK — it must raise instead."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dconsrace")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(dl, "_commit", real_commit)
            dl.add_constraint(spark, path, "pos", "id > 0")
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    with _pytest.raises(dl.DeltaConcurrentModification, match="metaData|protocol"):
        dl.write_delta(
            spark.createDataFrame([(-5,)], "id long"), path, mode="append"
        )
    monkeypatch.setattr(dl, "_commit", real_commit)
    # the violating row never landed; the constraint stands
    assert [r.id for r in dl.read_delta(spark, path).collect()] == [1]
    assert dl.delta_detail(path)["properties"]["delta.constraints.pos"] == "id > 0"


def test_set_table_properties_race_rederives(spark, tmp_path, monkeypatch):
    """Racing property writers both survive: the loser re-derives its
    merge from the rival's landed configuration instead of re-committing
    stale metaData that would erase the rival's key."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dproprace")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(dl, "_commit", real_commit)
            dl.set_table_properties(path, {"team.rival": "1"})
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    dl.set_table_properties(path, {"team.ours": "2"})
    monkeypatch.setattr(dl, "_commit", real_commit)
    config = dl.delta_detail(path)["properties"]
    assert config["team.rival"] == "1" and config["team.ours"] == "2"


def test_set_table_properties_rejects_constraint_keys(spark, tmp_path):
    """Round-5 advice #3: installing delta.constraints.* via raw
    properties bypasses add_constraint's existing-data validation and
    protocol upgrade — rejected; unsetting (drop_constraint's path)
    still works."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "dpropcons")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    with _pytest.raises(ValueError, match="add_constraint"):
        dl.set_table_properties(path, {"delta.constraints.pos": "id > 0"})
    dl.add_constraint(spark, path, "pos", "id > 0")
    dl.drop_constraint(path, "pos")  # None-valued unset stays allowed
    assert "delta.constraints.pos" not in dl.delta_detail(path)["properties"]


def test_deltalog_restore_race_raises(spark, tmp_path, monkeypatch):
    """Round-5 advice #2: RESTORE's action list is derived from the
    latest version, so a rival blind append racing it would survive the
    restore (post-RESTORE state ≠ target version). Any race must raise;
    the rival's append stands."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "drestrace")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    dl.write_delta(spark.createDataFrame([(2,)], "id long"), path, mode="append")

    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(p, version, actions):
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(dl, "_commit", real_commit)
            dl.write_delta(spark.createDataFrame([(99,)], "id long"), path, mode="append")
            monkeypatch.setattr(dl, "_commit", racing_commit)
        return real_commit(p, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    with _pytest.raises(dl.DeltaConcurrentModification, match="full-table"):
        dl.restore_delta(path, to_version=0)
    monkeypatch.setattr(dl, "_commit", real_commit)
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [1, 2, 99]
    # a re-derived restore (no race) now works and removes the rival's rows
    dl.restore_delta(path, to_version=0)
    assert [r.id for r in dl.read_delta(spark, path).collect()] == [1]


@long_suite
def test_multipart_checkpoint_100k_actions(spark, tmp_path):
    """Round-5 directive #4: a ~10⁵-add table checkpoints into the
    spec's multi-part form (%020d.checkpoint.%010d.%010d.parquet),
    `_last_checkpoint` carries `parts`, every part stays under the
    per-part action cap, and replay reconstructs the full active set
    from the parts."""
    import json as _json

    import pyarrow.parquet as _pq

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    path = str(tmp_path / "bigcp")
    dl.write_delta(spark.createDataFrame([(0,)], "id long"), path)
    n_fake = 110_000
    stats = '{"numRecords":1,"minValues":{"id":1},"maxValues":{"id":1},"nullCount":{"id":0}}'
    synth = [
        {
            "add": {
                "path": f"part-{i:07d}-synthetic.parquet",
                "partitionValues": {},
                "size": 128,
                "modificationTime": 1700000000000,
                "dataChange": True,
                "stats": stats,
            }
        }
        for i in range(n_fake)
    ]
    synth.append({"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}})
    dl._commit(path, 1, synth)

    assert dl.write_checkpoint(path, 1) == 1
    with open(dl._last_checkpoint_file(path)) as f:
        ptr = _json.load(f)
    assert ptr["version"] == 1 and ptr.get("parts", 1) >= 3
    files = dl._checkpoint_parts(path, 1)
    assert files is not None and len(files) == ptr["parts"]
    assert all(
        _pq.ParquetFile(f).metadata.num_rows <= dl.CHECKPOINT_MAX_ACTIONS_PER_PART
        for f in files
    )
    active, schema, _, _ = dl._replay(path, 1)
    assert len(active) == n_fake + 1  # synthetic adds + the real v0 file
    assert [f.name for f in schema.fields] == ["id"]


def test_multipart_checkpoint_partial_set_is_absent(spark, tmp_path, monkeypatch):
    """A writer killed between parts must never surface a half
    checkpoint: with one part missing, the checkpoint is treated as
    absent and replay falls back to the JSON log."""
    import os as _os

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    monkeypatch.setattr(dl, "CHECKPOINT_MAX_ACTIONS_PER_PART", 2)
    path = str(tmp_path / "partialcp")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    for i in range(2, 6):
        dl.write_delta(spark.createDataFrame([(i,)], "id long"), path, mode="append")
    dl.write_checkpoint(path, 4)
    files = dl._checkpoint_parts(path, 4)
    assert files is not None and len(files) >= 2
    _os.remove(files[0])
    assert dl._checkpoint_parts(path, 4) is None
    assert dl._latest_checkpoint_version(path) is None
    # replay still correct from the JSON log alone
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == [1, 2, 3, 4, 5]


def test_multipart_checkpoint_cleanup_and_bounded_replay(spark, tmp_path, monkeypatch):
    """Multi-part checkpoints survive log retention: once the commits
    and superseded checkpoints below the newest one are deleted, reads
    replay from that checkpoint's parts."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

    monkeypatch.setattr(dl, "CHECKPOINT_MAX_ACTIONS_PER_PART", 2)
    path = str(tmp_path / "cleancp")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    for i in range(2, 8):
        dl.write_delta(spark.createDataFrame([(i,)], "id long"), path, mode="append")
    dl.write_checkpoint(path, 3)
    dl.write_checkpoint(path, 6)
    deleted = clean_delta_log_below(path, 6)
    # v3's multi-part files and the old JSON commits are gone
    assert any(".checkpoint.0000000001." in n and n.startswith("00000000000000000003") for n in deleted)
    assert dl._checkpoint_parts(path, 3) is None
    assert dl._checkpoint_parts(path, 6) is not None
    assert sorted(r.id for r in dl.read_delta(spark, path).collect()) == list(range(1, 8))
