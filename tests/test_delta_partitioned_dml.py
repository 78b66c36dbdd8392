"""Partitioned-table DML (round-9): DELETE / UPDATE / OPTIMIZE on
hive-partitioned Delta tables. Delta's contract: data never migrates
across partitions, untouched partitions contribute NO actions to the
commit, and a predicate on the partition column prunes by
partitionValues (partition pruning) rather than footer stats.

Reference precedent: the medallion writer partitions its Gold layer
(notebooks/benchmarking_medallion.py) — every engine user with a
date-partitioned table expects DELETE/UPDATE/OPTIMIZE to work there.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import long_suite

pytestmark = long_suite

from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl


def _mk_table(spark, path, rows_per_part=6, parts=("a", "b", "c"), files_per_part=3):
    """3 partitions × several files each, via per-file appends."""
    per_file = rows_per_part // files_per_part
    i = 0
    for _ in range(files_per_part):
        rows = []
        for p in parts:
            for _ in range(per_file):
                rows.append((i, p, float(i % 10)))
                i += 1
        df = spark.createDataFrame(rows, "id bigint, p string, v double").coalesce(1)
        dl.write_delta(df, path, partition_by=["p"])
    return i


def _active(path):
    active, _, _, _ = dl._replay(path, None)
    return active


def _commit_actions(path, version):
    return dl._read_actions(path, version)


def test_partitioned_delete_data_predicate(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _mk_table(spark, path)
    v = dl.delete_delta(spark, path, "v >= 5.0")
    got = dl.read_delta(spark, path).orderBy("id").collect()
    assert all(r["v"] < 5.0 for r in got)
    assert len(got) == sum(1 for i in range(n) if (i % 10) < 5)
    # survivors stayed in their hive partitions
    for r in got:
        assert r["p"] in ("a", "b", "c")
    # rewritten adds carry partitionValues
    adds = [a["add"] for a in _commit_actions(path, v) if "add" in a]
    assert adds and all(a["partitionValues"].get("p") in ("a", "b", "c") for a in adds)
    removes = [a["remove"] for a in _commit_actions(path, v) if "remove" in a]
    assert removes and all(
        r.get("partitionValues", {}).get("p") in ("a", "b", "c") for r in removes
    )


def test_partitioned_delete_partition_prune_touches_one_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    before = _active(path)
    v = dl.delete_delta(spark, path, "p = 'b'", prune=("p", "==", "b"))
    acts = _commit_actions(path, v)
    removes = [a["remove"]["path"] for a in acts if "remove" in a]
    # partition pruning: ONLY partition b's files were touched
    assert removes and all(r.startswith("p=b/") for r in removes)
    assert not [a for a in acts if "add" in a]  # full-partition delete: no survivors
    # other partitions' files untouched on disk and in the log
    after = _active(path)
    assert {r for r in before if not r.startswith("p=b/")} == set(after)
    got = dl.read_delta(spark, path)
    assert got.filter("p = 'b'").count() == 0
    assert got.count() == got.filter("p != 'b'").count() > 0


def test_may_satisfy_partition_values_typed():
    add_int = {"partitionValues": {"d": "10"}}
    assert dl._may_satisfy(add_int, ("d", "==", 10))
    assert not dl._may_satisfy(add_int, ("d", "==", 9))
    assert dl._may_satisfy(add_int, ("d", ">=", 10))
    assert not dl._may_satisfy(add_int, ("d", "<", 10))
    # string (ISO date) comparison is lexicographic = chronological
    add_date = {"partitionValues": {"day": "2024-03-01"}}
    assert dl._may_satisfy(add_date, ("day", ">", "2024-02-29"))
    assert not dl._may_satisfy(add_date, ("day", "<", "2024-03-01"))
    # NULL partition never satisfies a comparison
    assert not dl._may_satisfy({"partitionValues": {"d": None}}, ("d", "==", 1))
    # unparseable keeps the file (conservative)
    assert dl._may_satisfy({"partitionValues": {"d": "x"}}, ("d", "==", 1))
    # non-partition column falls through to stats
    add_stats = {
        "partitionValues": {"p": "a"},
        "stats": json.dumps(
            {"numRecords": 3, "minValues": {"v": 1}, "maxValues": {"v": 5}}
        ),
    }
    assert dl._may_satisfy(add_stats, ("v", "==", 3))
    assert not dl._may_satisfy(add_stats, ("v", ">", 5))


def test_partitioned_optimize_compacts_within_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    n = _mk_table(spark, path, files_per_part=3)
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, target_files=1)
    assert v is not None
    active = _active(path)
    # exactly one file per partition now
    by_part: dict[str, int] = {}
    for rel in active:
        by_part[rel.split("/")[0]] = by_part.get(rel.split("/")[0], 0) + 1
    assert by_part == {"p=a": 1, "p=b": 1, "p=c": 1}
    after = dl.read_delta(spark, path).orderBy("id").collect()
    assert after == before
    assert len(after) == n
    # dataChange False throughout (content unchanged, streams skip it)
    acts = _commit_actions(path, v)
    for a in acts:
        payload = a.get("add") or a.get("remove")
        if payload:
            assert payload["dataChange"] is False


def test_partitioned_optimize_skips_compact_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    # p=a gets 3 files, p=z gets exactly 1 (already compact)
    for i in range(3):
        df = spark.createDataFrame([(i, "a", 1.0)], "id bigint, p string, v double")
        dl.write_delta(df, path, partition_by=["p"])
    dl.write_delta(
        spark.createDataFrame([(100, "z", 2.0)], "id bigint, p string, v double"),
        path,
        partition_by=["p"],
    )
    z_files_before = {rel for rel in _active(path) if rel.startswith("p=z/")}
    v = dl.optimize_delta(spark, path, target_files=1)
    acts = _commit_actions(path, v)
    touched = [
        (a.get("add") or a.get("remove"))["path"]
        for a in acts
        if "add" in a or "remove" in a
    ]
    # the already-compact partition contributed no actions
    assert touched and all(t.startswith("p=a/") for t in touched)
    assert {rel for rel in _active(path) if rel.startswith("p=z/")} == z_files_before


def test_partitioned_optimize_nothing_to_do(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, "a", 1.0)], "id bigint, p string, v double"),
        path,
        partition_by=["p"],
    )
    assert dl.optimize_delta(spark, path, target_files=1) is None


def test_partitioned_optimize_zorder(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path, rows_per_part=12, files_per_part=3)
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, target_files=1, zorder_by=["v"])
    assert v is not None
    assert dl.read_delta(spark, path).orderBy("id").collect() == before
    # every output file stayed within ONE partition (hive layout intact)
    for rel in _active(path):
        assert rel.split("/")[0] in ("p=a", "p=b", "p=c")


def test_partitioned_delete_null_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, None, 9.0)],
        "id bigint, p string, v double",
    )
    dl.write_delta(df, path, partition_by=["p"])
    dl.delete_delta(spark, path, "v >= 9.0")
    got = {r["id"]: r["p"] for r in dl.read_delta(spark, path).collect()}
    assert got == {1: "a", 2: None}


def test_partitioned_dv_delete_preserves_partition_values(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    # opt the table into DVs (both protocol sides + table property),
    # the same manual upgrade the DV fixtures perform
    versions = dl._list_versions(path)
    proto = dl._latest_protocol(path, versions[-1])
    meta = dict(dl._latest_metadata(path, versions[-1]))
    cfg = dict(meta.get("configuration", {}))
    cfg["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = cfg
    dl._commit_with_retry(
        path,
        versions[-1] + 1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {"metaData": meta},
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
        ],
    )
    n_before = dl.read_delta(spark, path).count()
    v = dl.delete_delta(spark, path, "id = 1", use_dv=True)
    acts = _commit_actions(path, v)
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(a.get("deletionVector") for a in adds)
    # the DV re-add keeps the hive path AND its partitionValues
    for a in adds:
        assert a["path"].startswith("p=")
        assert a["partitionValues"]["p"] == a["path"].split("/")[0].split("=")[1]
    got = dl.read_delta(spark, path)
    assert got.count() == n_before - 1
    assert got.filter("id = 1").count() == 0


def test_partitioned_delete_duckdb_oracle(spark, tmp_path):
    """Oracle: survivors equal DuckDB's DELETE semantics on the same rows."""
    import duckdb

    path = str(tmp_path / "t")
    n = _mk_table(spark, path, rows_per_part=12, files_per_part=3)
    dl.delete_delta(spark, path, "v > 3.0 AND p <> 'c'")
    got = sorted(
        (r["id"], r["p"], r["v"])
        for r in dl.read_delta(spark, path).collect()
    )
    con = duckdb.connect()
    # rebuild the same rows _mk_table produced
    rows = []
    i = 0
    for _ in range(3):
        for p in ("a", "b", "c"):
            for _ in range(4):
                rows.append((i, p, float(i % 10)))
                i += 1
    assert i == n
    con.execute("CREATE TABLE t (id BIGINT, p VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    con.execute("DELETE FROM t WHERE v > 3.0 AND p <> 'c'")
    want = sorted(tuple(r) for r in con.execute("SELECT * FROM t").fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# update_delta — the third DML verb (round-9)
# ---------------------------------------------------------------------------


def test_update_basic_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double"
    )
    dl.write_delta(df.coalesce(2), path)
    v = dl.update_delta(spark, path, "id >= 7", {"v": "v * 10"})
    got = {r["id"]: r["v"] for r in dl.read_delta(spark, path).collect()}
    assert got == {i: float(i) * (10 if i >= 7 else 1) for i in range(10)}
    acts = _commit_actions(path, v)
    ci = [a["commitInfo"] for a in acts if "commitInfo" in a][0]
    assert ci["operation"] == "UPDATE"
    assert ci["operationParameters"]["set"] == {"v": "v * 10"}


def test_update_file_targeted_rewrite(spark, tmp_path):
    """Only files holding matched rows rewrite; prune skips by stats."""
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):  # three files with disjoint id ranges
        df = spark.createDataFrame(
            [(lo + i, 1.0) for i in range(10)], "id bigint, v double"
        ).coalesce(1)
        dl.write_delta(df, path)
    before = _active(path)
    v = dl.update_delta(
        spark, path, "id = 105", {"v": "-1.0"}, prune=("id", "==", 105)
    )
    acts = _commit_actions(path, v)
    removes = [a["remove"]["path"] for a in acts if "remove" in a]
    assert len(removes) == 1  # exactly the one file holding id=105
    untouched = set(before) - set(removes)
    assert untouched <= set(_active(path))
    got = dl.read_delta(spark, path)
    assert got.filter("id = 105").first()["v"] == -1.0
    assert got.filter("v = 1.0").count() == 29


def test_update_no_match_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"), path
    )
    v0 = dl._list_versions(path)[-1]
    assert dl.update_delta(spark, path, "id = 999", {"v": "0.0"}) == v0


def test_update_null_condition_keeps_row(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame(
            [(1, None), (2, 5.0)], "id bigint, v double"
        ),
        path,
    )
    dl.update_delta(spark, path, "v > 1.0", {"id": "id + 100"})
    got = {r["id"] for r in dl.read_delta(spark, path).collect()}
    assert got == {1, 102}  # NULL v: condition NULL -> row unchanged


def test_update_casts_to_column_type(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 2.0)], "id bigint, v double"), path
    )
    dl.update_delta(spark, path, "id = 1", {"v": "7"})  # int literal -> double col
    _, schema, _, _ = dl._replay(path, None)
    assert [f.dataType.simpleString() for f in schema.fields] == ["bigint", "double"]
    assert dl.read_delta(spark, path).first()["v"] == 7.0


def test_update_unknown_column_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"), path
    )
    with pytest.raises(ValueError, match="not in table schema"):
        dl.update_delta(spark, path, "id = 1", {"nope": "1"})


def test_update_append_only_blocked(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"), path
    )
    dl.set_table_properties(path, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        dl.update_delta(spark, path, "id = 1", {"v": "2.0"})


def test_update_check_constraint_enforced(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"), path
    )
    dl.add_constraint(spark, path, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="v_pos"):
        dl.update_delta(spark, path, "id = 1", {"v": "-5.0"})
    # table unchanged after the refused commit
    assert dl.read_delta(spark, path).first()["v"] == 1.0


def test_update_partitioned_moves_rows_across_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    # updating the PARTITION column migrates the rows' hive dir
    dl.update_delta(spark, path, "p = 'a' AND id < 2", {"p": "'z'"})
    got = dl.read_delta(spark, path)
    moved = got.filter("p = 'z'").select("id").collect()
    assert {r["id"] for r in moved} == {0, 1}
    # the moved rows physically live under p=z/
    active = _active(path)
    assert any(rel.startswith("p=z/") for rel in active)
    # no partition column value lies about its directory
    for rel in active:
        part_dir = rel.split("/")[0]
        assert part_dir.split("=")[0] == "p"


def test_update_dv_table_apply_and_rewrite(spark, tmp_path):
    """UPDATE on a DV-bearing file applies the bitmap first — deleted
    rows must NOT resurrect through the rewrite."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double"
    ).coalesce(1)
    dl.write_delta(df, path)
    versions = dl._list_versions(path)
    meta = dict(dl._latest_metadata(path, versions[-1]))
    cfg = dict(meta.get("configuration", {}))
    cfg["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = cfg
    dl._commit_with_retry(
        path,
        versions[-1] + 1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {"metaData": meta},
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
        ],
    )
    dl.delete_delta(spark, path, "id = 2", use_dv=True)  # DV on the file
    dl.update_delta(spark, path, "id = 5", {"v": "500.0"})
    got = {r["id"]: r["v"] for r in dl.read_delta(spark, path).collect()}
    assert 2 not in got  # DV delete survived the rewrite
    assert got[5] == 500.0
    # rewritten add is DV-free
    active = _active(path)
    assert all(not a.get("deletionVector") for a in active.values())


def test_update_duckdb_oracle(spark, tmp_path):
    import duckdb

    path = str(tmp_path / "t")
    n = _mk_table(spark, path, rows_per_part=12, files_per_part=3)
    dl.update_delta(spark, path, "v >= 5.0 AND p = 'b'", {"v": "v + 0.5"})
    got = sorted(
        (r["id"], r["p"], r["v"]) for r in dl.read_delta(spark, path).collect()
    )
    rows = []
    i = 0
    for _ in range(3):
        for p in ("a", "b", "c"):
            for _ in range(4):
                rows.append((i, p, float(i % 10)))
                i += 1
    assert i == n
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, p VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    con.execute("UPDATE t SET v = v + 0.5 WHERE v >= 5.0 AND p = 'b'")
    want = sorted(tuple(r) for r in con.execute("SELECT * FROM t").fetchall())
    assert got == want


def test_append_adopts_table_partitioning(spark, tmp_path):
    """An append into a PARTITIONED table that does not name its
    partition columns adopts the table's partitioning, like delta-spark
    appends do."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, p string, v double")
    dl.write_delta(df, path, partition_by=["p"])
    df2 = spark.createDataFrame([(2, "b", 2.0)], "id bigint, p string, v double")
    assert dl.write_delta(df2, path, mode="append") == 1
    active = _active(path)
    assert any(rel.startswith("p=b/") for rel in active)
    got = dl.read_delta(spark, path, partition_filter={"p": "b"})
    assert [r["id"] for r in got.collect()] == [2]


# ---- round-11: byte-aware OPTIMIZE (min_file_size / target_file_size) --


def test_optimize_min_file_size_leaves_large_files(spark, tmp_path):
    """min_file_size selects only small files: the large file survives
    the compaction VERBATIM (same rel path, no remove), the small ones
    collapse, and the content is unchanged."""
    path = str(tmp_path / "t")
    big = spark.range(0, 20_000).selectExpr("id", "id * 2 as v")
    dl.write_delta(big.coalesce(1), path)
    for i in range(3):
        small = spark.range(100_000 + i, 100_001 + i).selectExpr("id", "id * 2 as v")
        dl.write_delta(small.coalesce(1), path, mode="append")
    sizes = {rel: int(a["size"]) for rel, a in _active(path).items()}
    big_rel = max(sizes, key=sizes.get)
    cutoff = sizes[big_rel]  # strictly-below keeps the big file out
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, min_file_size=cutoff)
    assert v is not None
    active = _active(path)
    assert big_rel in active  # untouched, not rewritten
    assert len(active) == 2  # big file + one compacted file
    removed = {
        a["remove"]["path"] for a in _commit_actions(path, v) if "remove" in a
    }
    assert big_rel not in removed and len(removed) == 3
    assert dl.read_delta(spark, path).orderBy("id").collect() == before


def test_optimize_min_file_size_nothing_to_do(spark, tmp_path):
    """A single small candidate (nothing to pair it with) is a no-op."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 20_000).selectExpr("id", "id as v").coalesce(1), path)
    dl.write_delta(spark.range(9, 10).selectExpr("id", "id as v").coalesce(1), path, mode="append")
    sizes = sorted(int(a["size"]) for a in _active(path).values())
    assert dl.optimize_delta(spark, path, min_file_size=sizes[0] + 1) is None


def test_optimize_target_file_size_bins_output(spark, tmp_path):
    """target_file_size packs candidates into ~ceil(bytes/target) output
    files instead of one; content round-trips and every action stays
    dataChange=false."""
    path = str(tmp_path / "t")
    df = spark.range(0, 40_000).selectExpr("id", "cast(id as string) as s")
    dl.write_delta(df.repartition(8), path)
    active0 = _active(path)
    assert len(active0) == 8
    total = sum(int(a["size"]) for a in active0.values())
    target = total // 3  # expect ~3-4 bins
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, target_file_size=target)
    assert v is not None
    active = _active(path)
    assert 2 <= len(active) <= 5
    assert dl.read_delta(spark, path).orderBy("id").collect() == before
    for a in _commit_actions(path, v):
        payload = a.get("add") or a.get("remove")
        if payload:
            assert payload["dataChange"] is False
    info = next(
        a["commitInfo"] for a in _commit_actions(path, v) if "commitInfo" in a
    )
    assert info["operationParameters"]["targetFileSize"] == target


def test_optimize_byte_aware_partitioned(spark, tmp_path):
    """Selection and binning stay partition-local: only the partition
    with >= 2 small candidates rewrites; rows never migrate."""
    path = str(tmp_path / "t")
    _mk_table(spark, path, files_per_part=3)
    sizes = {rel: int(a["size"]) for rel, a in _active(path).items()}
    cutoff = max(sizes.values()) + 1  # every file is a candidate
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, min_file_size=cutoff, target_file_size=10**9)
    assert v is not None
    by_part: dict[str, int] = {}
    for rel in _active(path):
        by_part[rel.split("/")[0]] = by_part.get(rel.split("/")[0], 0) + 1
    assert by_part == {"p=a": 1, "p=b": 1, "p=c": 1}
    assert dl.read_delta(spark, path).orderBy("id").collect() == before


def test_optimize_min_file_size_selects_dv_files(spark, tmp_path):
    """A file carrying a deletion vector is a candidate regardless of
    size (compaction materializes its deletes); pairing it with one
    small file compacts both and the DV disappears."""
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.range(0, 20_000).selectExpr("id", "id as v").coalesce(1), path
    )
    # upgrade to a DV table the way the conformance fixtures do: the
    # feature on BOTH protocol sides plus the enablement key, one commit
    vlatest = dl._list_versions(path)[-1]
    meta = dict(dl._latest_metadata(path, vlatest))
    cfg = dict(meta.get("configuration", {}))
    cfg["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = cfg
    dl._commit(
        path,
        vlatest + 1,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": meta},
        ],
    )
    dl.delete_delta(spark, path, "id = 7", use_dv=True)
    dl.write_delta(
        spark.range(50_000, 50_001).selectExpr("id", "id as v").coalesce(1),
        path,
        mode="append",
    )
    assert any(a.get("deletionVector") for a in _active(path).values())
    before = dl.read_delta(spark, path).orderBy("id").collect()
    v = dl.optimize_delta(spark, path, min_file_size=1024)
    assert v is not None
    active = _active(path)
    assert not any(a.get("deletionVector") for a in active.values())
    assert dl.read_delta(spark, path).orderBy("id").collect() == before
