"""External-Delta conformance (round-5 directive #3).

Two directions:

1. READ a committed golden `_delta_log` laid out byte-level like a real
   delta-spark 3.x writer's output (hand-derived from the public Delta
   transaction-log protocol; regenerate with
   scripts/make_golden_delta.py — no external Delta implementation
   exists in this sandbox to produce one live). Our reader must
   reconstruct snapshots, time travel, hive partition values, and the
   txn watermark from those exact bytes — including action fields our
   own writer never emits (commitInfo.engineInfo/isolationLevel/
   operationMetrics, remove.extendedFileMetadata, txn.lastUpdated),
   which it must tolerate, not trip over.

2. CHECK our writer's emitted actions field-by-field against the spec's
   requirements (required fields, types, relative paths, stringified
   partitionValues, %020d commit names, checkpoint carries the
   reconciled state) so a spec-conformant external reader would accept
   a table we wrote.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import long_suite, txn_versions

pytestmark = long_suite

from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "golden_delta")


def test_golden_read_latest_snapshot(spark):
    df = dl.read_delta(spark, GOLDEN)
    rows = sorted((r["part"], r["id"], r["v"]) for r in df.collect())
    # v1 removed the part=b file and added (4, 4.5) in part=a
    assert rows == [("a", 1, 1.5), ("a", 2, 2.5), ("a", 4, 4.5)]
    assert [f.name for f in df.schema.fields] == ["part", "id", "v"]


def test_golden_time_travel_and_partition_filter(spark):
    v0 = dl.read_delta(spark, GOLDEN, version=0)
    assert sorted((r["part"], r["id"]) for r in v0.collect()) == [
        ("a", 1), ("a", 2), ("b", 3),
    ]
    only_a = dl.read_delta(spark, GOLDEN, partition_filter={"part": "a"})
    assert sorted(r["id"] for r in only_a.collect()) == [1, 2, 4]


def test_golden_txn_and_history(spark):
    txns = txn_versions(GOLDEN)
    assert txns["golden-app"] == 7
    assert "other-app" not in txns
    ops = [h["operation"] for h in dl.delta_history(GOLDEN)]
    assert ops == ["WRITE", "MERGE"]


def test_golden_checkpoint_roundtrip(spark, tmp_path):
    """Checkpointing a table whose log an external writer authored must
    reconcile the same snapshot (copy the fixture — checkpoints write)."""
    import shutil

    work = str(tmp_path / "golden_copy")
    shutil.copytree(GOLDEN, work)
    v = dl.write_checkpoint(work, 1)
    assert v == 1
    assert os.path.exists(dl._last_checkpoint_file(work))
    rows = sorted((r["part"], r["id"]) for r in dl.read_delta(spark, work).collect())
    assert rows == [("a", 1), ("a", 2), ("a", 4)]


def test_golden_data_skipping_stats(spark):
    """The golden adds carry delta-spark-shaped stats JSON; our
    file-level skipping must consume them (id > 3 prunes to one file)."""
    df = dl.read_delta(spark, GOLDEN, where=("id", ">", 3))
    files = {os.path.basename(f) for f in df.inputFiles()}
    assert len(files) == 1 and any("part-00002" in f for f in files)


# ---- direction 2: our writer against the spec checklist ----------------

def _actions(path: str, version: int) -> list[dict]:
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_written_table_spec_checklist(spark, tmp_path):
    """Field-by-field protocol conformance of a table our writer
    produced: commit naming, protocol/metaData requirements, add/remove
    shape — everything a spec-conformant reader keys on."""
    path = str(tmp_path / "spec")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    dl.write_delta(df, path)
    dl.write_delta(
        spark.createDataFrame([(3, "z")], "id long, s string"),
        path,
        mode="append",
    )

    log_dir = os.path.join(path, "_delta_log")
    names = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    assert names == ["00000000000000000000.json", "00000000000000000001.json"]

    v0 = _actions(path, 0)
    protos = [a["protocol"] for a in v0 if "protocol" in a]
    metas = [a["metaData"] for a in v0 if "metaData" in a]
    assert len(protos) == 1 and len(metas) == 1
    p = protos[0]
    assert isinstance(p["minReaderVersion"], int) and p["minReaderVersion"] >= 1
    assert isinstance(p["minWriterVersion"], int) and p["minWriterVersion"] >= 2
    m = metas[0]
    assert isinstance(m["id"], str) and m["id"]
    assert m["format"] == {"provider": "parquet", "options": {}}
    schema = json.loads(m["schemaString"])  # valid Spark StructType JSON
    assert schema["type"] == "struct"
    assert [f["name"] for f in schema["fields"]] == ["id", "s"]
    assert all(
        set(f) >= {"name", "type", "nullable", "metadata"} for f in schema["fields"]
    )
    assert m["partitionColumns"] == []
    assert isinstance(m["configuration"], dict)

    for version in (0, 1):
        for a in _actions(path, version):
            if "add" not in a:
                continue
            add = a["add"]
            assert set(add) >= {
                "path", "partitionValues", "size", "modificationTime", "dataChange",
            }
            assert not add["path"].startswith("/"), "paths must be table-relative"
            assert os.path.exists(os.path.join(path, add["path"]))
            assert isinstance(add["size"], int) and add["size"] > 0
            assert add["dataChange"] is True
            assert all(
                isinstance(k, str) and (v is None or isinstance(v, str))
                for k, v in add["partitionValues"].items()
            )
            stats = json.loads(add["stats"])
            assert set(stats) >= {"numRecords", "minValues", "maxValues", "nullCount"}

    # overwrite emits spec-shaped remove actions
    dl.write_delta(df, path, mode="overwrite")
    removes = [a["remove"] for a in _actions(path, 2) if "remove" in a]
    assert removes and all(
        set(r) >= {"path", "deletionTimestamp", "dataChange"} and r["dataChange"] is True
        for r in removes
    )


def test_written_partition_values_are_logical(spark, tmp_path):
    """Hive-escaped dir names must round-trip to LOGICAL partitionValues
    in the log (spec: partitionValues holds the values, not the escaped
    dir fragments) — the delta-rs/delta-spark interop detail."""
    path = str(tmp_path / "specpart")
    df = spark.createDataFrame([("pt:BR", 1), (None, 2)], "lang string, id long")
    dl.write_delta(df, path, partition_by=["lang"])
    pvals = sorted(
        (a["add"]["partitionValues"]["lang"] or "<null>")
        for a in _actions(path, 0)
        if "add" in a
    )
    assert pvals == ["<null>", "pt:BR"]


def test_golden_checkpoint_schema_columns(spark, tmp_path):
    """Our checkpoint parquet carries the spec's per-action struct
    columns so an external reader can replay from it."""
    import shutil

    import pyarrow.parquet as pq

    work = str(tmp_path / "golden_cp")
    shutil.copytree(GOLDEN, work)
    dl.write_checkpoint(work, 1)
    cp = dl._checkpoint_file(work, 1)
    cols = set(pq.read_schema(cp).names)
    assert {"txn", "add", "remove", "metaData", "protocol"} <= cols


# ---- fixture family: protocol gates + external checkpoint layout -------
#
# (round-7 directive: the spec REQUIRES refusal of tables above the
# reader/writer capability ceiling — silently misreading an external
# reader-v3 table was the one silent-wrong-answer path left)

GOLDEN_DV = os.path.join(os.path.dirname(__file__), "data", "golden_delta_dv")
GOLDEN_CM = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cm")
GOLDEN_CMID = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cmid")
GOLDEN_WFEAT = os.path.join(os.path.dirname(__file__), "data", "golden_delta_wfeat")
GOLDEN_INV = os.path.join(os.path.dirname(__file__), "data", "golden_delta_inv")
GOLDEN_CKPT = os.path.join(os.path.dirname(__file__), "data", "golden_delta_ckpt")
GOLDEN_NTZ = os.path.join(os.path.dirname(__file__), "data", "golden_delta_ntz")
GOLDEN_V2CP = os.path.join(os.path.dirname(__file__), "data", "golden_delta_v2cp")
GOLDEN_ROWTRACK = os.path.join(
    os.path.dirname(__file__), "data", "golden_delta_rowtracking"
)
GOLDEN_VPC = os.path.join(os.path.dirname(__file__), "data", "golden_delta_vpc")
GOLDEN_VARIANT = os.path.join(
    os.path.dirname(__file__), "data", "golden_delta_variant"
)
GOLDEN_COLLATIONS = os.path.join(
    os.path.dirname(__file__), "data", "golden_delta_collations"
)
GOLDEN_ICT = os.path.join(os.path.dirname(__file__), "data", "golden_delta_ict")
GOLDEN_TW = os.path.join(os.path.dirname(__file__), "data", "golden_delta_tw")


def test_deletion_vector_table_reads(spark):
    """Reader-v3 + deletionVectors (round-8 positive fixture): rows
    deleted through DV sidecars are absent — file-based 'u' descriptor
    (version byte, framed offset, CRC) on file1, inline 'i' Z85 on
    file2, file3 untouched."""
    df = dl.read_delta(spark, GOLDEN_DV)
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [2, 3, 5, 6, 7, 9, 10, 11, 12]  # 1,4,8 DV-deleted
    # time travel to v0 (before the DELETE commit): all rows visible
    assert dl.read_delta(spark, GOLDEN_DV, version=0).count() == 12


def test_deletion_vector_ops_matrix(spark, tmp_path):
    """Per-operation writer matrix on a DV table (round-9: apply-and-
    rewrite replaced the blanket refusal): APPEND lands untouched;
    DELETE rewrites only hit files with their bitmaps APPLIED (no
    resurrection, new adds DV-free, removes repeat the tombstoned DV);
    overwrite lands; VACUUM keeps a referenced .bin."""
    import shutil

    work = str(tmp_path / "dv")
    shutil.copytree(GOLDEN_DV, work)
    batch = spark.createDataFrame([(100, 10.0)], "id long, v double")
    v = dl.write_delta(batch, work, mode="append")
    assert v == 2
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [2, 3, 5, 6, 7, 9, 10, 11, 12, 100]  # DVs still applied
    # checkpointing the appended table keeps the DV descriptors
    dl.write_checkpoint(work)
    assert dl.read_delta(spark, work).count() == 10
    # the referenced .bin survives an aggressive vacuum
    deleted = dl.vacuum_delta(work, retain_hours=0.0, force=True)
    assert not any(d.endswith(".bin") for d in deleted)
    assert dl.read_delta(spark, work).count() == 10

    # DELETE a live row from the DV-bearing file: survivors = logical
    # content minus the predicate; DV-deleted ids (1, 4) stay gone
    v = dl.delete_delta(spark, work, "id = 2")
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [3, 5, 6, 7, 9, 10, 11, 12, 100]
    acts = _actions(work, v)
    rm_dvs = [a["remove"].get("deletionVector") for a in acts if "remove" in a]
    assert any(d is not None for d in rm_dvs)  # tombstone repeats the DV
    assert all(
        a["add"].get("deletionVector") is None for a in acts if "add" in a
    )  # rewritten files are DV-free

    # DELETE matching ONLY DV-deleted rows is a no-op (phase 1 sees
    # logical content) — no spurious version
    assert dl.delete_delta(spark, work, "id = 1") == v

    # overwrite replaces everything — trivially safe on a DV table
    dl.write_delta(batch, work, mode="overwrite")
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [100]


def test_dv_emit_delete_copy_on_write(spark, tmp_path):
    """delete_delta(use_dv=True): the spec's copy-on-write DV posture —
    no data file is rewritten, the commit is remove(old DV) + add(same
    path, grown DV) and survivors exclude old AND new deletes."""
    import shutil

    work = str(tmp_path / "dvw")
    shutil.copytree(GOLDEN_DV, work)
    before_active, _, _, _ = dl._replay(work, None)
    v = dl.delete_delta(spark, work, "id = 2", use_dv=True)
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [3, 5, 6, 7, 9, 10, 11, 12]
    after_active, _, _, _ = dl._replay(work, None)
    # same data files — nothing was rewritten
    assert set(after_active) == set(before_active)
    # the hit file's DV grew from 2 to 3 deleted rows
    grown = [
        a["deletionVector"]["cardinality"]
        for rel, a in after_active.items()
        if a.get("deletionVector")
        and a["deletionVector"] != before_active[rel].get("deletionVector")
    ]
    assert grown == [3]
    # the remove tombstone repeats the OLD DV; the new add carries the new
    acts = _actions(work, v)
    rm = [a["remove"] for a in acts if "remove" in a]
    ad = [a["add"] for a in acts if "add" in a]
    assert len(rm) == 1 and len(ad) == 1
    assert rm[0]["deletionVector"]["cardinality"] == 2
    assert ad[0]["path"] == rm[0]["path"]
    # time travel to the pre-delete snapshot still sees id=2
    assert 2 in {
        r["id"] for r in dl.read_delta(spark, work, version=v - 1).collect()
    }


def test_dv_emit_delete_gates_and_fallback(spark, tmp_path, monkeypatch):
    """use_dv=True refuses on a table without the DV feature (never an
    implicit protocol upgrade), and falls back to the rewrite path when
    the match volume exceeds DV_WRITE_MAX — correct rows either way."""
    import shutil

    plain = str(tmp_path / "plain")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    dl.write_delta(df, plain)
    with pytest.raises(ValueError, match="deletionVectors"):
        dl.delete_delta(spark, plain, "id = 1", use_dv=True)

    work = str(tmp_path / "dvfb")
    shutil.copytree(GOLDEN_DV, work)
    monkeypatch.setattr(dl, "DV_WRITE_MAX", 0)
    v = dl.delete_delta(spark, work, "id = 2", use_dv=True)
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [3, 5, 6, 7, 9, 10, 11, 12]
    # fallback REWROTE: the new adds carry no DV
    acts = _actions(work, v)
    assert all(not a["add"].get("deletionVector") for a in acts if "add" in a)


def test_dv_emit_delete_whole_file_drops_add(spark, tmp_path):
    """A DV that would cover every physical row of a file commits as a
    remove with NO re-add — a fully-deleted file must leave the
    snapshot, not linger as an all-deleted bitmap."""
    import json as _json

    path = str(tmp_path / "dvwhole")
    dl.write_delta(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, v double"
        ).coalesce(1),
        path,
    )
    dl.write_delta(
        spark.createDataFrame(
            [(3, 3.0), (4, 4.0)], "id long, v double"
        ).coalesce(1),
        path,
        mode="append",
    )
    # hand-upgrade: protocol v3/v7 + deletionVectors, property enabled
    meta = dl._latest_metadata(path, dl._list_versions(path)[-1])
    meta = dict(meta)
    meta["configuration"] = {"delta.enableDeletionVectors": "true"}
    ver = dl._list_versions(path)[-1] + 1
    with open(
        os.path.join(path, "_delta_log", f"{ver:020d}.json"), "w"
    ) as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(_json.dumps({"metaData": meta}) + "\n")
    v = dl.delete_delta(spark, path, "id <= 2", use_dv=True)
    assert sorted(r["id"] for r in dl.read_delta(spark, path).collect()) == [3, 4]
    acts = _actions(path, v)
    assert sum(1 for a in acts if "remove" in a) == 1
    assert sum(1 for a in acts if "add" in a) == 0  # whole file dropped
    # and a partial DV delete on the surviving file emits a real DV
    v2 = dl.delete_delta(spark, path, "id = 3", use_dv=True)
    acts2 = _actions(path, v2)
    adds2 = [a["add"] for a in acts2 if "add" in a]
    assert len(adds2) == 1 and adds2[0]["deletionVector"]["cardinality"] == 1
    assert sorted(r["id"] for r in dl.read_delta(spark, path).collect()) == [4]


def test_dv_optimize_materializes_and_vacuum_reclaims(spark, tmp_path):
    """OPTIMIZE on a DV table compacts with the bitmaps APPLIED
    (content unchanged → dataChange stays false, streaming readers
    skip it) and leaves no DV-bearing add; the orphaned .bin then
    becomes vacuum-reclaimable."""
    import shutil

    work = str(tmp_path / "dv_opt")
    shutil.copytree(GOLDEN_DV, work)
    ov = dl.optimize_delta(spark, work, target_files=1)
    assert ov is not None
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [2, 3, 5, 6, 7, 9, 10, 11, 12]  # 1,4,8 stay deleted
    oacts = _actions(work, ov)
    assert all(not a["add"].get("deletionVector") for a in oacts if "add" in a)
    assert all(not a["add"]["dataChange"] for a in oacts if "add" in a)
    assert all(not a["remove"]["dataChange"] for a in oacts if "remove" in a)
    assert any(
        a["remove"].get("deletionVector") for a in oacts if "remove" in a
    )  # tombstones repeat the DV they retire
    active, _, _, _ = dl._replay(work, None)
    assert not any(a.get("deletionVector") for a in active.values())
    deleted = dl.vacuum_delta(work, retain_hours=0.0, force=True)
    assert any(d.endswith(".bin") for d in deleted)
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == ids


def test_deletion_vector_checkpoint_roundtrip(spark, tmp_path):
    """Checkpointing a DV table must carry the descriptors: after log
    cleanup the checkpoint is the only source, and a dropped DV would
    resurrect deleted rows (the worst failure mode)."""
    import shutil

    work = str(tmp_path / "dv_cp")
    shutil.copytree(GOLDEN_DV, work)
    dl.write_checkpoint(work, 1)
    for v in (0,):
        os.remove(os.path.join(work, "_delta_log", f"{v:020d}.json"))
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [2, 3, 5, 6, 7, 9, 10, 11, 12]


def test_deletion_vector_corruption_refused(spark, tmp_path):
    """A DV whose bytes disagree with the descriptor (CRC or
    cardinality) must raise, never silently mis-delete."""
    import shutil

    work = str(tmp_path / "dv_bad")
    shutil.copytree(GOLDEN_DV, work)
    binp = next(
        os.path.join(work, f)
        for f in os.listdir(work)
        if f.startswith("deletion_vector_")
    )
    raw = bytearray(open(binp, "rb").read())
    raw[-1] ^= 0xFF  # corrupt the CRC word
    with open(binp, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(Exception, match="checksum|cardinality"):
        dl.read_delta(spark, work).collect()


def test_timestamp_ntz_table_reads_and_writes(spark, tmp_path):
    """Reader-v3 + timestampNtz: the ntz column reads back as the
    wall-clock instants written (session timezone is UTC-pinned, but
    NTZ semantics are timezone-free by definition); since round 10
    WRITES land too — Spark's native TimestampNTZType parquet shape IS
    the isAdjustedToUTC=false the feature demands."""
    import datetime

    df = dl.read_delta(spark, GOLDEN_NTZ)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "timestamp_ntz",
    ]
    rows = sorted((r["id"], r["ts"]) for r in df.collect())
    assert rows == [
        (1, datetime.datetime(2024, 1, 1, 12, 0, 0)),
        (2, datetime.datetime(2024, 6, 1, 0, 30, 0)),
    ]
    import shutil

    work = str(tmp_path / "ntz")
    shutil.copytree(GOLDEN_NTZ, work)
    batch = spark.createDataFrame(
        [(3, datetime.datetime(2025, 1, 1))], "id long, ts timestamp_ntz"
    )
    dl.write_delta(batch, work, mode="append")
    got = sorted((r["id"], r["ts"]) for r in dl.read_delta(spark, work).collect())
    assert got[-1] == (3, datetime.datetime(2025, 1, 1))
    # the appended parquet must be TIMESTAMP(isAdjustedToUTC=false)
    import pyarrow.parquet as pq

    adds = [
        a["add"]["path"]
        for a in dl._read_actions(work, dl._list_versions(work)[-1])
        if "add" in a
    ]
    arrow_field = pq.read_schema(os.path.join(work, adds[0])).field("ts")
    assert arrow_field.type.tz is None  # wall-clock, not UTC-adjusted
    # DML works too (rewrite keeps the ntz shape)
    dl.delete_delta(spark, work, "id = 1")
    assert dl.read_delta(spark, work).count() == 2


def test_timestamp_ntz_new_table_declares_feature(spark, tmp_path):
    """Creating a table whose schema carries an ntz column must declare
    timestampNtz on BOTH protocol sides — otherwise an external reader
    would shift wall-clock values."""
    import datetime

    path = str(tmp_path / "ntz_new")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 1, 9, 0, 0))],
        "id long, ts timestamp_ntz",
    )
    dl.write_delta(df, path)
    proto = dl._latest_protocol(path, 0)
    assert proto["minReaderVersion"] == 3
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    got = dl.read_delta(spark, path).first()
    assert got["ts"] == datetime.datetime(2024, 3, 1, 9, 0, 0)
    # evolution ADDING an ntz column to a plain table still refuses
    # (it would demand an implicit protocol upgrade)
    plain = str(tmp_path / "plain")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), plain)
    with pytest.raises(ValueError, match="timestampNtz"):
        dl.write_delta(
            spark.createDataFrame(
                [(2, datetime.datetime(2025, 1, 1))],
                "id long, ts timestamp_ntz",
            ),
            plain,
            merge_schema=True,
        )


def test_variant_table_reads_and_writes(spark, tmp_path):
    """Reader-v3 + variantType (round-11): the fixture's UNANNOTATED
    group<value,metadata> physical layout (pre-annotation writers)
    reads back as Spark VariantType; appends land Spark's annotated
    form; DML predicates can reach inside the variant."""
    from pyspark.sql import functions as F

    df = dl.read_delta(spark, GOLDEN_VARIANT)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "variant",
    ]
    got = sorted(
        (r["id"], r["j"])
        for r in df.select("id", F.to_json("v").alias("j")).collect()
    )
    assert got == [
        (1, '{"a":1,"s":"x"}'),
        (2, '{"a":2,"s":"y"}'),
        (3, "null"),
    ]
    import shutil

    work = str(tmp_path / "var")
    shutil.copytree(GOLDEN_VARIANT, work)
    batch = spark.createDataFrame([(4, '{"a": 4}')], "id long, j string").select(
        "id", F.parse_json("j").alias("v")
    )
    dl.write_delta(batch, work, mode="append")
    back = dl.read_delta(spark, work).select(
        "id", F.to_json("v").alias("j")
    )
    assert sorted((r["id"], r["j"]) for r in back.collect()) == [
        (1, '{"a":1,"s":"x"}'),
        (2, '{"a":2,"s":"y"}'),
        (3, "null"),
        (4, '{"a":4}'),
    ]
    # DML: the predicate dereferences the variant (spec encoding read
    # across BOTH physical spellings in the same scan)
    dl.delete_delta(spark, work, "variant_get(v, '$.a', 'long') = 1")
    assert sorted(
        r["id"] for r in dl.read_delta(spark, work).collect()
    ) == [2, 3, 4]
    # checkpoint round-trips the variant schemaString
    cp_v = dl.write_checkpoint(work)
    assert cp_v == dl._list_versions(work)[-1]
    again = dl.read_delta(spark, work).select(
        "id", F.to_json("v").alias("j")
    )
    assert sorted((r["id"], r["j"]) for r in again.collect()) == [
        (2, '{"a":2,"s":"y"}'),
        (3, "null"),
        (4, '{"a":4}'),
    ]


def test_variant_new_table_declares_feature(spark, tmp_path):
    """Creating a table whose schema carries a variant column must
    declare variantType on BOTH protocol sides — the Variant binary
    encoding is meaningless to a reader that does not know it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "var_new")
    df = spark.createDataFrame(
        [(1, '{"k": [1, 2]}')], "id long, j string"
    ).select("id", F.parse_json("j").alias("v"))
    dl.write_delta(df, path)
    proto = dl._latest_protocol(path, 0)
    assert proto["minReaderVersion"] == 3
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    got = dl.read_delta(spark, path).select(F.to_json("v").alias("j")).first()
    assert got["j"] == '{"k":[1,2]}'
    # evolution ADDING a variant column to a plain table refuses (it
    # would demand an implicit protocol upgrade)
    plain = str(tmp_path / "plain_v")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), plain)
    with pytest.raises(ValueError, match="variantType"):
        dl.write_delta(
            spark.createDataFrame([(2, '{"x": 1}')], "id long, j string")
            .select("id", F.parse_json("j").alias("v")),
            plain,
            merge_schema=True,
        )


def test_collations_read_write_and_prune_guard(spark, tmp_path):
    """Writer v7 + collations-preview (round-11): the __COLLATIONS
    field metadata parses to a collated StringType (Spark-native), so
    engine comparisons are collation-aware; data skipping must IGNORE
    the fixture's binary-order stats on the collated column (pruning
    's = apple' against file0's binary ['APPLE','Banana'] range would
    wrongly skip the collation-equal 'APPLE'); appends preserve the
    collation metadata and never emit binary min/max for it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = dl.read_delta(spark, GOLDEN_COLLATIONS)
    assert df.schema["s"].dataType == T.StringType("UNICODE_CI")
    # collation-aware equality: 'apple' matches APPLE + apple, not Banana
    assert sorted(
        r["id"] for r in df.filter(F.col("s") == "apple").collect()
    ) == [1, 3]
    # the prune path must NOT trust binary bounds: where= keeps file0
    pruned = dl.read_delta(spark, GOLDEN_COLLATIONS, where=("s", "=", "apple"))
    assert sorted(
        r["id"] for r in pruned.filter(F.col("s") == "apple").collect()
    ) == [1, 3]
    import shutil

    work = str(tmp_path / "coll")
    shutil.copytree(GOLDEN_COLLATIONS, work)
    # append a PLAIN-string batch (delta-spark accepts the same write)
    v = dl.write_delta(
        spark.createDataFrame([(4, "bAnAnA")], "id long, s string"),
        work,
        mode="append",
    )
    meta = dl._latest_metadata(work, v)
    assert '"__COLLATIONS":{"s":"icu.UNICODE_CI"}' in meta["schemaString"]
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    stats = json.loads(adds[0]["stats"])
    assert "s" not in stats["minValues"]  # binary order is not collated order
    assert "id" in stats["minValues"]  # other columns keep skipping stats
    assert stats["nullCount"].get("s") == 0  # collation-independent, kept
    # collation-aware DML: DELETE 'banana' removes Banana AND bAnAnA
    dl.delete_delta(spark, work, "s = 'banana'")
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        1,
        3,
    ]


def test_collations_new_table_declares_feature(spark, tmp_path):
    """Creating a table whose schema carries a collated column declares
    collations-preview in writerFeatures ONLY — string bytes are plain
    UTF-8, readable by any reader (minReaderVersion stays 1)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "coll_new")
    df = spark.createDataFrame(
        [(1, "Mixed"), (2, "mixed")], "id long, s string"
    ).select("id", F.collate("s", "UNICODE_CI").alias("s"))
    dl.write_delta(df, path)
    proto = dl._latest_protocol(path, 0)
    assert proto["minReaderVersion"] == 1
    assert proto["minWriterVersion"] == 7
    assert "collations-preview" in proto["writerFeatures"]
    assert "readerFeatures" not in proto
    back = dl.read_delta(spark, path)
    assert back.filter(F.col("s") == "MIXED").count() == 2
    # the created adds never carry binary min/max for the collated col
    adds = [a["add"] for a in dl._read_actions(path, 0) if "add" in a]
    for a in adds:
        st = json.loads(a["stats"])
        assert "s" not in st["minValues"]


def test_collations_partition_filter_guard(spark, tmp_path):
    """partition_filter on a collated partition column refuses instead
    of binary-matching hive values."""
    # collated PARTITION columns refuse wholesale: Spark cannot cast
    # hive dir values to a collated type (INVALID_PARTITION_VALUE) and
    # refuses to CREATE such tables — but an external log could declare
    # one; simulate by stamping __COLLATIONS onto a plain partitioned
    # table's schemaString.
    pdir = str(tmp_path / "coll_part")
    pdf = spark.createDataFrame([(1, "a"), (2, "A")], "id long, p string")
    dl.write_delta(pdf, pdir, partition_by=["p"])
    log0 = os.path.join(pdir, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            doc = json.loads(a["metaData"]["schemaString"])
            for f in doc["fields"]:
                if f["name"] == "p":
                    f["metadata"]["__COLLATIONS"] = {"p": "icu.UNICODE_CI"}
            a["metaData"]["schemaString"] = json.dumps(doc)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="collated"):
        dl.read_delta(spark, pdir)


def test_iceberg_compat_reads_pass_writes_refuse(spark, tmp_path):
    """icebergCompatV1/V2 (UniForm) are WRITER features — the parquet
    bytes are ordinary Delta, so reads must pass untouched; writes must
    refuse (the compat obligations — materialized partition values,
    nested field ids, DV bans — are not implemented, and a
    non-conforming commit would corrupt the table's Iceberg mirror)."""
    import shutil

    for feat in ("icebergCompatV1", "icebergCompatV2"):
        work = str(tmp_path / feat)
        shutil.copytree(GOLDEN_CM, work)
        log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
        acts = [json.loads(line) for line in open(log0)]
        for a in acts:
            if "protocol" in a:
                a["protocol"]["minWriterVersion"] = 7
                a["protocol"]["writerFeatures"] = ["columnMapping", feat]
            if "metaData" in a:
                a["metaData"]["configuration"][
                    f"delta.enable{feat[0].upper()}{feat[1:]}"
                ] = "true"
        with open(log0, "w") as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")
        assert dl.read_delta(spark, work).count() == 2
        with pytest.raises(dl.DeltaUnsupportedProtocol, match=feat):
            dl.write_delta(
                spark.createDataFrame([(9, 9.0)], "id long, v double"),
                work,
                mode="append",
            )


def test_variant_shredding_refuses(spark, tmp_path):
    """variantShredding-preview moves typed values OUT of the value
    binary into shredded typed_value columns — bytes this reader would
    misinterpret; the reader feature gate must refuse."""
    import shutil

    work = str(tmp_path / "var_shred")
    shutil.copytree(GOLDEN_VARIANT, work)
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"]["readerFeatures"].append("variantShredding-preview")
            a["protocol"]["writerFeatures"].append("variantShredding-preview")
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="variantShredding"):
        dl.read_delta(spark, work).collect()


def test_column_mapping_name_mode_reads(spark):
    """Reader-v2 name-mode column mapping (round-8): parquet columns
    are physical (col-xxxx); the read resolves them to the logical
    schema names via delta.columnMapping.physicalName field metadata —
    the delta-spark 3.x table shape any RENAME COLUMN produces."""
    df = dl.read_delta(spark, GOLDEN_CM)
    assert df.columns == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, 1.0),
        (2, 2.0),
    ]
    # version pin reads the same snapshot
    assert dl.read_delta(spark, GOLDEN_CM, version=0).count() == 2


def test_column_mapping_partitioned_reads(spark, tmp_path):
    """Name-mode mapping on a PARTITIONED table: hive dirs and
    partitionValues carry the PHYSICAL partition-column name; the read
    presents logical names in metaData column order and partition
    pruning matches through the mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cmp")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "lang",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-p1",
                    },
                },
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-d1",
                    },
                },
            ],
        }
    )
    rels = {}
    for part, ids in (("en", [1, 2]), ("fr", [3])):
        rel = f"col-p1={part}/part-0000-{part}-c000.snappy.parquet"
        dest = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(
            pa.table({"col-d1": pa.array(ids, pa.int64())}), dest
        )
        rels[part] = (rel, os.path.getsize(dest))
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": ["lang"],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 0,
            }
        },
    ] + [
        {
            "add": {
                "path": rel,
                "partitionValues": {"col-p1": part},
                "size": size,
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for part, (rel, size) in rels.items()
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    df = dl.read_delta(spark, root)
    assert df.columns == ["lang", "id"]  # metaData order, logical names
    rows = sorted((r["lang"], r["id"]) for r in df.collect())
    assert rows == [("en", 1), ("en", 2), ("fr", 3)]
    # partition pruning through the LOGICAL name
    fr = dl.read_delta(spark, root, partition_filter={"lang": "fr"})
    assert sorted(r["id"] for r in fr.collect()) == [3]


def test_column_mapping_gate_not_widened(spark, tmp_path):
    """CM write support must not widen the gate past columnMapping: a
    v7 table pairing columnMapping with an UNSUPPORTED writer feature
    still refuses, and a CM table with an enabled change data feed
    refuses (this writer emits no cdc actions)."""
    import shutil

    work = str(tmp_path / "cm")
    shutil.copytree(GOLDEN_CM, work)
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 2,
                "minWriterVersion": 7,
                "writerFeatures": ["columnMapping", "identityColumns"],
            }
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    batch = spark.createDataFrame([(3, 3.0)], "id long, v double")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="identityColumns"):
        dl.write_delta(batch, work, mode="append")
    # CDF-enabled CM table (legacy v5): APPENDS land since round 10 —
    # add-only commits need no cdc action (CDF readers derive them as
    # inserts), so the write upholds the feed vacuously
    work2 = str(tmp_path / "cmcdf")
    shutil.copytree(GOLDEN_CM, work2)
    log0 = os.path.join(work2, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableChangeDataFeed"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    v = dl.write_delta(batch, work2, mode="append")
    appended = dl._read_actions(work2, v)
    assert not any("cdc" in a for a in appended)  # add-only: no cdc
    assert dl.read_delta(spark, work2).count() == 3


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """id-mode mapping (round-9): the fixture's parquet column names
    match NEITHER the logical names NOR Delta's physicalName, and the
    column order is scrambled — only the parquet field ids
    (= delta.columnMapping.id) identify columns. The read must resolve
    by id and present logical names."""
    import shutil

    df = dl.read_delta(spark, GOLDEN_CMID)
    assert df.columns == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, 1.5), (2, 2.5),
    ]
    # appends now work too (round-9 late: field-id stamped writes);
    # the write contract is covered by test_cmid_append_field_ids
    work = str(tmp_path / "cmid")
    shutil.copytree(GOLDEN_CMID, work)
    batch = spark.createDataFrame([(3, 3.0)], "id long, v double")
    dl.write_delta(batch, work, mode="append")
    assert dl.read_delta(spark, work).count() == 3


def test_column_mapping_id_mode_missing_ids_fails_loudly(spark, tmp_path):
    """An id-mode table whose parquet files carry NO field ids (a
    corrupt or mislabeled conversion) must fail LOUDLY at read — never
    fall back to name matching that could bind the wrong columns."""
    import shutil

    work = str(tmp_path / "cm_id")
    shutil.copytree(GOLDEN_CM, work)
    log = os.path.join(work, "_delta_log", "00000000000000000000.json")
    with open(log) as f:
        lines = f.read().replace(
            '"delta.columnMapping.mode":"name"',
            '"delta.columnMapping.mode":"id"',
        )
    with open(log, "w") as f:
        f.write(lines)
    with pytest.raises(Exception, match="field|id"):
        dl.read_delta(spark, work).collect()


def test_unsupported_protocol_blocks_writes_not_reads(spark, tmp_path):
    """minReaderVersion=1 + minWriterVersion=7 writerFeatures
    [identityColumns]: reads succeed faithfully, commits refuse."""
    import shutil

    work = str(tmp_path / "wfeat")
    shutil.copytree(GOLDEN_WFEAT, work)
    rows = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, work).collect())
    assert rows == [(10, 0.5)]
    batch = spark.createDataFrame([(11, 1.5)], "id long, v double")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="identityColumns"):
        dl.write_delta(batch, work, mode="append")
    # the refused commit left no trace: snapshot unchanged
    assert dl.read_delta(spark, work).count() == 1


def test_column_invariants_enforced_on_append(spark, tmp_path):
    """delta.invariants in schema metadata (writer v2): round-12 turns
    the old blanket refusal into real enforcement — a violating append
    refuses BY the invariant (leaving no trace), a compliant one lands,
    and a NULL in the constrained column violates (PROTOCOL.md "Column
    Invariants": false OR null violates, stricter than CHECK)."""
    import shutil

    work = str(tmp_path / "inv")
    shutil.copytree(GOLDEN_INV, work)
    assert dl.read_delta(spark, work).count() == 1
    bad = spark.createDataFrame([(-1, 0.0)], "id long, v double")
    with pytest.raises(ValueError, match=r"invariant on id \(id > 0\)"):
        dl.write_delta(bad, work, mode="append")
    assert dl.read_delta(spark, work).count() == 1  # no trace
    nul = spark.createDataFrame(
        [(None, 2.0)], schema="id long, v double"
    )
    with pytest.raises(ValueError, match="invariant on id"):
        dl.write_delta(nul, work, mode="append")
    ok = spark.createDataFrame([(7, 2.0)], "id long, v double")
    dl.write_delta(ok, work, mode="append")
    rows = sorted(
        (r["id"], r["v"]) for r in dl.read_delta(spark, work).collect()
    )
    assert len(rows) == 2 and rows[1] == (7, 2.0)


def test_column_invariants_dml_and_row_moving_ops(spark, tmp_path):
    """Invariants bind every row-ADDING path (here the UPDATE rewrite)
    but row-MOVING operations (OPTIMIZE, DELETE) only carry
    rows that already satisfied them — they must pass, matching
    delta-spark (which does not re-check there). The pre-round-12
    commit choke point refused these outright."""
    import shutil

    work = str(tmp_path / "inv_dml")
    shutil.copytree(GOLDEN_INV, work)
    dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"),
        work,
        mode="append",
    )
    with pytest.raises(ValueError, match="invariant on id"):
        dl.update_delta(spark, work, "v = 6.0", {"id": "id - 100"})
    # a compliant append lands; OPTIMIZE and DELETE pass the gate
    dl.write_delta(
        spark.createDataFrame([(8, 8.0)], "id long, v double"),
        work,
        mode="append",
    )
    dl.optimize_delta(spark, work)
    dl.delete_delta(spark, work, "id = 8")
    rows = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert rows == [5, 6]


def test_column_invariants_nested_and_unparseable(spark, tmp_path):
    """A nested struct field's invariant (full dotted path in the
    expression, as delta-spark stores it) is enforced; an invariant
    whose JSON payload cannot be parsed refuses the commit with the
    column named — committing past a rule we cannot evaluate could
    silently break the table's contract."""
    import json as _json

    from pyspark.sql import types as T

    inv = _json.dumps({"expression": {"expression": "m.qty >= 0"}})
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "m",
                T.StructType(
                    [
                        T.StructField(
                            "qty",
                            T.LongType(),
                            True,
                            {"delta.invariants": inv},
                        )
                    ]
                ),
            ),
        ]
    )
    tbl = str(tmp_path / "nested_inv")
    dl.write_delta(
        spark.createDataFrame([(1, {"qty": 3})], schema=schema), tbl
    )
    with pytest.raises(ValueError, match=r"invariant on m\.qty"):
        dl.write_delta(
            spark.createDataFrame([(2, {"qty": -1})], schema=schema),
            tbl,
            mode="append",
        )
    # unparseable payload → refusal naming the column (fixture surgery:
    # corrupt the declared invariant in the golden table's metaData,
    # going through real JSON parsing so the nested escaping is exact)
    import shutil

    work = str(tmp_path / "inv_bad")
    shutil.copytree(GOLDEN_INV, work)
    log0 = os.path.join(work, "_delta_log", f"{0:020d}.json")
    with open(log0) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    out = []
    corrupted = False
    for ln in lines:
        action = _json.loads(ln)
        if "metaData" in action:
            sch = _json.loads(action["metaData"]["schemaString"])
            for fld in sch["fields"]:
                if "delta.invariants" in fld.get("metadata", {}):
                    fld["metadata"]["delta.invariants"] = "not json at all"
                    corrupted = True
            action["metaData"]["schemaString"] = _json.dumps(sch)
        out.append(_json.dumps(action))
    assert corrupted
    with open(log0, "w") as f:
        f.write("\n".join(out) + "\n")
    assert dl.read_delta(spark, work).count() == 1  # reads still fine
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="cannot"):
        dl.write_delta(
            spark.createDataFrame([(9, 1.0)], "id long, v double"),
            work,
            mode="append",
        )


def test_invariant_null_semantics_vs_check_constraint(spark, tmp_path):
    """The two rule families differ exactly on NULL: a CHECK constraint
    passes a NULL-evaluating row (SQL CHECK semantics), a column
    invariant refuses it (spec: false or null violates)."""
    import json as _json

    from pyspark.sql import types as T

    tbl_chk = str(tmp_path / "chk")
    dl.write_delta(
        spark.createDataFrame([(1, 5)], "id long, qty long"), tbl_chk
    )
    dl.add_constraint(spark, tbl_chk, "pos_qty", "qty > 0")
    dl.write_delta(
        spark.createDataFrame(
            [(2, None)], schema="id long, qty long"
        ),
        tbl_chk,
        mode="append",
    )  # NULL passes CHECK
    assert dl.read_delta(spark, tbl_chk).count() == 2

    inv = _json.dumps({"expression": {"expression": "qty > 0"}})
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "qty", T.LongType(), True, {"delta.invariants": inv}
            ),
        ]
    )
    tbl_inv = str(tmp_path / "invnull")
    dl.write_delta(spark.createDataFrame([(1, 5)], schema=schema), tbl_inv)
    with pytest.raises(ValueError, match="invariant on qty"):
        dl.write_delta(
            spark.createDataFrame(
                [(2, None)], schema="id long, qty long"
            ),
            tbl_inv,
            mode="append",
        )


def test_checkpoint_preserves_protocol_features(spark, tmp_path):
    """Checkpointing a writer-featured table must round-trip its
    readerFeatures/writerFeatures: after the JSON commits are gone, the
    reconstructed protocol still lists identityColumns and the write
    gate keeps refusing (round-7 advice: a featureless checkpoint
    laundered the gate away)."""
    import shutil

    work = str(tmp_path / "wfeat_cp")
    shutil.copytree(GOLDEN_WFEAT, work)
    # an external writer lands one more (featureless) commit, then the
    # log is checkpointed and cleaned below it — the round-7 laundering
    # scenario: only the checkpoint carries the protocol afterwards
    with open(os.path.join(work, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 0, "operation": "X"}}) + "\n")
    dl.write_checkpoint(work, 1)
    proto = None
    for action in dl._read_checkpoint_actions(work, 1):
        if "protocol" in action:
            proto = action["protocol"]
    assert proto is not None
    assert proto.get("writerFeatures") == ["identityColumns"]
    os.remove(os.path.join(work, "_delta_log", f"{0:020d}.json"))
    assert dl.read_delta(spark, work).count() == 1  # reads still fine
    batch = spark.createDataFrame([(11, 1.5)], "id long, v double")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="identityColumns"):
        dl.write_delta(batch, work, mode="append")


def test_add_constraint_refuses_foreign_features(spark, tmp_path):
    """ALTER on a table whose writerFeatures this writer cannot uphold
    must refuse BEFORE committing — and must never re-emit a protocol
    stripped of its feature lists (round-7 advice: add_constraint
    silently dropped writerFeatures, opening the table to later
    appends)."""
    import shutil

    work = str(tmp_path / "wfeat_alter")
    shutil.copytree(GOLDEN_WFEAT, work)
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="identityColumns"):
        dl.add_constraint(spark, work, "v_pos", "v > 0")
    # no commit landed; protocol on disk untouched
    proto = dl._latest_protocol(work, dl._list_versions(work)[-1])
    assert proto.get("writerFeatures") == ["identityColumns"]


def test_add_constraint_v7_supported_features_preserved(spark, tmp_path):
    """A v7 table whose features we DO support stays v7 with its list
    preserved (plus checkConstraints declared) after ADD CONSTRAINT."""
    path = str(tmp_path / "v7ok")
    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    dl.write_delta(df, path)
    # hand-upgrade to v7 with a supported feature set
    versions = dl._list_versions(path)
    with open(os.path.join(path, "_delta_log", f"{versions[-1] + 1:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 7,
                                         "writerFeatures": ["appendOnly"]}}) + "\n")
    dl.add_constraint(spark, path, "v_pos", "v > 0")
    proto = dl._latest_protocol(path, dl._list_versions(path)[-1])
    assert int(proto["minWriterVersion"]) == 7
    assert set(proto["writerFeatures"]) == {"appendOnly", "checkConstraints"}
    # the constraint is live
    bad = spark.createDataFrame([(2, -1.0)], "id long, v double")
    with pytest.raises(Exception, match="v_pos|constraint"):
        dl.write_delta(bad, path, mode="append")


def test_external_checkpoint_layout_replay(spark):
    """Cleaned-log table reconstructible ONLY through an external-layout
    checkpoint (reordered struct fields, remove tombstone with
    extendedFileMetadata, map-typed fields, a txn row) + one retained
    JSON commit. The removed file's rows must NOT appear."""
    df = dl.read_delta(spark, GOLDEN_CKPT)
    rows = sorted((r["id"], r["v"]) for r in df.collect())
    assert rows == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]  # 99 removed
    # txn watermark survives the checkpoint round-trip
    assert txn_versions(GOLDEN_CKPT)["ckpt-app"] == 3
    # time travel to the checkpointed version itself
    v2 = dl.read_delta(spark, GOLDEN_CKPT, version=2)
    assert v2.count() == 4


def test_v2_checkpoint_sidecar_replay(spark, tmp_path):
    """Reader-v3 + v2Checkpoint: a uuid-named checkpoint whose
    add/remove actions live in two _sidecars/ files, with the early
    JSON commits cleaned — the snapshot reconstructs only through the
    v2 checkpoint + one retained JSON. The removed file's rows must not
    appear; txn watermark survives; writes land (round-10: the feature's
    obligation — V2-format checkpoints under checkpointPolicy=v2 — is
    upheld by write_checkpoint, and this fixture's policy is classic)."""
    df = dl.read_delta(spark, GOLDEN_V2CP)
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [1, 2, 3, 4]  # 99 removed via the sidecar tombstone
    assert txn_versions(GOLDEN_V2CP)["v2cp-app"] == 5
    # version pin replays checkpoint + the retained JSON
    assert dl.read_delta(spark, GOLDEN_V2CP, version=2).count() == 4
    import shutil

    work = str(tmp_path / "v2cp")
    shutil.copytree(GOLDEN_V2CP, work)
    batch = spark.createDataFrame([(5, 5.0)], "id long, v double")
    dl.write_delta(batch, work, mode="append")
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        1, 2, 3, 4, 5,
    ]
    shutil.rmtree(work)
    shutil.copytree(GOLDEN_V2CP, work)
    # a torn/missing _last_checkpoint pointer: discovery falls back to
    # the listdir scan, which must see uuid-named checkpoints too
    os.remove(os.path.join(work, "_delta_log", "_last_checkpoint"))
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        1,
        2,
        3,
        4,
    ]


def _rewrite_sidecar_paths(work: str, new_path_of) -> None:
    """Rewrite the sidecar 'path' values inside the v2 checkpoint
    parquet of a golden_delta_v2cp copy (fixture surgery for path-
    resolution tests)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = os.path.join(work, "_delta_log")
    cp = next(
        os.path.join(log, n) for n in os.listdir(log)
        if ".checkpoint." in n and n.endswith(".parquet")
    )
    tbl = pq.read_table(cp)
    col = tbl.column("sidecar").to_pylist()
    out = []
    for row in col:
        if row and row.get("path"):
            row = dict(row)
            row["path"] = new_path_of(row["path"])
        out.append(row)
    idx = tbl.schema.get_field_index("sidecar")
    tbl = tbl.set_column(
        idx, tbl.schema.field(idx), pa.array(out, tbl.schema.field(idx).type)
    )
    pq.write_table(tbl, cp)


def test_sidecar_absolute_path_resolves(spark, tmp_path):
    """The spec encourages bare names under _sidecars/ but allows
    paths: an absolute local sidecar path from another engine must
    resolve, not FileNotFoundError under _sidecars/ (round-8 advice,
    low)."""
    import shutil

    work = str(tmp_path / "v2cp_abs")
    shutil.copytree(GOLDEN_V2CP, work)
    side_dir = os.path.join(work, "_delta_log", "_sidecars")
    _rewrite_sidecar_paths(
        work, lambda rel: os.path.abspath(os.path.join(side_dir, rel))
    )
    ids = sorted(r["id"] for r in dl.read_delta(spark, work).collect())
    assert ids == [1, 2, 3, 4]


def test_sidecar_foreign_uri_refused(spark, tmp_path):
    """A sidecar path under a URI scheme this reader cannot access must
    refuse with a protocol error, not a misleading local
    FileNotFoundError."""
    import shutil

    work = str(tmp_path / "v2cp_uri")
    shutil.copytree(GOLDEN_V2CP, work)
    _rewrite_sidecar_paths(work, lambda rel: f"s3://bucket/{rel}")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="URI scheme"):
        dl.read_delta(spark, work)


def test_row_tracking_reads_and_appends(spark, tmp_path):
    """rowTracking + domainMetadata (default-on in newer delta-spark
    runtimes): reads pass while tolerating the vocabulary they add, and
    APPENDS work (round-9 late) — each new add carries fresh
    baseRowId/defaultRowCommitVersion above the high-water mark, and
    the commit bumps the delta.rowTracking domainMetadata."""
    import shutil

    df = dl.read_delta(spark, GOLDEN_ROWTRACK)
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0),
    ]
    work = str(tmp_path / "rowtrack")
    shutil.copytree(GOLDEN_ROWTRACK, work)
    batch = spark.createDataFrame(
        [(6, 6.0), (7, 7.0)], "id long, v double"
    ).coalesce(1)
    v = dl.write_delta(batch, work, mode="append")
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    assert len(adds) == 1
    # fixture high-water mark is 4 → fresh ids start at 5
    assert adds[0]["baseRowId"] == 5
    assert adds[0]["defaultRowCommitVersion"] == v
    dms = [
        a["domainMetadata"]
        for a in dl._read_actions(work, v)
        if "domainMetadata" in a
    ]
    assert len(dms) == 1 and dms[0]["domain"] == "delta.rowTracking"
    assert json.loads(dms[0]["configuration"]) == {"rowIdHighWaterMark": 6}
    # a second append continues above the new mark
    v2 = dl.write_delta(
        spark.createDataFrame([(8, 8.0)], "id long, v double"), work
    )
    adds2 = [a["add"] for a in dl._read_actions(work, v2) if "add" in a]
    assert adds2[0]["baseRowId"] == 7
    assert dl._row_id_high_water_mark(work, v2) == 7
    assert dl.read_delta(spark, work).count() == 8
    # file-rewriting ops re-stamp fresh ids since round 10 — covered by
    # the test_row_tracking_dml_* battery below


def test_row_tracking_checkpoint_roundtrip(spark, tmp_path):
    """Checkpoints must round-trip baseRowId/defaultRowCommitVersion on
    adds AND the domainMetadata high-water mark — a checkpoint that
    drops either corrupts row-id assignment after log cleanup."""
    import shutil

    work = str(tmp_path / "rowtrack")
    shutil.copytree(GOLDEN_ROWTRACK, work)
    dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"), work
    )
    cp_v = dl.write_checkpoint(work)
    cp_actions = dl._read_checkpoint_actions(work, cp_v)
    cp_adds = [a["add"] for a in cp_actions if "add" in a]
    assert {a.get("baseRowId") for a in cp_adds} == {0, 3, 5}
    cp_dms = [a["domainMetadata"] for a in cp_actions if "domainMetadata" in a]
    assert len(cp_dms) == 1
    assert json.loads(cp_dms[0]["configuration"]) == {"rowIdHighWaterMark": 5}
    # an append AFTER the checkpoint resolves the mark THROUGH it
    v = dl.write_delta(
        spark.createDataFrame([(7, 7.0)], "id long, v double"), work
    )
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    assert adds[0]["baseRowId"] == 6


def test_vacuum_protocol_check_table_full_lifecycle(spark, tmp_path):
    """vacuumProtocolCheck on both protocol sides: reads, appends and
    VACUUM all succeed (the feature's one writer demand — a protocol
    re-check before deletion — is exactly what vacuum_delta does), and
    an unreferenced file is still reclaimed."""
    import shutil

    assert sorted(
        r["id"] for r in dl.read_delta(spark, GOLDEN_VPC).collect()
    ) == [1, 2]
    work = str(tmp_path / "vpc")
    shutil.copytree(GOLDEN_VPC, work)
    batch = spark.createDataFrame([(3, 3.0)], "id long, v double")
    v = dl.write_delta(batch, work, mode="append")
    assert v == 1
    assert dl.read_delta(spark, work).count() == 3
    # overwrite dereferences the old files; vacuum reclaims them while
    # the protocol gate stays green
    dl.write_delta(batch, work, mode="overwrite")
    deleted = dl.vacuum_delta(work, retain_hours=0.0, force=True)
    assert deleted  # the pre-overwrite parquets went away
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [3]


def test_vacuum_refuses_unknown_writer_features(tmp_path):
    """The vacuumProtocolCheck CONTRACT in the failing direction: a
    table whose writerFeatures this engine does not understand may
    reference files the replay cannot see — VACUUM must refuse, not
    delete."""
    import shutil

    work = str(tmp_path / "wfeat_vac")
    shutil.copytree(GOLDEN_WFEAT, work)
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="identityColumns"):
        dl.vacuum_delta(work, retain_hours=0.0, force=True)


def test_in_commit_timestamp_reads_and_writes(spark, tmp_path):
    """inCommitTimestamp (delta 4.x, default-on in newer runtimes):
    reads pass, and since round 10 every WRITE stamps commitInfo as the
    FIRST action with a strictly monotonic inCommitTimestamp — upheld at
    the commit choke point, so appends and DML alike conform."""
    import shutil

    assert sorted(
        r["id"] for r in dl.read_delta(spark, GOLDEN_ICT).collect()
    ) == [1, 2, 3]
    assert dl.delta_history(GOLDEN_ICT)[0]["operation"] == "WRITE"
    work = str(tmp_path / "ict")
    shutil.copytree(GOLDEN_ICT, work)
    batch = spark.createDataFrame([(4, 4.0)], "id long, v double")
    v = dl.write_delta(batch, work, mode="append")
    acts = dl._read_actions(work, v)
    assert "commitInfo" in acts[0]  # spec: FIRST action on ICT tables
    ict1 = acts[0]["commitInfo"]["inCommitTimestamp"]
    assert ict1 > 1700000000007  # fixture's enablement-era stamp
    v2 = dl.delete_delta(spark, work, "id = 1")
    acts2 = dl._read_actions(work, v2)
    assert "commitInfo" in acts2[0]
    ict2 = acts2[0]["commitInfo"]["inCommitTimestamp"]
    assert ict2 > ict1  # monotone
    assert dl.read_delta(spark, work).count() == 3
    # the table's commit clock prefers the in-commit timestamp
    assert dl.delta_detail(work)["lastModified"] == ict2


def test_set_table_properties_refuses_ict_enablement(spark, tmp_path):
    """Enabling ICT must land feature + config + enablement keys in ONE
    commit, which this engine does not write: raw set_table_properties
    refuses the config key and the table is left as it was."""
    path = str(tmp_path / "ict_on")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path
    )
    with pytest.raises(ValueError, match="inCommitTimestamp writer feature"):
        dl.set_table_properties(
            path, {"delta.enableInCommitTimestamps": "true"}
        )
    assert dl._list_versions(path) == [0]
    assert "delta.enableInCommitTimestamps" not in dl.delta_detail(path)["properties"]


def test_type_widening_reads_and_writes(spark, tmp_path):
    """typeWidening (round-10): pre-widening NARROW files (int32/float32)
    read back at the WIDENED schema types — Spark's parquet reader
    promotes every spec-allowed conversion natively, and the recorded
    delta.typeChanges are validated against that allowlist. Writes land
    at the current (wide) types."""
    df = dl.read_delta(spark, GOLDEN_TW)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "double",
    ]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, 1.5), (2, 2.5), (3, 3.5),
    ]
    import shutil

    work = str(tmp_path / "tw")
    shutil.copytree(GOLDEN_TW, work)
    dl.write_delta(
        spark.createDataFrame([(4, 4.5)], "id long, v double"), work
    )
    assert dl.read_delta(spark, work).count() == 4
    dl.delete_delta(spark, work, "id = 1")  # rewrite crosses file widths
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        2, 3, 4,
    ]


def test_type_widening_unknown_conversion_refuses(spark, tmp_path):
    """A recorded conversion OUTSIDE the natively-promotable allowlist
    (a future spec addition, or a corrupt record) must refuse by name —
    never mis-promote bytes."""
    import shutil

    work = str(tmp_path / "tw")
    shutil.copytree(GOLDEN_TW, work)
    log1 = os.path.join(work, "_delta_log", "00000000000000000001.json")
    acts = [json.loads(line) for line in open(log1)]
    for a in acts:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"]["delta.typeChanges"] = [
                {"fromType": "string", "toType": "long", "tableVersion": 1}
            ]
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log1, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="widening"):
        dl.read_delta(spark, work)
    # decimal NARROWING recorded as a "widening" refuses too
    for a in acts:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"]["delta.typeChanges"] = [
                {
                    "fromType": "decimal(10,4)",
                    "toType": "decimal(10,2)",
                    "tableVersion": 1,
                }
            ]
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log1, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="widening"):
        dl.read_delta(spark, work)


def test_our_own_tables_stay_below_the_gate(spark, tmp_path):
    """Every table this engine writes must remain readable/writable by
    this engine: the writer never emits a protocol above the reader
    ceiling (reader v1; writer ≤3 even after a constraint install)."""
    path = str(tmp_path / "own")
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    dl.write_delta(df, path)
    dl.add_constraint(spark, path, "id_pos", "id > 0")
    dl.write_delta(
        spark.createDataFrame([(2, "y")], "id long, s string"), path, mode="append"
    )
    assert dl.read_delta(spark, path).count() == 2
    proto = dl._latest_protocol(path, dl._list_versions(path)[-1])
    assert int(proto["minReaderVersion"]) <= dl._SUPPORTED_READER_VERSION
    assert int(proto["minWriterVersion"]) <= dl._SUPPORTED_WRITER_VERSION


# ---------------------------------------------------------------------------
# Partitioned + deletion-vector fixture (round-9): the delta-spark
# partitioned-DELETE shape — same part basename in every hive dir, one
# escaped partition value, DVs on both files.
# ---------------------------------------------------------------------------

GOLDEN_PARTDV = os.path.join(
    os.path.dirname(__file__), "data", "golden_delta_partdv"
)


def test_partdv_read_survivors_and_partition_values(spark):
    got = sorted(
        (r["id"], r["v"], r["lang"])
        for r in dl.read_delta(spark, GOLDEN_PARTDV).collect()
    )
    # en loses id 2 (index 1), pt:BR loses id 10 (index 0); the escaped
    # dir name lang=pt%3ABR materializes as the LOGICAL value pt:BR
    assert got == [(1, 1.0, "en"), (3, 3.0, "en"), (11, 11.0, "pt:BR")]


def test_partdv_time_travel_pre_delete(spark):
    got = sorted(
        r["id"] for r in dl.read_delta(spark, GOLDEN_PARTDV, version=0).collect()
    )
    assert got == [1, 2, 3, 10, 11]


def test_partdv_partition_filter_on_escaped_value(spark):
    got = dl.read_delta(
        spark, GOLDEN_PARTDV, partition_filter={"lang": "pt:BR"}
    ).collect()
    assert [(r["id"], r["lang"]) for r in got] == [(11, "pt:BR")]


def test_partdv_dml_on_copy(spark, tmp_path):
    """DELETE then UPDATE against a copy of the external fixture: the
    apply-and-rewrite path must honor both DVs and the hive layout."""
    import shutil as _sh

    path = str(tmp_path / "partdv")
    _sh.copytree(GOLDEN_PARTDV, path)
    dl.delete_delta(spark, path, "id = 3")
    dl.update_delta(spark, path, "lang = 'pt:BR'", {"v": "v + 0.25"})
    got = sorted(
        (r["id"], r["v"], r["lang"])
        for r in dl.read_delta(spark, path).collect()
    )
    assert got == [(1, 1.0, "en"), (11, 11.25, "pt:BR")]


# ---------------------------------------------------------------------------
# Change-data-feed fixture (round-9): `_change_data` files are change
# metadata that snapshot reads never see.
# ---------------------------------------------------------------------------

GOLDEN_CDF = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cdf")


def test_cdf_snapshot_read_ignores_change_data(spark):
    """_change_data files are change METADATA, not table content."""
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, GOLDEN_CDF).collect())
    assert got == [(1, 99.0), (2, 2.0), (3, 3.0)]


# ---------------------------------------------------------------------------
# Column-mapping WRITES (round-9 late): appends/overwrites into CM
# tables rename to physical columns; DML verbs stay gated.
# ---------------------------------------------------------------------------

GOLDEN_CM = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cm")
GOLDEN_CMID = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cmid")


def _cm_copy(tmp_path, src, name="cmw"):
    import shutil as _sh

    dest = str(tmp_path / name)
    _sh.copytree(src, dest)
    return dest


def test_cm_append_physical_names(spark, tmp_path):
    import pyarrow.parquet as pq

    path = _cm_copy(tmp_path, GOLDEN_CM)
    df = spark.createDataFrame([(3, 3.0)], "id bigint, v double")
    v = dl.write_delta(df, path)
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, path).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]
    # the new data file carries PHYSICAL parquet column names
    new_adds = [a["add"] for a in dl._read_actions(path, v) if "add" in a]
    assert len(new_adds) == 1
    cols = pq.read_schema(os.path.join(path, new_adds[0]["path"])).names
    assert cols == ["col-1a2b3c4d", "col-5e6f7a8b"]
    # stats keys are physical too (what external CM readers prune on)
    stats = json.loads(new_adds[0]["stats"])
    assert set(stats["minValues"]) == {"col-1a2b3c4d", "col-5e6f7a8b"}
    # time travel still sees the pre-append snapshot
    assert dl.read_delta(spark, path, version=0).count() == 2


def test_cm_overwrite(spark, tmp_path):
    path = _cm_copy(tmp_path, GOLDEN_CM)
    df = spark.createDataFrame([(9, 9.0)], "id bigint, v double")
    dl.write_delta(df, path, mode="overwrite")
    got = [(r["id"], r["v"]) for r in dl.read_delta(spark, path).collect()]
    assert got == [(9, 9.0)]
    assert dl.read_delta(spark, path, version=0).count() == 2


def test_cmid_append_field_ids(spark, tmp_path):
    import pyarrow.parquet as pq

    path = _cm_copy(tmp_path, GOLDEN_CMID)
    df = spark.createDataFrame([(3, 3.0)], "id bigint, v double")
    v = dl.write_delta(df, path)
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, path).collect())
    assert got == [(1, 1.5), (2, 2.5), (3, 3.0)]
    # new parquet footer carries the columnMapping ids as parquet field ids
    new_adds = [a["add"] for a in dl._read_actions(path, v) if "add" in a]
    sch = pq.read_schema(os.path.join(path, new_adds[0]["path"]))
    ids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    }
    assert {k: v_ for k, v_ in ids.items() if v_ is not None}
    assert set(ids.values()) == {b"1", b"2"}


def test_cm_partitioned_append_physical_dirs(spark, tmp_path):
    """Appending into a partitioned CM table: hive dirs and
    partitionValues keys carry the PHYSICAL partition-column name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cmp")
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-p1"}},
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-d1"}},
        ],
    })
    rel = "col-p1=en/part-0000-seed-c000.snappy.parquet"
    dest = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(pa.table({"col-d1": pa.array([1], pa.int64())}), dest)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": ["lang"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 0}},
        {"add": {"path": rel, "partitionValues": {"col-p1": "en"},
                 "size": os.path.getsize(dest), "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    df = spark.createDataFrame([("fr", 2)], "lang string, id bigint")
    v = dl.write_delta(df, root)  # adopts the table's partitioning
    new_adds = [a["add"] for a in dl._read_actions(root, v) if "add" in a]
    assert len(new_adds) == 1
    assert new_adds[0]["path"].startswith("col-p1=fr/")
    assert new_adds[0]["partitionValues"] == {"col-p1": "fr"}
    got = sorted((r["lang"], r["id"]) for r in dl.read_delta(spark, root).collect())
    assert got == [("en", 1), ("fr", 2)]
    # logical partition_filter still prunes through the mapping
    fr = dl.read_delta(spark, root, partition_filter={"lang": "fr"})
    assert [r["id"] for r in fr.collect()] == [2]


def test_cm_constraint_enforced_on_logical_names(spark, tmp_path):
    path = _cm_copy(tmp_path, GOLDEN_CM)
    dl.add_constraint(spark, path, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="v_pos"):
        dl.write_delta(
            spark.createDataFrame([(4, -4.0)], "id bigint, v double"), path
        )
    dl.write_delta(
        spark.createDataFrame([(4, 4.0)], "id bigint, v double"), path
    )
    assert dl.read_delta(spark, path).count() == 3


def test_cm_evolution_now_supported(spark, tmp_path):
    """Round-11: merge_schema on a column-mapped table WORKS — the new
    column gets fresh columnMapping metadata and the write lands (the
    dedicated evolution tests assert the id/physicalName details)."""
    path = _cm_copy(tmp_path, GOLDEN_CM)
    n0 = dl.read_delta(spark, path).count()
    dl.write_delta(
        spark.createDataFrame([(5, 5.0, "x")], "id bigint, v double, s string"),
        path,
        mode="append",
        merge_schema=True,
    )
    out = dl.read_delta(spark, path)
    assert "s" in out.columns and out.count() == n0 + 1


def test_cm_dml_full_cycle(spark, tmp_path):
    """DELETE/UPDATE/OPTIMIZE on a column-mapped table (round-9 late):
    predicates are LOGICAL, rewrites land PHYSICAL."""
    import pyarrow.parquet as pq

    path = _cm_copy(tmp_path, GOLDEN_CM)
    dl.write_delta(spark.createDataFrame([(3, 3.0)], "id bigint, v double"), path)
    dl.update_delta(spark, path, "id = 2", {"v": "v * 10"})
    dl.delete_delta(spark, path, "id = 1", prune=("id", "==", 1))
    v = dl.optimize_delta(spark, path, target_files=1)
    assert v is not None
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, path).collect())
    assert got == [(2, 20.0), (3, 3.0)]
    # every surviving data file carries PHYSICAL parquet names
    active, _, _, _ = dl._replay(path, None)
    for rel in active:
        cols = pq.read_schema(os.path.join(path, rel)).names
        assert cols == ["col-1a2b3c4d", "col-5e6f7a8b"], rel
    # and stats keys are physical
    for a in active.values():
        assert set(json.loads(a["stats"])["minValues"]) <= {
            "col-1a2b3c4d", "col-5e6f7a8b",
        }


def test_cmid_dml_delete_update(spark, tmp_path):
    path = _cm_copy(tmp_path, GOLDEN_CMID, "cmidml")
    dl.update_delta(spark, path, "id = 1", {"v": "100.0"})
    dl.delete_delta(spark, path, "id = 2")
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, path).collect())
    assert got == [(1, 100.0)]


def test_cm_v5_generated_columns_enforced(spark, tmp_path):
    """minWriterVersion 5 implies v4 capabilities too: a CM table
    DECLARING generated columns now accepts writes whose values SATISFY
    the expression (round-10 enforcement posture) and refuses divergent
    ones with the generated-column error, never a silent land."""
    path = _cm_copy(tmp_path, GOLDEN_CM, "cmgen")
    # inject a generated-column marker into the schemaString
    log0 = os.path.join(path, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            s = json.loads(a["metaData"]["schemaString"])
            s["fields"][1]["metadata"]["delta.generatedAlwaysAs"] = "id * 2"
            a["metaData"]["schemaString"] = json.dumps(s)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="generated column v"):
        dl.write_delta(
            spark.createDataFrame([(3, 3.0)], "id bigint, v double"), path
        )
    dl.write_delta(
        spark.createDataFrame([(3, 6.0)], "id bigint, v double"), path
    )
    assert dl.read_delta(spark, path).count() == 3


def test_row_tracking_race_restamps_fresh_ids(spark, tmp_path, monkeypatch):
    """A rival rowTracking append landing at our target version must NOT
    make the loser re-commit verbatim (row-id collision): the loop
    re-reads the rival's high-water mark and re-stamps above it."""
    import shutil

    work = str(tmp_path / "rowtrack")
    shutil.copytree(GOLDEN_ROWTRACK, work)

    real_commit = dl._commit
    fired = {"n": 0}

    def racing(path_, version_, actions_):
        if fired["n"] == 0 and any("domainMetadata" in a for a in actions_):
            fired["n"] += 1
            # rival: a 2-row append claiming row ids 5..6 (mark 4 -> 6)
            rival_rel = "part-00009-rival-c000.snappy.parquet"
            shutil.copy(
                os.path.join(work, "part-00000-aaaa1111-0000-4000-8000-"
                             "000000000000-c000.snappy.parquet"),
                os.path.join(work, rival_rel),
            )
            real_commit(path_, version_, [
                {"add": {"path": rival_rel, "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True, "baseRowId": 5,
                         "defaultRowCommitVersion": version_,
                         "stats": json.dumps({"numRecords": 2,
                                              "minValues": {}, "maxValues": {},
                                              "nullCount": {}})}},
                {"domainMetadata": {"domain": "delta.rowTracking",
                                    "configuration": json.dumps(
                                        {"rowIdHighWaterMark": 6}),
                                    "removed": False}},
                {"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                "operationParameters": {}}},
            ])
            # fall through: our commit of the SAME version now collides
        return real_commit(path_, version_, actions_)

    monkeypatch.setattr(dl, "_commit", racing)
    batch = spark.createDataFrame([(6, 6.0)], "id long, v double").coalesce(1)
    v = dl.write_delta(batch, work, mode="append")
    monkeypatch.setattr(dl, "_commit", real_commit)
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    # re-stamped ABOVE the rival's mark (6), not the stale 5
    assert adds[0]["baseRowId"] == 7
    assert adds[0]["defaultRowCommitVersion"] == v
    assert dl._row_id_high_water_mark(work, v) == 7


def test_cm_partitioned_dv_delete_composition(spark, tmp_path):
    """The three modern-table features COMPOSED: a name-mode
    column-mapped, hive-partitioned table whose file carries a deletion
    vector must DELETE correctly — logical predicate, physical dirs,
    DV applied before the rewrite (never resurrected)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sustainable_building_energy_benchmarking_pipeline_spark.sources import (
        deletion_vectors as dvmod,
    )

    root = str(tmp_path / "cmpdv")
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-p1"}},
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-d1"}},
        ],
    })
    rels = {}
    for part, ids in (("en", [1, 2, 3]), ("fr", [4, 5])):
        rel = f"col-p1={part}/part-0000-{part}-c000.snappy.parquet"
        dest = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(pa.table({"col-d1": pa.array(ids, pa.int64())}), dest)
        rels[part] = (rel, os.path.getsize(dest))
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    # DV on the en file deletes index 0 (id=1)
    dv_en = dvmod.inline_dv_descriptor(np.array([0]))
    add_en = {"add": {"path": rels["en"][0],
                      "partitionValues": {"col-p1": "en"},
                      "size": rels["en"][1], "modificationTime": 0,
                      "dataChange": True, "deletionVector": dv_en}}
    add_fr = {"add": {"path": rels["fr"][0],
                      "partitionValues": {"col-p1": "fr"},
                      "size": rels["fr"][1], "modificationTime": 0,
                      "dataChange": True}}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": ["lang"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2",
                              "delta.enableDeletionVectors": "true"},
            "createdTime": 0}},
        add_en, add_fr,
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    # sanity: the composed READ applies both mapping and the DV
    before = sorted((r["lang"], r["id"])
                    for r in dl.read_delta(spark, root).collect())
    assert before == [("en", 2), ("en", 3), ("fr", 4), ("fr", 5)]
    # DELETE with a LOGICAL predicate spanning both features
    dl.delete_delta(spark, root, "id = 2 OR lang = 'fr'")
    got = sorted((r["lang"], r["id"])
                 for r in dl.read_delta(spark, root).collect())
    # id=1 must NOT resurrect through the rewrite; fr fully gone
    assert got == [("en", 3)]
    active, _, _, _ = dl._replay(root, None)
    assert all(not a.get("deletionVector") for a in active.values())
    assert all(rel.startswith("col-p1=en/") for rel in active)


def test_cm_table_dv_delete_use_dv_emits_bitmap(spark, tmp_path):
    """ADVICE r9: delete_delta(use_dv=True) on a table carrying BOTH
    columnMapping and deletionVectors must commit — the DV-emitting
    commit has to forward the columnMapping feature grant to the write
    gate, or it fails AFTER the .bin is written (orphaned file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cmdv")
    os.makedirs(root)
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-d1"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-d2"}},
        ],
    })
    rel = "part-0000-cmdv-c000.snappy.parquet"
    dest = os.path.join(root, rel)
    pq.write_table(
        pa.table({"col-d1": pa.array([1, 2, 3, 4], pa.int64()),
                  "col-d2": pa.array([1.0, 2.0, 3.0, 4.0])}),
        dest,
    )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2",
                              "delta.enableDeletionVectors": "true"},
            "createdTime": 0}},
        {"add": {"path": rel, "partitionValues": {},
                 "size": os.path.getsize(dest), "modificationTime": 0,
                 "dataChange": True,
                 "stats": json.dumps({"numRecords": 4})}},
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    v = dl.delete_delta(spark, root, "id = 2", use_dv=True)
    # committed as a DV, not a rewrite: same path re-added with a bitmap
    adds = [a["add"] for a in dl._read_actions(root, v) if "add" in a]
    assert len(adds) == 1 and adds[0]["path"] == rel
    assert adds[0]["deletionVector"]["cardinality"] == 1
    got = sorted((r["id"], r["v"])
                 for r in dl.read_delta(spark, root).collect())
    assert got == [(1, 1.0), (3, 3.0), (4, 4.0)]


def test_row_tracking_corrupt_high_water_mark_refuses(spark, tmp_path):
    """ADVICE r9: a LIVE delta.rowTracking domain whose configuration
    cannot be parsed must refuse (DeltaUnsupportedProtocol), not fall
    back to 'no mark' and restart baseRowId at 0 — silent row-id reuse
    on a corrupt-but-live table."""
    import shutil

    work = str(tmp_path / "rowtrack")
    shutil.copytree(GOLDEN_ROWTRACK, work)
    versions = dl._list_versions(work)
    v = versions[-1] + 1
    with open(os.path.join(
            work, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": "not-json{{",
            "removed": False}}) + "\n")
        f.write(json.dumps({"commitInfo": {
            "timestamp": 0, "operation": "CORRUPT"}}) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="rowTracking"):
        dl._row_id_high_water_mark(work, v)
    # the append path hits the same refusal instead of reusing ids
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="rowTracking"):
        dl.write_delta(
            spark.createDataFrame([(9, 9.0)], "id long, v double"), work
        )
    # a REMOVED corrupt domain is genuinely absent -> None, no raise
    v2 = v + 1
    with open(os.path.join(
            work, "_delta_log", f"{v2:020d}.json"), "w") as f:
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": "not-json{{",
            "removed": True}}) + "\n")
    assert dl._row_id_high_water_mark(work, v2) is None


# ---- round-10: rowTracking DML (fresh re-stamp) + CDF table writes ------
#
# rowTracking: DELETE/UPDATE/OPTIMIZE route their staged adds
# through _commit_row_tracking — fresh baseRowId/defaultRowCommitVersion
# above the (bumped) high-water mark, spec-valid while no data file
# materializes stable row ids; tables that DO materialize them refuse.
# CDF: appends land cdc-free (derived as inserts per the spec);
# overwrite/DELETE/UPDATE emit cdc actions + _change_data files whose
# rows match the snapshot diff.


def _copy_fixture(tmp_path, src, name):
    import shutil

    work = str(tmp_path / name)
    shutil.copytree(src, work)
    return work


def _snapshot_rows(spark, path, version=None):
    return sorted(
        (r["id"], r["v"]) for r in dl.read_delta(spark, path, version=version).collect()
    )


def test_row_tracking_delete_restamps(spark, tmp_path):
    """DELETE on a rowTracking table: survivors land in NEW files with
    fresh baseRowId above the prior high-water mark,
    defaultRowCommitVersion = the committing version, and the
    delta.rowTracking mark bumps past the new rows."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_del")
    v = dl.delete_delta(spark, work, "id <= 2")
    assert _snapshot_rows(spark, work) == [(3, 3.0), (4, 4.0), (5, 5.0)]
    acts = dl._read_actions(work, v)
    adds = [a["add"] for a in acts if "add" in a]
    assert len(adds) == 1
    assert adds[0]["baseRowId"] == 5  # fixture mark 4 → fresh ids at 5
    assert adds[0]["defaultRowCommitVersion"] == v
    assert dl._row_id_high_water_mark(work, v) == 5  # one survivor row
    # the untouched file keeps its original stamp
    active, _, _, _ = dl._replay(work, v)
    assert sorted(a.get("baseRowId") for a in active.values()) == [3, 5]


def test_row_tracking_update_restamps(spark, tmp_path):
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_upd")
    v = dl.update_delta(spark, work, "id = 4", {"v": "v * 10"})
    assert _snapshot_rows(spark, work) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 40.0), (5, 5.0),
    ]
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    assert len(adds) == 1 and adds[0]["baseRowId"] == 5
    assert dl._row_id_high_water_mark(work, v) == 6  # two rewritten rows


def test_row_tracking_optimize_restamps(spark, tmp_path):
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_opt")
    v = dl.optimize_delta(spark, work, target_files=1)
    assert _snapshot_rows(spark, work) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0),
    ]
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    assert len(adds) == 1 and adds[0]["baseRowId"] == 5
    assert adds[0]["dataChange"] is False  # stamping preserves the flag
    assert dl._row_id_high_water_mark(work, v) == 9  # five compacted rows


def _row_ids(spark, work):
    return {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }


def test_row_tracking_delete_preserves_materialized_ids(spark, tmp_path):
    """Round-11 materializing rewrite: DELETE on a table that reserves
    the materialized row-tracking column names stamps every surviving
    row's STABLE row id into the reserved hidden column — the pre/post
    ``with_row_ids=True`` reads agree on every surviving row, including
    rows whose OLD file already materialized ids (the delta-spark-
    rewritten steady state the round-10 guard refused on)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_mat_del")
    # simulate a delta-spark rewrite: file0 materializes ids 100..102
    target = os.path.join(
        work, "part-00000-aaaa1111-0000-4000-8000-000000000000-c000.snappy.parquet"
    )
    tbl = pq.read_table(target)
    tbl = tbl.append_column(
        "_row-id-col-0", pa.array([100, 101, 102], pa.int64())
    )
    pq.write_table(tbl, target)
    before = _row_ids(spark, work)
    assert before == {1: 100, 2: 101, 3: 102, 4: 3, 5: 4}
    v = dl.delete_delta(spark, work, "id in (1, 4)")
    after = _row_ids(spark, work)
    assert after == {2: 101, 3: 102, 5: 4}
    # the rewritten files carry the materialized columns physically
    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    for a in adds:
        names = set(pq.read_schema(os.path.join(work, a["path"])).names)
        assert {"_row-id-col-0", "_row-commit-version-col-0"} <= names
    # unmodified copies also preserve their stable COMMIT VERSION
    # (fixture defaultRowCommitVersion = 0, no prior materialization)
    for a in adds:
        t = pq.read_table(os.path.join(work, a["path"]))
        assert set(t.column("_row-commit-version-col-0").to_pylist()) == {0}


def test_row_tracking_update_preserves_ids_bumps_version(spark, tmp_path):
    """UPDATE preserves every row's stable id; the UPDATED row's commit
    version moves to the updating commit (materialized null → the new
    add's defaultRowCommitVersion) while copied rows keep theirs."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_mat_upd")
    before = _row_ids(spark, work)
    v = dl.update_delta(spark, work, "id = 4", {"v": "v * 10"})
    after = _row_ids(spark, work)
    assert after == before  # identity survives the rewrite verbatim
    rows = {
        r["id"]: r
        for r in dl.read_delta(spark, work).collect()
    }
    assert rows[4]["v"] == 40.0
    # commit versions: copied row 5 keeps 0, updated row 4 reads as v
    import pyarrow.parquet as pq

    adds = [a["add"] for a in dl._read_actions(work, v) if "add" in a]
    assert len(adds) == 1
    t = pq.read_table(os.path.join(work, adds[0]["path"]))
    by_id = dict(
        zip(t.column("id").to_pylist(),
            t.column("_row-commit-version-col-0").to_pylist())
    )
    assert by_id[5] == 0  # unmodified copy: stable version preserved
    assert by_id[4] is None  # updated: defaults to the committing version


def test_row_tracking_optimize_preserves_ids(spark, tmp_path):
    """OPTIMIZE never changes row identity: the compacted file carries
    every row's stable id+commit version materialized."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_mat_opt")
    before = _row_ids(spark, work)
    dl.optimize_delta(spark, work, target_files=1)
    assert _row_ids(spark, work) == before


def test_row_tracking_enabled_without_reserved_names_refuses(spark, tmp_path):
    """delta.enableRowTracking=true with NO reserved materialized column
    names (a state delta-spark never produces): preservation is required
    but there is nowhere to stamp it — rewriting verbs refuse; appends
    still land."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_noname")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            for k in (
                "delta.rowTracking.materializedRowIdColumnName",
                "delta.rowTracking.materializedRowCommitVersionColumnName",
            ):
                a["metaData"]["configuration"].pop(k, None)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="reserve"):
        dl.delete_delta(spark, work, "id = 1")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="reserve"):
        dl.update_delta(spark, work, "id = 1", {"v": "0.0"})
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="reserve"):
        dl.optimize_delta(spark, work, target_files=1)
    v = dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"), work
    )
    assert dl.read_delta(spark, work).count() == 6
    assert v > 0


def test_row_tracking_dv_delete_preserves_ids(spark, tmp_path):
    """delete_delta(use_dv=True) on a rowTracking table re-adds the SAME
    physical file: baseRowId/defaultRowCommitVersion copy verbatim and
    the high-water mark does not move — a DV delete never re-stamps."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_dv")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": [
                    "rowTracking", "domainMetadata", "deletionVectors",
                ],
            }
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableDeletionVectors"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    v = dl.delete_delta(spark, work, "id = 1", use_dv=True)
    assert _snapshot_rows(spark, work) == [
        (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0),
    ]
    acts_v = dl._read_actions(work, v)
    adds = [a["add"] for a in acts_v if "add" in a]
    assert len(adds) == 1
    assert adds[0]["deletionVector"]["cardinality"] == 1
    assert adds[0]["baseRowId"] == 0  # preserved, not re-stamped
    assert adds[0]["defaultRowCommitVersion"] == 0
    assert not any("domainMetadata" in a for a in acts_v)
    assert dl._row_id_high_water_mark(work, v) == 4  # unmoved


def test_row_tracking_restore_preserved(spark, tmp_path):
    """RESTORE re-activates old adds verbatim (stamps preserved) — it
    must pass the gate on rowTracking tables."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_rst")
    dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"), work
    )
    dl.restore_delta(work, 0)
    assert _snapshot_rows(spark, work) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0),
    ]
    active, _, _, _ = dl._replay(work, None)
    assert sorted(a.get("baseRowId") for a in active.values()) == [0, 3]


def _cdf_work(spark, tmp_path, name):
    work = _copy_fixture(tmp_path, GOLDEN_CDF, name)
    latest = dl._list_versions(work)[-1]
    return work, latest


def _cdc_rows(path, version):
    """The change rows commit ``version`` staged: each ``cdc`` action's
    ``_change_data`` parquet read directly, with the action's partition
    values attached — dicts keyed by the files' own (physical) column
    names plus ``_change_type``."""
    import pyarrow.parquet as pq

    rows = []
    for a in dl._read_actions(path, version):
        if "cdc" in a:
            c = a["cdc"]
            part = pq.ParquetFile(os.path.join(path, c["path"])).read()
            rows += [{**c["partitionValues"], **r} for r in part.to_pylist()]
    return rows


def _changes(rows, change_type, cols=("id", "v")):
    """Sorted ``cols`` tuples of the change rows of one type."""
    return sorted(
        tuple(r[c] for c in cols) for r in rows if r["_change_type"] == change_type
    )


def test_cdf_delete_round_trip(spark, tmp_path):
    """Our rewrite DELETE on a CDF table emits cdc actions +
    _change_data files whose rows match the derived snapshot diff (the
    oracle)."""
    work, latest = _cdf_work(spark, tmp_path, "cdf_del")
    before = _snapshot_rows(spark, work)
    v = dl.delete_delta(spark, work, "id = 1")
    after = _snapshot_rows(spark, work)
    acts = dl._read_actions(work, v)
    cdcs = [a["cdc"] for a in acts if "cdc" in a]
    assert cdcs and all(c["dataChange"] is False for c in cdcs)
    assert all(c["path"].startswith("_change_data/") for c in cdcs)
    assert all(
        os.path.exists(os.path.join(work, c["path"])) for c in cdcs
    )
    rows = _cdc_rows(work, v)
    # derived-diff oracle: cdc content == snapshot diff
    assert _changes(rows, "delete") == sorted(set(before) - set(after)) == [(1, 99.0)]
    assert {r["_change_type"] for r in rows} == {"delete"}


def test_cdf_update_round_trip(spark, tmp_path):
    work, latest = _cdf_work(spark, tmp_path, "cdf_upd")
    before = _snapshot_rows(spark, work)
    v = dl.update_delta(spark, work, "id = 2", {"v": "v * 10"})
    after = _snapshot_rows(spark, work)
    rows = _cdc_rows(work, v)
    pre = _changes(rows, "update_preimage")
    post = _changes(rows, "update_postimage")
    assert pre == sorted(set(before) - set(after)) == [(2, 2.0)]
    assert post == sorted(set(after) - set(before)) == [(2, 20.0)]
    # the pre/post pair is exactly what file-granular derivation CANNOT
    # produce — only the staged change data carries it
    assert {r["_change_type"] for r in rows} == {
        "update_preimage", "update_postimage",
    }


def test_cdf_overwrite_round_trip(spark, tmp_path):
    work, latest = _cdf_work(spark, tmp_path, "cdf_ovw")
    before = _snapshot_rows(spark, work)
    batch = spark.createDataFrame([(7, 7.0)], "id long, v double")
    v = dl.write_delta(batch, work, mode="overwrite")
    rows = _cdc_rows(work, v)
    assert _changes(rows, "delete") == before
    assert _changes(rows, "insert") == [(7, 7.0)]
    # while a plain append stays cdc-free
    v2 = dl.write_delta(batch, work, mode="append")
    assert not any("cdc" in a for a in dl._read_actions(work, v2))


def test_cdf_dv_delete_round_trip(spark, tmp_path):
    """DV DELETE on a CDF table: the commit is remove+re-add of the SAME
    file (underivable) — the cdc actions carry exactly the matched
    rows."""
    work, latest = _cdf_work(spark, tmp_path, "cdf_dv")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["changeDataFeed", "deletionVectors"],
            }
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableDeletionVectors"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    v = dl.delete_delta(spark, work, "id = 2", use_dv=True)
    acts_v = dl._read_actions(work, v)
    assert any("cdc" in a for a in acts_v)
    assert any(
        a["add"].get("deletionVector") for a in acts_v if "add" in a
    )
    rows = _cdc_rows(work, v)
    assert [(r["id"], r["v"], r["_change_type"]) for r in rows] == [
        (2, 2.0, "delete")
    ]


def test_cdf_partitioned_dml_partition_values(spark, tmp_path):
    """Partitioned CDF table: cdc actions carry the hive partition
    values (authoritative per the spec), which re-attach the partition
    column to the change rows."""
    work = str(tmp_path / "cdf_part")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, p string, v double",
    )
    dl.write_delta(df.repartition(2, "p"), work, partition_by=["p"])
    meta = dl._latest_metadata(work, 0)
    meta["configuration"]["delta.enableChangeDataFeed"] = "true"
    dl._commit(
        work,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["changeDataFeed"],
                }
            },
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": 1700000000000,
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {},
                }
            },
        ],
    )
    v = dl.delete_delta(spark, work, "id = 1")
    cdcs = [a["cdc"] for a in dl._read_actions(work, v) if "cdc" in a]
    assert cdcs and all(c["partitionValues"] == {"p": "a"} for c in cdcs)
    rows = _cdc_rows(work, v)
    assert [(r["id"], r["p"], r["v"], r["_change_type"]) for r in rows] == [
        (1, "a", 1.0, "delete")
    ]


def test_cdf_column_mapping_physical_change_files(spark, tmp_path):
    """CM + CDF (round-10): change data files carry PHYSICAL column
    names exactly like data files."""
    import pyarrow.parquet as pq

    work = _copy_fixture(tmp_path, GOLDEN_CM, "cm_cdf_dml")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableChangeDataFeed"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    before = _snapshot_rows(spark, work)
    v = dl.update_delta(spark, work, "id = 1", {"v": "v + 1"})
    cdcs = [a["cdc"] for a in dl._read_actions(work, v) if "cdc" in a]
    assert cdcs
    names = set()
    for c in cdcs:
        names |= set(pq.read_schema(os.path.join(work, c["path"])).names)
    assert "col-1a2b3c4d" in names and "col-5e6f7a8b" in names
    assert "id" not in names and "v" not in names
    assert "_change_type" in names
    rows = _cdc_rows(work, v)
    phys = ("col-1a2b3c4d", "col-5e6f7a8b")  # id, v
    assert _changes(rows, "update_preimage", phys) == [(1, before[0][1])]
    assert _changes(rows, "update_postimage", phys) == [(1, before[0][1] + 1)]


def test_cdf_row_tracking_update_composition(spark, tmp_path):
    """rowTracking × CDF on the SAME table (round-11): an UPDATE must
    simultaneously (a) preserve every surviving row's stable row id
    through the materializing rewrite and (b) emit a clean
    pre/post-image change feed whose files carry ONLY the logical data
    schema — the reserved materialized columns must never leak into
    ``_change_data`` (delta-spark keeps CDF output at the table's
    logical schema regardless of hidden row-tracking columns)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_cdf_upd")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"]["writerFeatures"].append("changeDataFeed")
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableChangeDataFeed"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    # steady state: file0 already materializes ids (delta-spark rewrote it)
    target = os.path.join(
        work, "part-00000-aaaa1111-0000-4000-8000-000000000000-c000.snappy.parquet"
    )
    tbl = pq.read_table(target)
    tbl = tbl.append_column(
        "_row-id-col-0", pa.array([100, 101, 102], pa.int64())
    )
    pq.write_table(tbl, target)
    before_ids = _row_ids(spark, work)
    assert before_ids == {1: 100, 2: 101, 3: 102, 4: 3, 5: 4}
    v = dl.update_delta(spark, work, "id = 2", {"v": "v * 10"})
    # (a) identity survives the CDF-emitting rewrite verbatim
    assert _row_ids(spark, work) == before_ids
    # (b) the change data holds exactly the pre/post pair, nothing hidden
    rows = _cdc_rows(work, v)
    assert all(set(r) == {"id", "v", "_change_type"} for r in rows)
    assert _changes(rows, "update_preimage") == [(2, 2.0)]
    assert _changes(rows, "update_postimage") == [(2, 20.0)]
    assert len(rows) == 2  # copied rows never appear as changes
    # the _change_data parquet itself is free of reserved columns
    cdcs = [a["cdc"] for a in dl._read_actions(work, v) if "cdc" in a]
    assert cdcs
    for c in cdcs:
        names = set(pq.read_schema(os.path.join(work, c["path"])).names)
        assert "_row-id-col-0" not in names
        assert "_row-commit-version-col-0" not in names
        assert {"id", "v", "_change_type"} <= names


def test_v2_checkpoint_policy_writes_v2_format(spark, tmp_path, monkeypatch):
    """Round-10: delta.checkpointPolicy=v2 makes write_checkpoint emit
    the V2 format — uuid-named single file carrying the spec-required
    checkpointMetadata action — and above the per-file cap the FILE
    actions spill to _sidecars/ parquets referenced by sidecar actions.
    Replay through our own v2 checkpoint must be exact."""
    import glob
    import shutil

    work = str(tmp_path / "v2cp")
    shutil.copytree(GOLDEN_V2CP, work)
    dl.set_table_properties(work, {"delta.checkpointPolicy": "v2"})
    dl.write_delta(
        spark.createDataFrame([(5, 5.0)], "id long, v double"), work
    )
    cp_v = dl.write_checkpoint(work)
    cps = glob.glob(
        os.path.join(work, "_delta_log", f"{cp_v:020d}.checkpoint.*.parquet")
    )
    assert len(cps) == 1
    import pyarrow.parquet as pq

    rows = pq.read_table(cps[0]).to_pylist()
    cms = [r["checkpointMetadata"] for r in rows if r.get("checkpointMetadata")]
    assert len(cms) == 1 and cms[0]["version"] == cp_v
    # replay THROUGH our own v2 checkpoint: the post-checkpoint read
    # must use it (drop the retained JSONs' cache-independence by
    # checking _read_checkpoint_actions directly)
    acts = dl._read_checkpoint_actions(work, cp_v)
    assert any("protocol" in a for a in acts)
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        1, 2, 3, 4, 5,
    ]
    # sidecar spill above the cap: every add moves to _sidecars/, replay
    # still exact
    monkeypatch.setattr(dl, "CHECKPOINT_MAX_ACTIONS_PER_PART", 1)
    dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"), work
    )
    cp_v2 = dl.write_checkpoint(work)
    cps2 = [
        p
        for p in glob.glob(
            os.path.join(
                work, "_delta_log", f"{cp_v2:020d}.checkpoint.*.parquet"
            )
        )
    ]
    assert len(cps2) == 1
    rows2 = pq.read_table(cps2[0]).to_pylist()
    sidecars = [r["sidecar"] for r in rows2 if r.get("sidecar")]
    assert len(sidecars) >= 2  # one add per sidecar under cap=1
    assert not any(r.get("add") for r in rows2)  # adds live in sidecars
    acts2 = dl._read_checkpoint_actions(work, cp_v2)
    assert sum(1 for a in acts2 if "add" in a) == len(sidecars)
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [
        1, 2, 3, 4, 5, 6,
    ]


def _make_generated_table(spark, path: str, v7: bool = False) -> None:
    """A table whose v2 column is GENERATED ALWAYS AS (v * 2) — schema
    field metadata delta.generatedAlwaysAs, protocol writer v4 (legacy
    generated-columns capability) or v7 + generatedColumns feature."""
    df = spark.createDataFrame(
        [(1, 10.0, 20.0)], "id long, v double, v2 double"
    )
    dl.write_delta(df.coalesce(1), path)
    log0 = os.path.join(path, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = (
                {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["generatedColumns"],
                }
                if v7
                else {"minReaderVersion": 1, "minWriterVersion": 4}
            )
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            for f in sch["fields"]:
                if f["name"] == "v2":
                    f["metadata"]["delta.generatedAlwaysAs"] = "v * 2"
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")


@pytest.mark.parametrize("v7", [False, True], ids=["writer-v4", "v7-feature"])
def test_generated_columns_enforced_on_append(spark, tmp_path, v7):
    """Round-10: generated-column tables accept writes whose supplied
    values SATISFY the generation expressions and refuse divergent ones
    — the enforcement posture of the generatedColumns capability, on
    both the legacy v4 form and the v7 feature form."""
    path = str(tmp_path / "gen")
    _make_generated_table(spark, path, v7=v7)
    ok = spark.createDataFrame([(2, 3.0, 6.0)], "id long, v double, v2 double")
    dl.write_delta(ok, path, mode="append")
    assert dl.read_delta(spark, path).count() == 2
    bad = spark.createDataFrame([(3, 3.0, 7.0)], "id long, v double, v2 double")
    with pytest.raises(ValueError, match="generated column v2"):
        dl.write_delta(bad, path, mode="append")
    assert dl.read_delta(spark, path).count() == 2  # no spurious version


def test_generated_columns_update_recomputes(spark, tmp_path):
    """UPDATE recomputes generated columns its SET list leaves untouched
    (delta-spark behavior) and refuses a SET that breaks one."""
    path = str(tmp_path / "gen")
    _make_generated_table(spark, path)
    dl.update_delta(spark, path, "id = 1", {"v": "v + 1"})
    row = dl.read_delta(spark, path).first()
    assert (row["v"], row["v2"]) == (11.0, 22.0)  # v2 followed v
    with pytest.raises(ValueError, match="generated column v2"):
        dl.update_delta(spark, path, "id = 1", {"v2": "0.0D"})
    # explicitly SETTING the generated column CONSISTENTLY is fine
    dl.update_delta(spark, path, "id = 1", {"v": "1.0D", "v2": "2.0D"})
    row = dl.read_delta(spark, path).first()
    assert (row["v"], row["v2"]) == (1.0, 2.0)
    # DELETE and OPTIMIZE are pure copies — allowed
    dl.write_delta(
        spark.createDataFrame([(9, 2.0, 4.0)], "id long, v double, v2 double"),
        path,
        mode="append",
    )
    assert dl.optimize_delta(spark, path, target_files=1) is not None
    dl.delete_delta(spark, path, "id = 9")
    assert dl.read_delta(spark, path).count() == 1


def test_clustered_table_writes_preserve_domain(spark, tmp_path):
    """Round-10: liquid-clustering tables (writer v7 + clustering +
    domainMetadata, default-on in newer DBR) accept the full write
    surface; the delta.clustering domain metadata survives every
    commit, replay and checkpoint — the feature's actual writer
    obligation. OPTIMIZE ZORDER BY the clustering columns is the
    re-clustering lever."""
    path = str(tmp_path / "clust")
    dl.write_delta(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, v double"
        ).coalesce(1),
        path,
    )
    dl._commit(
        path,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["clustering", "domainMetadata"],
                }
            },
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [["v"]]}
                    ),
                    "removed": False,
                }
            },
            {
                "commitInfo": {
                    "timestamp": 1700000000000,
                    "operation": "CLUSTER BY",
                    "operationParameters": {},
                }
            },
        ],
    )
    v = dl.write_delta(
        spark.createDataFrame([(3, 3.0)], "id long, v double"), path
    )
    v = dl.delete_delta(spark, path, "id = 1")
    v = dl.optimize_delta(spark, path, target_files=1, zorder_by=["v"])
    assert sorted(r["id"] for r in dl.read_delta(spark, path).collect()) == [
        2, 3,
    ]
    dm = dl._collect_domain_metadata(path, v)["delta.clustering"]
    assert not dm.get("removed")
    assert "clusteringColumns" in dm["configuration"]
    cp = dl.write_checkpoint(path)
    cp_domains = {
        a["domainMetadata"]["domain"]
        for a in dl._read_checkpoint_actions(path, cp)
        if "domainMetadata" in a
    }
    assert "delta.clustering" in cp_domains


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Round-10 timestampAsOf: reads and RESTORE resolve epoch-ms or ISO
    timestamps to the latest commit at-or-before the instant,
    with the ICT-preferring per-commit clock; before-first-commit
    raises; version+timestamp together raises."""
    path = str(tmp_path / "tt")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path
    )
    ts0 = dl._prev_commit_timestamp(path, 0)
    dl.write_delta(
        spark.createDataFrame([(2, 2.0)], "id long, v double"), path
    )
    ts1 = dl._prev_commit_timestamp(path, 1)
    assert ts1 >= ts0
    assert dl.read_delta(spark, path, timestamp_as_of=ts0).count() == 1
    assert dl.read_delta(spark, path, timestamp_as_of=ts1).count() == 2
    import datetime

    iso = datetime.datetime.fromtimestamp(
        ts0 / 1000.0, datetime.timezone.utc
    ).isoformat()
    assert dl.read_delta(spark, path, timestamp_as_of=iso).count() == 1
    with pytest.raises(ValueError, match="predates"):
        dl.read_delta(spark, path, timestamp_as_of=ts0 - 1)
    with pytest.raises(ValueError, match="not both"):
        dl.read_delta(spark, path, version=0, timestamp_as_of=ts0)
    # RESTORE TO TIMESTAMP
    dl.restore_delta(path, to_timestamp=ts0)
    assert dl.read_delta(spark, path).count() == 1
    with pytest.raises(ValueError, match="exactly one"):
        dl.restore_delta(path)


def test_timestamp_as_of_prefers_in_commit_timestamp(spark, tmp_path):
    """On an ICT table the authoritative clock is inCommitTimestamp: a
    target between commitInfo.timestamp (1700000000000) and the ICT
    (1700000000007) must NOT see the commit."""
    import shutil

    work = str(tmp_path / "ict")
    shutil.copytree(GOLDEN_ICT, work)
    with pytest.raises(ValueError, match="predates"):
        dl.read_delta(spark, work, timestamp_as_of=1700000000003)
    assert dl.read_delta(
        spark, work, timestamp_as_of=1700000000007
    ).count() == 3


def test_type_widening_decimal_precision_floor(spark, tmp_path):
    """Review r10: long→decimal demands >= 20 integer digits — a
    recorded long→decimal(5,0) would overflow mid-scan and must refuse;
    long→decimal(20,0) passes."""
    import shutil

    work = str(tmp_path / "tw")
    shutil.copytree(GOLDEN_TW, work)
    log1 = os.path.join(work, "_delta_log", "00000000000000000001.json")
    acts = [json.loads(line) for line in open(log1)]

    def _set_change(frm, to):
        for a in acts:
            if "metaData" in a:
                sch = json.loads(a["metaData"]["schemaString"])
                sch["fields"][0]["metadata"]["delta.typeChanges"] = [
                    {"fromType": frm, "toType": to, "tableVersion": 1}
                ]
                a["metaData"]["schemaString"] = json.dumps(sch)
        with open(log1, "w") as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")

    _set_change("long", "decimal(5,0)")
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="widening"):
        dl.read_delta(spark, work)
    _set_change("integer", "decimal(10,0)")
    assert dl._type_change_ok("long", "decimal(20,0)")
    assert not dl._type_change_ok("long", "decimal(21,2)")
    assert dl._type_change_ok("integer", "decimal(12,2)")


def test_failed_update_leaves_no_change_data_orphans(spark, tmp_path):
    """Review r10: cdc files stage only AFTER every validation on a
    CDF table, so a refused UPDATE (generated-column break) leaves
    _change_data empty instead of orphaning change files."""
    path = str(tmp_path / "gen_cdf")
    _make_generated_table(spark, path, v7=True)
    log0 = os.path.join(path, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"]["writerFeatures"] = [
                "generatedColumns", "changeDataFeed",
            ]
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableChangeDataFeed"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="generated column v2"):
        dl.update_delta(spark, path, "id = 1", {"v2": "0.0D"})
    cd = os.path.join(path, "_change_data")
    assert not os.path.isdir(cd) or not os.listdir(cd)
    # a SUCCEEDING update on the same table emits its pair
    v = dl.update_delta(spark, path, "id = 1", {"v": "v + 1"})
    assert {r["_change_type"] for r in _cdc_rows(path, v)} == {
        "update_preimage", "update_postimage",
    }


def test_read_with_row_ids(spark, tmp_path):
    """Round-10 rowTracking READ surface: _row_id = materialized value
    when the hidden column exists, else baseRowId + row_index; DV
    deletes keep survivors' ids; plain tables refuse."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_read")
    got = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # materialized ids in file1 override the derivation
    target = os.path.join(
        work, "part-00000-aaaa1111-0000-4000-8000-000000000000-c000.snappy.parquet"
    )
    tbl = pq.read_table(target)
    tbl = tbl.append_column(
        "_row-id-col-0", pa.array([100, 101, 102], pa.int64())
    )
    pq.write_table(tbl, target)
    got2 = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }
    assert got2 == {1: 100, 2: 101, 3: 102, 4: 3, 5: 4}
    # an append keeps fresh derivation above the mark
    dl.write_delta(
        spark.createDataFrame([(6, 6.0)], "id long, v double"), work
    )
    got3 = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }
    assert got3[6] == 5
    # plain tables refuse
    plain = str(tmp_path / "plain")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), plain
    )
    with pytest.raises(ValueError, match="baseRowId"):
        dl.read_delta(spark, plain, with_row_ids=True)


def test_read_with_row_ids_dv_survivors(spark, tmp_path):
    """A DV delete keeps surviving rows' _row_id stable — the property
    the DV path's verbatim re-add exists to protect."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_read_dv")
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": [
                    "rowTracking", "domainMetadata", "deletionVectors",
                ],
            }
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.enableDeletionVectors"] = "true"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    before = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }
    dl.delete_delta(spark, work, "id = 2", use_dv=True)
    after = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta(spark, work, with_row_ids=True).collect()
    }
    assert 2 not in after
    assert after == {k: v for k, v in before.items() if k != 2}


# ---- round-11: ADVICE r10 fixes — v2-checkpoint gating, monotonized ----
# timestamps, unconditional ICT probe, sidecar-aware pointer size


def test_checkpoint_policy_v2_requires_feature(spark, tmp_path):
    """delta.checkpointPolicy=v2 without the v2Checkpoint protocol
    feature: set_table_properties refuses, and a hand-injected key makes write_checkpoint FALL BACK
    to the classic format — a classic reader following _last_checkpoint
    must always be able to resolve the file it names."""
    import glob

    work = str(tmp_path / "plaincp")
    dl.write_delta(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        work,
    )
    with pytest.raises(ValueError, match="v2Checkpoint reader"):
        dl.set_table_properties(work, {"delta.checkpointPolicy": "v2"})
    # hand-inject the key (an external writer could): classic fallback
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            a["metaData"].setdefault("configuration", {})[
                "delta.checkpointPolicy"
            ] = "v2"
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    cp_v = dl.write_checkpoint(work)
    assert os.path.exists(dl._checkpoint_file(work, cp_v))  # classic name
    assert not glob.glob(
        os.path.join(work, "_delta_log", f"{cp_v:020d}.checkpoint.*-*.parquet")
    )
    assert sorted(r["id"] for r in dl.read_delta(spark, work).collect()) == [1, 2]


def test_v2_checkpoint_pointer_size_counts_actions_once(
    spark, tmp_path, monkeypatch
):
    """A spilled v2 checkpoint's _last_checkpoint 'size' counts non-file
    head actions plus file actions ONCE — sidecar reference actions are
    no longer double-counted on top of the adds they reference."""
    import shutil

    work = str(tmp_path / "v2size")
    shutil.copytree(GOLDEN_V2CP, work)
    dl.set_table_properties(work, {"delta.checkpointPolicy": "v2"})
    monkeypatch.setattr(dl, "CHECKPOINT_MAX_ACTIONS_PER_PART", 1)
    dl.write_delta(
        spark.createDataFrame([(5, 5.0)], "id long, v double"), work
    )
    cp_v = dl.write_checkpoint(work)
    ptr = json.load(open(os.path.join(work, "_delta_log", "_last_checkpoint")))
    assert ptr["version"] == cp_v
    stored = dl._read_checkpoint_actions(work, cp_v)
    # stored actions = what an external consumer can enumerate from the
    # checkpoint (head non-file actions + sidecar file actions), plus
    # the checkpointMetadata action itself (stored but never surfaced
    # by replay) — the sidecar REFERENCE actions are counted no more
    assert ptr["size"] == len(stored) + 1


def test_version_at_timestamp_monotonizes_clock_regressions(spark, tmp_path):
    """Pre-ICT commit clocks can regress (multi-writer skew / mtime
    fallback). delta-spark monotonizes before the timestampAsOf search;
    so do we: a regressed commit reads as predecessor+1, so a target
    between the true clocks can never resolve PAST a newer commit."""
    work = str(tmp_path / "skew")
    for i in range(3):
        dl.write_delta(
            spark.createDataFrame([(i, float(i))], "id long, v double"),
            work,
            mode="append",
        )
    logd = os.path.join(work, "_delta_log")
    clocks = {0: 1_000_000, 1: 2_000_000, 2: 1_500_000}  # v2 regresses
    for v, ts in clocks.items():
        f = os.path.join(logd, f"{v:020d}.json")
        acts = [json.loads(line) for line in open(f)]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(f, "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")
    adj = dl._adjusted_commit_timestamps(work, [0, 1, 2])
    assert adj == {0: 1_000_000, 1: 2_000_000, 2: 2_000_001}
    # raw search would have returned v2 (clock 1.5M <= 1.9M target),
    # resolving a snapshot PAST commit v1 (2.0M > target); adjusted
    # search stops at v0 — no commit newer than the target leaks in
    assert dl.version_at_timestamp(work, 1_900_000) == 0
    assert dl.read_delta(
        spark, work, timestamp_as_of=1_900_000
    ).count() == 1
    assert dl.version_at_timestamp(work, 2_000_000) == 1
    assert dl.version_at_timestamp(work, 2_000_001) == 2


def test_ict_stamped_on_protocol_only_commit(spark, tmp_path):
    """ADVICE r10 (latent): a commit carrying a protocol action but NO
    metaData on an ICT-enabled table must still land with an
    inCommitTimestamp — the probe no longer hides inside the
    no-protocol branch."""
    import shutil

    work = str(tmp_path / "ict_proto")
    shutil.copytree(GOLDEN_ICT, work)
    proto = dict(dl._latest_protocol(work, dl._list_versions(work)[-1]))
    feats = set(proto.get("writerFeatures") or [])
    feats.add("domainMetadata")
    proto["writerFeatures"] = sorted(feats)
    v = dl._commit_with_retry(
        work,
        dl._list_versions(work)[-1] + 1,
        [
            {"protocol": proto},
            {
                "commitInfo": {
                    "timestamp": int(1e12),
                    "operation": "UPGRADE PROTOCOL",
                }
            },
        ],
    )
    acts = dl._read_actions(work, v)
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert ci.get("inCommitTimestamp") is not None
    assert ci["inCommitTimestamp"] > 0


# ---- round-11: identityColumns write support -----------------------------

GOLDEN_IDENT = os.path.join(
    os.path.dirname(__file__), "data", "golden_delta_identity"
)


def _ident_hwm(path):
    meta = dl._latest_metadata(path, dl._list_versions(path)[-1])
    fields = json.loads(meta["schemaString"])["fields"]
    return next(
        f["metadata"].get("delta.identity.highWaterMark")
        for f in fields
        if f["name"] == "ident"
    )


def test_identity_append_assigns_and_advances(spark, tmp_path):
    """write_delta into an identity table ASSIGNS values for the absent
    column — unique, above the high-water mark, on the start+k·step
    lattice — and advances the mark in the same commit's metaData; a
    second append continues above the new mark."""
    import shutil

    work = str(tmp_path / "ident")
    shutil.copytree(GOLDEN_IDENT, work)
    assert sorted(
        r["ident"] for r in dl.read_delta(spark, work).collect()
    ) == [1, 2, 3]
    dl.write_delta(
        spark.createDataFrame([(4.0,), (5.0,)], "v double").coalesce(1), work
    )
    rows = {r["ident"]: r["v"] for r in dl.read_delta(spark, work).collect()}
    new_ids = sorted(set(rows) - {1, 2, 3})
    assert len(new_ids) == 2 and all(i > 3 for i in new_ids)
    assert sorted(rows[i] for i in new_ids) == [4.0, 5.0]
    hwm1 = _ident_hwm(work)
    assert hwm1 == max(new_ids)  # mark advanced to the furthest value
    # second append: strictly above the NEW mark, no collisions
    dl.write_delta(
        spark.createDataFrame([(6.0,)], "v double").coalesce(1), work
    )
    all_ids = [r["ident"] for r in dl.read_delta(spark, work).collect()]
    assert len(all_ids) == len(set(all_ids)) == 6
    assert _ident_hwm(work) > hwm1
    # multi-partition batches stay unique (gaps are legal identity
    # semantics — per-partition block allocation)
    dl.write_delta(
        spark.createDataFrame(
            [(float(i),) for i in range(7, 12)], "v double"
        ).repartition(3),
        work,
    )
    all_ids = [r["ident"] for r in dl.read_delta(spark, work).collect()]
    assert len(all_ids) == len(set(all_ids)) == 11
    assert _ident_hwm(work) == max(all_ids)


def test_identity_explicit_values_refuse_on_always(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY (allowExplicitInsert=false): a batch
    that supplies the column refuses per spec; nothing commits."""
    import shutil

    work = str(tmp_path / "ident_exp")
    shutil.copytree(GOLDEN_IDENT, work)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        dl.write_delta(
            spark.createDataFrame([(99, 9.0)], "ident long, v double"), work
        )
    assert dl.read_delta(spark, work).count() == 3  # untouched


def test_identity_by_default_explicit_allowed_advances_mark(spark, tmp_path):
    """allowExplicitInsert=true (GENERATED BY DEFAULT): explicit values
    land verbatim and the mark still advances past them, so a later
    ASSIGNING append cannot collide."""
    import shutil

    work = str(tmp_path / "ident_dflt")
    shutil.copytree(GOLDEN_IDENT, work)
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            doc = json.loads(a["metaData"]["schemaString"])
            for f in doc["fields"]:
                if f["name"] == "ident":
                    f["metadata"]["delta.identity.allowExplicitInsert"] = True
            a["metaData"]["schemaString"] = json.dumps(doc)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    dl.write_delta(
        spark.createDataFrame([(10, 10.0)], "ident long, v double"), work
    )
    assert _ident_hwm(work) == 10
    dl.write_delta(
        spark.createDataFrame([(11.0,)], "v double").coalesce(1), work
    )
    ids = sorted(r["ident"] for r in dl.read_delta(spark, work).collect())
    assert ids == sorted(set(ids)) and max(ids) > 10
    assert 11 in ids  # next lattice value after the explicit 10


def test_identity_dml_copy_guards(spark, tmp_path):
    """DELETE/OPTIMIZE copy identity values verbatim (mark untouched);
    UPDATE may not SET an identity column."""
    import shutil

    work = str(tmp_path / "ident_dml")
    shutil.copytree(GOLDEN_IDENT, work)
    dl.delete_delta(spark, work, "ident = 2")
    assert sorted(
        r["ident"] for r in dl.read_delta(spark, work).collect()
    ) == [1, 3]
    assert _ident_hwm(work) == 3
    dl.update_delta(spark, work, "ident = 3", {"v": "v * 10"})
    rows = {r["ident"]: r["v"] for r in dl.read_delta(spark, work).collect()}
    assert rows == {1: 1.0, 3: 30.0}
    with pytest.raises(ValueError, match="identity"):
        dl.update_delta(spark, work, "ident = 3", {"ident": "99"})
    # zorder forces the rewrite even at one file — values copy verbatim
    v = dl.optimize_delta(spark, work, target_files=1, zorder_by=["ident"])
    assert v is not None
    assert sorted(
        r["ident"] for r in dl.read_delta(spark, work).collect()
    ) == [1, 3]
    assert _ident_hwm(work) == 3


def test_identity_append_on_column_mapped_table(spark, tmp_path):
    """CM × identity (round-11 review fix): footer stats of a
    column-mapped table key by PHYSICAL names — the high-water-mark
    read must translate the identity column's logical name, or every
    append raises 'carries no footer stats'."""
    import shutil

    work = str(tmp_path / "cm_ident")
    shutil.copytree(GOLDEN_CM, work)
    log0 = os.path.join(work, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 2,
                "minWriterVersion": 7,
                "writerFeatures": ["columnMapping", "identityColumns"],
            }
        if "metaData" in a:
            doc = json.loads(a["metaData"]["schemaString"])
            for f in doc["fields"]:
                if f["name"] == "id":
                    f["metadata"].update(
                        {
                            "delta.identity.start": 1,
                            "delta.identity.step": 1,
                            "delta.identity.highWaterMark": 2,
                            "delta.identity.allowExplicitInsert": False,
                        }
                    )
            a["metaData"]["schemaString"] = json.dumps(doc)
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    v = dl.write_delta(
        spark.createDataFrame([(9.0,), (10.0,)], "v double").coalesce(1),
        work,
    )
    got = sorted((r["id"], r["v"]) for r in dl.read_delta(spark, work).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 9.0), (4, 10.0)]
    # the mark advanced in the same commit, stored in schema metadata
    import re as _re

    meta = dl._latest_metadata(work, v)
    assert _re.search(
        r'"delta\.identity\.highWaterMark":\s*4', meta["schemaString"]
    )


# ---- round-11: version checksums (<version>.crc) ---------------------


def test_version_checksum_written_per_commit(spark, tmp_path):
    """Every commit lands a ``<version>.crc`` whose counted state
    (numFiles/tableSizeBytes) matches an independent replay, and whose
    metadata/protocol are the governing actions — the file delta-spark
    emits alongside commits and reads for fast state reconstruction."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), path)
    dl.write_delta(
        spark.createDataFrame([(3, "c")], "id long, s string"), path, mode="append"
    )
    dl.delete_delta(spark, path, "id = 1")
    for v in dl._list_versions(path):
        crc_path = dl._checksum_file(path, v)
        assert os.path.exists(crc_path), f"missing .crc for version {v}"
        with open(crc_path) as f:
            crc = json.loads(f.read())
        active, _, _, meta = dl._replay(path, v)
        assert crc["numFiles"] == len(active)
        assert crc["tableSizeBytes"] == sum(int(a["size"]) for a in active.values())
        assert crc["numMetadata"] == 1 and crc["numProtocol"] == 1
        assert crc["metadata"] == meta
        assert crc["protocol"] == dl._latest_protocol(path, v)
        # self-check must agree with what we just wrote
        assert dl.verify_version_checksum(path, v) == crc


def test_version_checksum_detects_tampering(spark, tmp_path):
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    v = dl._list_versions(path)[-1]
    crc_path = dl._checksum_file(path, v)
    with open(crc_path) as f:
        crc = json.loads(f.read())
    crc["numFiles"] += 7
    with open(crc_path, "w") as f:
        f.write(json.dumps(crc))
    with pytest.raises(ValueError, match="numFiles"):
        dl.verify_version_checksum(path, v)


def test_version_checksum_ignores_foreign_optional_fields(spark, tmp_path):
    """An external writer's .crc may carry fields this engine does not
    model (histogramOpt, allFiles) or omit optional ones — verify must
    compare only what is present, like delta-spark does."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    v = dl._list_versions(path)[-1]
    crc_path = dl._checksum_file(path, v)
    with open(crc_path) as f:
        crc = json.loads(f.read())
    crc["histogramOpt"] = {"sortedBinBoundaries": [0], "fileCounts": [1], "totalBytes": [10]}
    del crc["tableSizeBytes"]
    with open(crc_path, "w") as f:
        f.write(json.dumps(crc))
    assert dl.verify_version_checksum(path, v)["numFiles"] == 1


def test_version_checksum_optional_state_fields(spark, tmp_path):
    """ICT tables stamp inCommitTimestampOpt equal to the commit's own
    inCommitTimestamp; txn appIds surface as setTransactions; a missing
    .crc raises FileNotFoundError."""
    import shutil

    path = str(tmp_path / "t")
    shutil.copytree(GOLDEN_ICT, path)
    dl.write_delta(
        spark.createDataFrame([(4, 4.0)], "id long, v double"), path, mode="append"
    )
    v = dl._list_versions(path)[-1]
    with open(dl._checksum_file(path, v)) as f:
        crc = json.loads(f.read())
    info = next(
        a["commitInfo"] for a in dl._read_actions(path, v) if "commitInfo" in a
    )
    assert crc["inCommitTimestampOpt"] == info["inCommitTimestamp"]
    os.remove(dl._checksum_file(path, v))
    with pytest.raises(FileNotFoundError):
        dl.verify_version_checksum(path, v)


def test_table_checkpoint_interval_property(spark, tmp_path):
    """delta.checkpointInterval (the delta-spark table property) governs
    the auto-checkpoint cadence instead of the global default — resolved
    from the metadata the per-commit checksum replay already computed."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id long")
    dl.write_delta(df, path)                             # v0
    dl.set_table_properties(path, {"delta.checkpointInterval": "3"})  # v1
    for _ in range(5):                                   # v2..v6
        dl.write_delta(df, path, mode="append")
    cps = {
        v
        for v in range(0, 7)
        if os.path.exists(dl._checkpoint_file(path, v))
    }
    assert cps == {3, 6}


def test_checksum_emission_pauses_without_checkpoints(
    spark, tmp_path, monkeypatch, caplog
):
    """ADVICE r11: when checkpoints persistently fail (or the cadence
    is huge), per-commit checksum emission would degrade every commit
    to an ever-longer replay — past CHECKSUM_MAX_REPLAY_COMMITS it
    PAUSES with one visible warning per table, and resumes once a
    checkpoint lands."""
    import logging

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id long").coalesce(1)
    monkeypatch.setattr(dl, "CHECKSUM_MAX_REPLAY_COMMITS", 5)
    monkeypatch.setattr(dl, "CHECKPOINT_INTERVAL", 3)
    monkeypatch.setattr(
        dl, "write_checkpoint",
        lambda *a, **k: (_ for _ in ()).throw(OSError("disk full")),
    )
    dl._WARNED_TABLES.clear()
    with caplog.at_level(logging.WARNING, logger="sustainable_building_energy_benchmarking_pipeline_spark.sources.deltalog"):
        dl.write_delta(df, path)  # v0
        for _ in range(8):        # v1..v8 — crosses the pause bound
            dl.write_delta(df, path, mode="append")
    vs = dl._list_versions(path)
    assert vs[-1] == 8
    has_crc = {v for v in vs if os.path.exists(dl._checksum_file(path, v))}
    assert 0 in has_crc and 8 not in has_crc  # paused past the bound
    warn_msgs = [r.message for r in caplog.records]
    assert sum("skipping per-commit" in m for m in warn_msgs) == 1  # once
    assert sum("checkpoint write failed" in m for m in warn_msgs) == 1
    # a real checkpoint landing resumes emission
    monkeypatch.undo()
    monkeypatch.setattr(dl, "CHECKSUM_MAX_REPLAY_COMMITS", 5)
    dl.write_checkpoint(path, 8)
    dl.write_delta(df, path, mode="append")  # v9
    assert os.path.exists(dl._checksum_file(path, 9))
    assert dl.verify_version_checksum(path, 9)


def test_row_tracking_optimize_byte_aware_preserves_ids(spark, tmp_path):
    """target_file_size composes with rowTracking: the bin-id column and
    the _rt_capture metadata reads coexist, and row identity is still
    preserved verbatim through the binned compaction."""
    work = _copy_fixture(tmp_path, GOLDEN_ROWTRACK, "rt_bins")
    before = _row_ids(spark, work)
    v = dl.optimize_delta(
        spark, work, min_file_size=10**9, target_file_size=10**9
    )
    assert v is not None
    assert _row_ids(spark, work) == before


def test_column_mapping_optimize_byte_aware(spark, tmp_path):
    """target_file_size composes with column mapping: the _optbin extra
    survives the physical->logical projection and content round-trips."""
    import shutil

    src = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cm")
    work = str(tmp_path / "cm_bins")
    shutil.copytree(src, work)
    before = sorted(tuple(r) for r in dl.read_delta(spark, work).collect())
    v = dl.optimize_delta(
        spark, work, min_file_size=10**9, target_file_size=10**9
    )
    if v is not None:  # fixture may hold a single file — then a no-op
        after = sorted(tuple(r) for r in dl.read_delta(spark, work).collect())
        assert after == before


def test_version_checksum_catches_stored_only_optional_corruption(spark, tmp_path):
    """Review fix: a stored .crc claiming DV/txn state the replay does
    not have must FAIL verification (modeled optionals compare against
    their empty values, not get skipped)."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), path)
    v = dl._list_versions(path)[-1]
    with open(dl._checksum_file(path, v)) as f:
        crc = json.loads(f.read())
    crc["numDeletedRecordsOpt"] = 999_999
    with open(dl._checksum_file(path, v), "w") as f:
        f.write(json.dumps(crc))
    with pytest.raises(ValueError, match="numDeletedRecordsOpt"):
        dl.verify_version_checksum(path, v)


def test_ts_ms_iso_first_then_numeric(spark):
    """Review fix: compact ISO dates keep their date reading (the
    pre-round-11 behavior of every timestamp API); non-date numerals
    are epoch ms; garbage raises ValueError, never OverflowError."""
    assert dl._ts_ms("2024-08-16") == 1723766400000
    # compact ISO basic format is a DATE, not 20-million ms
    assert dl._ts_ms("20240816") == dl._ts_ms("2024-08-16")
    assert dl._ts_ms("1723800000000") == 1723800000000
    assert dl._ts_ms(1723800000000) == 1723800000000
    with pytest.raises(ValueError):
        dl._ts_ms("1e999")
    with pytest.raises(ValueError):
        dl._ts_ms("not a time")


def test_parse_interval_compound_terms(spark):
    """Review fix: compound CalendarInterval strings sum their terms."""
    week2d = dl._parse_interval_ms("interval 1 week 2 days")
    assert week2d == 604_800_000 + 2 * 86_400_000
    assert dl._parse_interval_ms("Interval 1 Hour 30 Minutes") == 5_400_000
    assert dl._parse_interval_ms("interval") is None
    # an unparseable duration is ignored, not fatal; units are
    # case-insensitive
    assert dl._parse_interval_ms("interval eleventy days") is None
    assert dl._parse_interval_ms("interval 2 WEEKS") == 2 * 604_800_000


def test_delta_detail(spark, tmp_path):
    """DESCRIBE DETAIL parity: counted state matches the snapshot, the
    clock is the latest commit's, properties and protocol surface."""
    path = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string"),
        path,
        partition_by=["p"],
    )
    dl.set_table_properties(path, {"delta.appendOnly": "false"})
    dl.write_delta(
        spark.createDataFrame([(3, "a")], "id long, p string"), path, mode="append"
    )
    det = dl.delta_detail(path)
    active, _, pcols, meta = dl._replay(path, dl._list_versions(path)[-1])
    assert det["format"] == "delta"
    assert det["id"] == meta["id"]
    assert det["partitionColumns"] == ["p"]
    assert det["numFiles"] == len(active)
    assert det["sizeInBytes"] == sum(int(a["size"]) for a in active.values())
    assert det["properties"].get("delta.appendOnly") == "false"
    assert det["minReaderVersion"] and det["minWriterVersion"]
    versions = dl._list_versions(path)
    assert det["lastModified"] == dl._adjusted_commit_timestamps(path, versions)[versions[-1]]


# ---- round-11: shallow clone + absolute-path adds ---------------------


def test_shallow_clone_reads_and_diverges(spark, tmp_path):
    """Zero-copy clone: reads match the source at clone time; appends
    and DELETE on the clone are copy-on-write (the source is untouched,
    byte-level); appends to the SOURCE never appear in the clone."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double").coalesce(1), src)
    dl.write_delta(spark.createDataFrame([(3, 3.0)], "id long, v double").coalesce(1), src, mode="append")
    assert dl.clone_delta(src, dst) == 0
    rows = lambda p: sorted((r["id"], r["v"]) for r in dl.read_delta(spark, p).collect())
    assert rows(dst) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    # clone's add paths are absolute into the source dir
    active = {a["add"]["path"] for a in dl._read_actions(dst, 0) if "add" in a}
    assert all(os.path.isabs(p) for p in active)
    src_files = {
        os.path.join(dp, f)
        for dp, _dns, fns in os.walk(src)
        for f in fns
    }
    src_mtimes = {p: os.path.getmtime(p) for p in src_files}
    # divergence: append + DELETE on the clone
    dl.write_delta(spark.createDataFrame([(4, 4.0)], "id long, v double").coalesce(1), dst, mode="append")
    dl.delete_delta(spark, dst, "id = 1")
    assert rows(dst) == [(2, 2.0), (3, 3.0), (4, 4.0)]
    assert rows(src) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    assert {p: os.path.getmtime(p) for p in src_files} == src_mtimes
    # source-side appends are invisible to the clone
    dl.write_delta(spark.createDataFrame([(9, 9.0)], "id long, v double").coalesce(1), src, mode="append")
    assert rows(dst) == [(2, 2.0), (3, 3.0), (4, 4.0)]


def test_shallow_clone_vacuum_isolation(spark, tmp_path):
    """VACUUM on the clone never deletes source files; VACUUM on the
    source keeps files its own log still references."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    dl.write_delta(spark.createDataFrame([(1, 1.0)], "id long, v double").coalesce(1), src)
    dl.clone_delta(src, dst)
    dl.delete_delta(spark, dst, "id = 1")  # clone drops its only (source) file
    deleted = dl.vacuum_delta(dst, retain_hours=0, force=True)
    assert dl.read_delta(spark, src).count() == 1  # source file still on disk
    assert not any(os.path.abspath(src) in d for d in deleted)


def test_shallow_clone_refusals(spark, tmp_path):
    import shutil

    src2 = str(tmp_path / "s2")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), src2)
    dl.clone_delta(src2, str(tmp_path / "d2"))
    with pytest.raises(ValueError, match="already a Delta table"):
        dl.clone_delta(src2, str(tmp_path / "d2"))
    # rowTracking sources stay refused: a clone could not preserve ids
    work = str(tmp_path / "rt")
    shutil.copytree(GOLDEN_ROWTRACK, work)
    with pytest.raises(ValueError, match="rowTracking"):
        dl.clone_delta(work, str(tmp_path / "d3"))


def test_shallow_clone_partitioned(spark, tmp_path):
    """Round-12: partitioned sources clone — partition columns resolve
    from the actions' partitionValues (the spec's authoritative copy),
    never from hive dirs under the clone root. Reads, partition
    pruning, the DML verbs, and vacuum isolation all hold."""
    from pyspark.sql import functions as F

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = (
        spark.range(30)
        .withColumn("p", (F.col("id") % 3).cast("int"))
        .withColumn("x", (F.col("id") * 2).cast("long"))
    )
    dl.write_delta(df, src, partition_by=["p"])
    assert dl.clone_delta(src, dst) == 0
    rows = lambda p: sorted(
        (r["id"], r["p"], r["x"]) for r in dl.read_delta(spark, p).collect()
    )
    assert rows(dst) == rows(src)
    # log-level partition pruning on the clone
    pf = dl.read_delta(spark, dst, partition_filter={"p": 1})
    assert pf.count() == 10
    assert [r["p"] for r in pf.select("p").distinct().collect()] == [1]
    # DML verbs against the clone, source byte-untouched
    src_files = {
        os.path.join(dp, f) for dp, _d, fns in os.walk(src) for f in fns
    }
    src_mtimes = {f: os.path.getmtime(f) for f in src_files}
    dl.delete_delta(spark, dst, "p = 0 AND id < 10", prune=("p", "==", 0))
    assert dl.read_delta(spark, dst).count() == 26  # ids 0,3,6,9 dropped
    dl.update_delta(spark, dst, "p = 1", {"x": "x + 1000"}, prune=("p", "==", 1))
    assert (
        dl.read_delta(spark, dst).filter("p = 1").agg(F.min("x")).first()[0]
        >= 1000
    )
    dl.optimize_delta(spark, dst, target_files=1)
    n = dl.read_delta(spark, dst).count()
    dl.vacuum_delta(dst, retain_hours=0, force=True)
    assert dl.read_delta(spark, dst).count() == n
    assert dl.read_delta(spark, src).count() == 30
    assert {f: os.path.getmtime(f) for f in src_files} == src_mtimes


def test_shallow_clone_deletion_vectors(spark, tmp_path):
    """Round-12: DV sources clone — relative ('u') descriptors rewrite
    to the spec's absolute-path ('p') form into the SOURCE directory;
    reads apply the deletes, clone DML rewrites DV-free, and the
    clone's VACUUM never reclaims the source's .bin sidecars."""
    import glob
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    shutil.copytree(GOLDEN_DV, src)
    assert dl.clone_delta(src, dst) == 0
    descs = [
        a["add"]["deletionVector"]
        for a in dl._read_actions(dst, 0)
        if "add" in a and a["add"].get("deletionVector")
    ]
    assert descs and all(d["storageType"] in ("p", "i") for d in descs)
    assert all(
        os.path.isabs(d["pathOrInlineDv"])
        for d in descs
        if d["storageType"] == "p"
    )
    ids = lambda p: sorted(r["id"] for r in dl.read_delta(spark, p).collect())
    src_ids = ids(src)
    assert ids(dst) == src_ids  # deletes applied through the clone
    # rewrite-DML on the clone: the DV-bearing file rewrites DV-free
    dl.delete_delta(spark, dst, f"id = {src_ids[0]}")
    assert ids(dst) == src_ids[1:]
    assert ids(src) == src_ids
    bins = sorted(glob.glob(os.path.join(src, "**", "*.bin"), recursive=True))
    dl.vacuum_delta(dst, retain_hours=0, force=True)
    assert (
        sorted(glob.glob(os.path.join(src, "**", "*.bin"), recursive=True))
        == bins
    )
    assert ids(src) == src_ids
    # OPTIMIZE materializes the inherited 'p' DVs (apply-and-rewrite)
    dl.optimize_delta(spark, dst, target_files=1)
    active, _, _, _ = dl._replay(dst, None)
    assert not any(a.get("deletionVector") for a in active.values())
    assert ids(dst) == src_ids[1:]


def test_convert_to_delta_flat(spark, tmp_path):
    """Round-12 CONVERT TO DELTA: a plain parquet directory becomes a
    Delta table in place — log-only (footer walk for schema + stats),
    reads match, footer stats prune, DML and time travel work."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "plain")
    spark.range(100).withColumn("x", F.col("id") * 2).write.parquet(path)
    want = sorted(
        (r["id"], r["x"]) for r in spark.read.parquet(path).collect()
    )
    assert dl.convert_to_delta(path) == 0
    got = sorted(
        (r["id"], r["x"]) for r in dl.read_delta(spark, path).collect()
    )
    assert got == want
    # add actions carry footer stats usable for skipping
    active, _, _, _ = dl._replay(path, 0)
    assert all(a.get("stats") for a in active.values())
    dl.delete_delta(spark, path, "id < 10")
    assert dl.read_delta(spark, path).count() == 90
    assert dl.read_delta(spark, path, version=0).count() == 100
    with pytest.raises(ValueError, match="already a Delta"):
        dl.convert_to_delta(path)


def test_convert_to_delta_partitioned(spark, tmp_path):
    """Partitioned conversion: hive dirs become typed partition columns
    via the declared partition schema; escaped and null partition
    values round-trip; the layout/declaration mismatch refuses."""
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(1, "pt:BR"), (2, "en"), (3, None), (4, "en")],
        "id long, lang string",
    )
    df.write.partitionBy("lang").parquet(path)
    dl.convert_to_delta(path, partition_by={"lang": "string"})
    got = sorted(
        (r["id"], r["lang"]) for r in dl.read_delta(spark, path).collect()
    )
    assert got == [(1, "pt:BR"), (2, "en"), (3, None), (4, "en")]
    pf = dl.read_delta(spark, path, partition_filter={"lang": "pt:BR"})
    assert [r["id"] for r in pf.collect()] == [1]
    # partitioned dirs without the declared schema refuse
    path2 = str(tmp_path / "part2")
    df.write.partitionBy("lang").parquet(path2)
    with pytest.raises(ValueError, match="hive keys"):
        dl.convert_to_delta(path2)


def test_shallow_clone_partitioned_dv_golden(spark, tmp_path):
    """Partitioned + DV + hive-escaped partition value, cloned: the
    partitionValues attach and the suffix-keyed DV anti-join agree on
    every row."""
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    shutil.copytree(GOLDEN_PARTDV, src)
    dl.clone_delta(src, dst)
    cols = dl.read_delta(spark, src).columns
    rows = lambda p: sorted(
        tuple(r) for r in dl.read_delta(spark, p).select(*cols).collect()
    )
    assert rows(dst) == rows(src)
    # time travel on the clone is v0-only and equals the source head
    assert rows(dst) == sorted(
        tuple(r)
        for r in dl.read_delta(spark, dst, version=0).select(*cols).collect()
    )


def test_external_file_uri_adds_read(spark, tmp_path):
    """An external writer's absolute file:// URI add (percent-encoded)
    resolves through _data_file; unknown schemes refuse by name."""
    src = str(tmp_path / "src")
    dl.write_delta(spark.createDataFrame([(5, 5.0)], "id long, v double").coalesce(1), src)
    rel, add = next(iter(dl._replay(src, 0)[0].items()))
    from urllib.parse import quote

    t = str(tmp_path / "uri")
    os.makedirs(os.path.join(t, "_delta_log"))
    meta = dict(dl._latest_metadata(src, 0))
    add2 = dict(add)
    add2["path"] = "file://" + quote(os.path.join(os.path.abspath(src), rel))
    with open(os.path.join(t, "_delta_log", "00000000000000000000.json"), "w") as f:
        for a in (
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {"add": add2},
        ):
            f.write(json.dumps(a) + "\n")
    got = [(r["id"], r["v"]) for r in dl.read_delta(spark, t).collect()]
    assert got == [(5, 5.0)]
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="URI"):
        dl._data_file(t, "s3://bucket/key.parquet")


def test_shallow_clone_inherits_ict_obligation(spark, tmp_path):
    """Cloning an inCommitTimestamp table stamps the clone's version-0
    commit (commitInfo first, monotonic clock) — the obligation travels
    with the copied configuration."""
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    shutil.copytree(GOLDEN_ICT, src)
    dl.clone_delta(src, dst)
    acts = dl._read_actions(dst, 0)
    assert "commitInfo" in acts[0]
    assert acts[0]["commitInfo"].get("inCommitTimestamp") is not None
    assert dl.read_delta(spark, dst).count() == 3


def test_vacuum_keeps_in_root_absolute_and_uri_adds(spark, tmp_path):
    """Review fix (data loss): an add that references a file INSIDE the
    table dir via an absolute path or file:// URI must survive VACUUM —
    the keep-set compares resolved absolute paths, not raw log strings."""
    from urllib.parse import quote

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(5, 5.0)], "id long, v double").coalesce(1), t)
    rel, add = next(iter(dl._replay(t, 0)[0].items()))
    meta = dict(dl._latest_metadata(t, 0))
    abs_path = os.path.join(os.path.abspath(t), rel)
    # rewrite the log so the SAME file is referenced absolutely (v1)
    # and via percent-encoded file:// URI (v2)
    dl._commit(t, 1, [
        {"remove": {"path": rel, "deletionTimestamp": 1, "dataChange": False}},
        {"add": {**add, "path": abs_path, "dataChange": False}},
    ])
    dl._commit(t, 2, [
        {"remove": {"path": abs_path, "deletionTimestamp": 1, "dataChange": False}},
        {"add": {**add, "path": "file://" + quote(abs_path), "dataChange": False}},
    ])
    deleted = dl.vacuum_delta(t, retain_hours=0, force=True)
    assert deleted == []
    assert [(r["id"], r["v"]) for r in dl.read_delta(spark, t).collect()] == [(5, 5.0)]


def test_uri_adds_read(spark, tmp_path):
    """read_delta resolves file:// URI adds."""
    from urllib.parse import quote

    src = str(tmp_path / "src")
    dl.write_delta(spark.createDataFrame([(5, 5.0)], "id long, v double").coalesce(1), src)
    rel, add = next(iter(dl._replay(src, 0)[0].items()))
    t = str(tmp_path / "uri")
    os.makedirs(os.path.join(t, "_delta_log"))
    meta = dict(dl._latest_metadata(src, 0))
    add2 = dict(add)
    add2["path"] = "file://" + quote(os.path.join(os.path.abspath(src), rel))
    with open(os.path.join(t, "_delta_log", "00000000000000000000.json"), "w") as f:
        for a in (
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {"add": add2},
        ):
            f.write(json.dumps(a) + "\n")
    got = dl.read_delta(spark, t).collect()
    assert [(r["id"], r["v"]) for r in got] == [(5, 5.0)]
    # single-slash Hadoop form resolves too; foreign authority refuses
    assert dl._data_file(t, "file:/tmp/x.parquet") == "/tmp/x.parquet"
    assert dl._data_file(t, "file://localhost/tmp/x.parquet") == "/tmp/x.parquet"
    with pytest.raises(dl.DeltaUnsupportedProtocol):
        dl._data_file(t, "file://otherhost/tmp/x.parquet")


def test_clone_preserves_domains_drops_ict_provenance(spark, tmp_path):
    """Review fixes: clone carries table-level domainMetadata (e.g.
    delta.clustering) and drops the source's ICT enablement-provenance
    keys (ICT holds from the clone's version 0)."""
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    shutil.copytree(GOLDEN_ICT, src)
    v = dl._list_versions(src)[-1]
    proto = dl._latest_protocol(src, v)
    feats = sorted(set(proto.get("writerFeatures") or []) | {"domainMetadata"})
    meta = dl._latest_metadata(src, v)
    # the enablement provenance a table that turned ICT on later carries
    meta["configuration"] = {
        **meta["configuration"],
        "delta.inCommitTimestampEnablementVersion": str(v + 1),
        "delta.inCommitTimestampEnablementTimestamp": "1700000000100",
    }
    dl._commit(src, v + 1, [
        {"protocol": {**proto, "minWriterVersion": 7, "writerFeatures": feats}},
        {"metaData": meta},
        {"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps({"clusteringColumns": ["id"]}),
            "removed": False,
        }},
    ])
    dl.clone_delta(src, dst)
    det = dl.delta_detail(dst)
    assert det["clusteringColumns"] == ["id"]
    cfg = dl._latest_metadata(dst, 0).get("configuration", {})
    assert cfg.get("delta.enableInCommitTimestamps") == "true"
    assert "delta.inCommitTimestampEnablementVersion" not in cfg
    acts = dl._read_actions(dst, 0)
    assert acts[0]["commitInfo"].get("inCommitTimestamp") is not None


def test_clone_refuses_half_held_writer_features(spark, tmp_path):
    """Review fix: clone passes the write-protocol gate — a source
    claiming icebergCompatV2 refuses instead of instantiating a table
    whose obligations nothing upholds."""
    src = str(tmp_path / "src")
    dl.write_delta(spark.createDataFrame([(1,)], "id long"), src)
    v = dl._list_versions(src)[-1]
    proto = dl._latest_protocol(src, v)
    dl._commit(src, v + 1, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 7,
                      "writerFeatures": sorted(set(proto.get("writerFeatures") or []) | {"icebergCompatV2"})}},
        {"metaData": dl._latest_metadata(src, v)},
    ])
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="icebergCompatV2"):
        dl.clone_delta(src, str(tmp_path / "dst"))


def test_interval_and_ts_parsers_properties(spark):
    """Property checks for the round-11 parsers: _parse_interval_ms sums
    arbitrary unit sequences; _ts_ms round-trips epoch ms and agrees
    with ISO forms."""
    from hypothesis import given, settings, strategies as st

    units = list(dl._INTERVAL_UNIT_MS)

    @settings(max_examples=50, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from(units)),
        min_size=1, max_size=5,
    ))
    def interval_sums(terms):
        s = "interval " + " ".join(f"{n} {u}s" for n, u in terms)
        want = sum(n * dl._INTERVAL_UNIT_MS[u] for n, u in terms)
        assert dl._parse_interval_ms(s) == want

    interval_sums()

    @settings(max_examples=50, deadline=None)
    @given(st.integers(0, 2**53))
    def epoch_roundtrip(ms):
        assert dl._ts_ms(ms) == ms
        assert dl._ts_ms(str(ms)) == ms  # epoch ms as a string

    epoch_roundtrip()

    @settings(max_examples=50, deadline=None)
    @given(st.datetimes(
        min_value=__import__("datetime").datetime(1971, 1, 1),
        max_value=__import__("datetime").datetime(2200, 1, 1),
    ))
    def iso_agrees(dt):
        import datetime as _dt

        want = int(dt.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
        assert dl._ts_ms(dt.isoformat()) == want

    iso_agrees()


# ---- round-11: column-mapping schema evolution -------------------------


def test_cm_schema_evolution_assigns_fresh_fields(spark, tmp_path):
    """merge_schema on a column-mapped table: the new column gets a
    fresh id + uuid physicalName, maxColumnId advances in the same
    commit, old rows read NULL for it, and a follow-up append without
    the column still works."""
    import shutil

    src = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cm")
    work = str(tmp_path / "cm")
    shutil.copytree(src, work)
    before = dl.read_delta(spark, work)
    old_cols = before.columns
    n_before = before.count()
    batch = dl.read_delta(spark, work).limit(1).selectExpr(
        *old_cols, "cast(42 as long) as extra"
    )
    dl.write_delta(batch, work, mode="append", merge_schema=True)
    meta = dl._latest_metadata(work, dl._list_versions(work)[-1])
    schema = __import__("pyspark").sql.types.StructType.fromJson(
        json.loads(meta["schemaString"])
    )
    f = next(f for f in schema.fields if f.name == "extra")
    assert f.metadata["delta.columnMapping.physicalName"].startswith("col-")
    new_id = int(f.metadata["delta.columnMapping.id"])
    assert int(meta["configuration"]["delta.columnMapping.maxColumnId"]) == new_id
    # every pre-existing field kept its physical name verbatim
    old_schema = __import__("pyspark").sql.types.StructType.fromJson(
        json.loads(dl._latest_metadata(work, 0)["schemaString"])
    )
    for of in old_schema.fields:
        nf = next(x for x in schema.fields if x.name == of.name)
        assert (
            nf.metadata["delta.columnMapping.physicalName"]
            == of.metadata["delta.columnMapping.physicalName"]
        )
    out = dl.read_delta(spark, work)
    assert "extra" in out.columns
    rows = out.collect()
    assert len(rows) == n_before + 1
    assert sum(1 for r in rows if r["extra"] == 42) == 1
    assert sum(1 for r in rows if r["extra"] is None) == n_before
    # append WITHOUT the new column still lands (typed-null fill is the
    # reader's job: the column simply misses from the new file)
    dl.write_delta(
        dl.read_delta(spark, work).limit(1).select(*old_cols),
        work,
        mode="append",
        merge_schema=True,
    )
    assert dl.read_delta(spark, work).count() == n_before + 2


def test_cm_schema_evolution_nested_new_column(spark, tmp_path):
    """Round-12: evolution adding NESTED columns to a column-mapped
    table — every struct field at every depth (including inside
    arrays) gets a fresh id + uuid physicalName, maxColumnId advances
    once by the total field count, the staged parquet carries physical
    names at every level, and logical reads resolve."""
    import shutil

    import pyarrow.parquet as pq

    src = os.path.join(os.path.dirname(__file__), "data", "golden_delta_cm")
    work = str(tmp_path / "cm")
    shutil.copytree(src, work)
    max0 = int(dl.delta_detail(work)["properties"]["delta.columnMapping.maxColumnId"])
    old_cols = dl.read_delta(spark, work).columns
    batch = dl.read_delta(spark, work).limit(1).selectExpr(
        *old_cols,
        "named_struct('a', 1L, 'inner', named_struct('s', 'x')) as nested",
        "array(named_struct('z', 2.0D)) as arr",
    )
    dl.write_delta(batch, work, mode="append", merge_schema=True)
    # nested: col + a + inner + inner.s = 4; arr: col + z = 2
    max1 = int(dl.delta_detail(work)["properties"]["delta.columnMapping.maxColumnId"])
    assert max1 == max0 + 6
    out = dl.read_delta(spark, work)
    got = (
        out.where(out["nested"].isNotNull())
        .selectExpr("nested.inner.s", "nested.a", "arr[0].z")
        .collect()
    )
    assert [tuple(r) for r in got] == [("x", 1, 2.0)]
    # the newest staged file spells every level physically (col-uuid)
    import glob

    newest = max(
        glob.glob(os.path.join(work, "*.parquet")), key=os.path.getmtime
    )
    sch = pq.read_schema(newest)
    nested_field = next(
        f for f in sch if str(f.type).startswith("struct") and "int" in str(f.type)
    )
    assert nested_field.name.startswith("col-")
    assert all(c.name.startswith("col-") for c in nested_field.type)
    # ids are unique across the whole schema
    doc = json.loads(
        dl._latest_metadata(work, dl._list_versions(work)[-1])["schemaString"]
    )

    def _ids(fields):
        for f in fields:
            md = f.get("metadata", {})
            if "delta.columnMapping.id" in md:
                yield md["delta.columnMapping.id"]
            t = f.get("type")
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    yield from _ids(t["fields"])
                elif t.get("type") == "array" and isinstance(
                    t.get("elementType"), dict
                ):
                    yield from _ids(t["elementType"].get("fields", []))

    ids = list(_ids(doc["fields"]))
    assert len(ids) == len(set(ids)) and max(ids) == max1


def test_evolution_preserves_identity_metadata(spark, tmp_path):
    """Latent-bug regression: _merge_schemas used to strip field
    metadata, so evolving an identity table erased its high-water mark
    and generation contract. After evolution the identity column still
    assigns fresh monotonic values."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1.0,), (2.0,)], "v double"), path)
    # retrofit an identity column the way the identity tests do
    log0 = os.path.join(path, "_delta_log", "00000000000000000000.json")
    acts = [json.loads(line) for line in open(log0)]
    for a in acts:
        if "metaData" in a:
            doc = json.loads(a["metaData"]["schemaString"])
            doc["fields"] = [
                {
                    "name": "id", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.identity.start": 1,
                        "delta.identity.step": 1,
                        "delta.identity.highWaterMark": 2,
                        "delta.identity.allowExplicitInsert": False,
                    },
                }
            ] + doc["fields"]
            a["metaData"]["schemaString"] = json.dumps(doc)
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 6}
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    # rewrite data files to carry the id column so reads align
    # (simplest: the existing files lack id — read_delta would fill...
    # instead just evolve with a NEW unrelated column plus id values)
    batch = spark.createDataFrame([(9.0, "x")], "v double, tag string")
    dl.write_delta(batch, path, mode="append", merge_schema=True)
    meta = dl._latest_metadata(path, dl._list_versions(path)[-1])
    schema = __import__("pyspark").sql.types.StructType.fromJson(
        json.loads(meta["schemaString"])
    )
    idf = next(f for f in schema.fields if f.name == "id")
    assert idf.metadata.get("delta.identity.step") == 1
    assert idf.metadata.get("delta.identity.highWaterMark") is not None


# --- round-12: clustered tables (liquid-clustering marker) ---------------


def test_clustered_table_create_detail_optimize(spark, tmp_path):
    """CREATE ... CLUSTER BY: the v0 commit declares clustering +
    domainMetadata (writer v7) and lands the delta.clustering domain;
    DESCRIBE DETAIL surfaces the logical columns; a PLAIN optimize picks
    the clustering up and re-clusters — every output file covers a
    narrow disjoint range on the clustering column."""
    tbl = str(tmp_path / "clu")
    df = spark.range(0, 400).selectExpr("id", "id % 8 as k")
    dl.write_delta(df.repartition(4), tbl, cluster_by=["k"])
    det = dl.delta_detail(tbl)
    assert det["clusteringColumns"] == ["k"]
    assert det["minWriterVersion"] == 7
    assert {"clustering", "domainMetadata"} <= set(det["tableFeatures"])
    v = dl.optimize_delta(spark, tbl, target_files=4)
    assert v is not None
    ranges = []
    for a in dl._read_actions(tbl, v):
        if "add" in a:
            st = json.loads(a["add"]["stats"])
            ranges.append((st["minValues"]["k"], st["maxValues"]["k"]))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping clustered files: {ranges}"
    # content unchanged
    assert dl.read_delta(spark, tbl).count() == 400


def test_clustered_table_refusals(spark, tmp_path):
    """cluster_by guards: existing table (ALTER territory), combined
    with partition_by, and unknown columns all refuse by name."""
    tbl = str(tmp_path / "clu_g")
    df = spark.range(10).selectExpr("id", "id % 2 as k")
    dl.write_delta(df, tbl, cluster_by=["k"])
    with pytest.raises(ValueError, match="set_clustering_columns"):
        dl.write_delta(df, tbl, mode="append", cluster_by=["k"])
    with pytest.raises(ValueError, match="partitioned"):
        dl.write_delta(
            df, str(tmp_path / "clu_p"), cluster_by=["k"], partition_by=["k"]
        )
    with pytest.raises(ValueError, match="nope"):
        dl.write_delta(df, str(tmp_path / "clu_m"), cluster_by=["nope"])
    # plain append to a clustered table still lands (no re-clustering)
    dl.write_delta(df, tbl, mode="append")
    assert dl.read_delta(spark, tbl).count() == 20


def test_set_clustering_columns_alter_and_checkpoint(spark, tmp_path):
    """ALTER CLUSTER BY on a legacy v2 table upgrades the protocol
    (legacy capabilities spelled out), later CLUSTER BY NONE empties the
    domain, the same-columns call is a no-op, and the domain survives a
    checkpoint + log cleanup."""
    tbl = str(tmp_path / "alter_clu")
    dl.write_delta(
        spark.range(50).selectExpr("id", "id % 5 as k", "id * 2 as v"), tbl
    )
    v0_proto = dl._latest_protocol(tbl, 0)
    assert int(v0_proto.get("minWriterVersion", 2)) == 2
    v = dl.set_clustering_columns(tbl, ["k", "v"])
    proto = dl._latest_protocol(tbl, v)
    assert proto["minWriterVersion"] == 7
    assert {"appendOnly", "invariants", "clustering", "domainMetadata"} <= set(
        proto["writerFeatures"]
    )
    assert dl.delta_detail(tbl)["clusteringColumns"] == ["k", "v"]
    # no-op on identical columns: version unchanged
    assert dl.set_clustering_columns(tbl, ["k", "v"]) == v
    # domain survives checkpointing
    dl.write_checkpoint(tbl, v)
    assert dl.delta_detail(tbl)["clusteringColumns"] == ["k", "v"]
    # plain OPTIMIZE now clusters on (k, v)
    ov = dl.optimize_delta(spark, tbl, target_files=2)
    assert ov is not None
    # CLUSTER BY NONE
    dl.set_clustering_columns(tbl, [])
    assert dl.delta_detail(tbl)["clusteringColumns"] == []
    # a later plain OPTIMIZE is ordinary bin-packing again (no raise)
    dl.optimize_delta(spark, tbl, target_files=1)
    assert dl.read_delta(spark, tbl).count() == 50


def test_set_clustering_columns_partitioned_refuses(spark, tmp_path):
    tbl = str(tmp_path / "part_clu")
    dl.write_delta(
        spark.range(20).selectExpr("id", "id % 2 as k"),
        tbl,
        partition_by=["k"],
    )
    with pytest.raises(ValueError, match="partitioned"):
        dl.set_clustering_columns(tbl, ["id"])


def test_clustering_nested_domain_strict_vs_detail(spark, tmp_path):
    """A foreign writer's NESTED clustering column (multi-part physical
    path): DESCRIBE DETAIL dot-joins it for display, while the OPTIMIZE
    pickup refuses by name instead of guessing."""
    tbl = str(tmp_path / "nested_clu")
    dl.write_delta(
        spark.range(10).selectExpr(
            "id", "named_struct('x', id % 3) as s"
        ),
        tbl,
    )
    dl.set_clustering_columns(tbl, ["id"])
    # fixture surgery: swap the domain for a nested path
    latest = dl._list_versions(tbl)[-1]
    with open(
        os.path.join(tbl, "_delta_log", f"{latest + 1:020d}.json"), "w"
    ) as f:
        f.write(
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {"clusteringColumns": [["s", "x"]]}
                        ),
                        "removed": False,
                    }
                }
            )
            + "\n"
        )
    assert dl.delta_detail(tbl)["clusteringColumns"] == ["s.x"]
    with pytest.raises(dl.DeltaUnsupportedProtocol, match=r"s\.x"):
        dl.optimize_delta(spark, tbl)


def test_clone_preserves_clustering_domain(spark, tmp_path):
    """SHALLOW CLONE of a clustered table keeps the delta.clustering
    domain — the clone's plain OPTIMIZE re-clusters like the source's."""
    src = str(tmp_path / "clu_src")
    dst = str(tmp_path / "clu_dst")
    dl.write_delta(
        spark.range(100).selectExpr("id", "id % 4 as k"), src,
        cluster_by=["k"],
    )
    dl.clone_delta(src, dst)
    assert dl.delta_detail(dst)["clusteringColumns"] == ["k"]
    ov = dl.optimize_delta(spark, dst, target_files=2)
    assert ov is not None
    assert dl.read_delta(spark, dst).count() == 100


def test_reorg_purge_rewrites_only_dv_files(spark, tmp_path):
    """REORG APPLY (PURGE) (round-12): only DV-carrying files are
    rewritten (their deletes materialized), every DV-free file keeps
    its path untouched, and a table with no DVs is a no-op — including
    a CLUSTERED table, where the purge must NOT trigger the OPTIMIZE
    re-clustering pickup."""
    tbl = str(tmp_path / "reorg")
    dl.write_delta(spark.range(0, 100).selectExpr("id", "id*2 as v"), tbl)
    dl.write_delta(
        spark.range(100, 200).selectExpr("id", "id*2 as v"),
        tbl,
        mode="append",
    )
    meta = dict(dl._latest_metadata(tbl, 1))
    cfg = dict(meta.get("configuration", {}))
    cfg["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = cfg
    dl._commit_with_retry(
        tbl,
        2,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": [
                        "deletionVectors",
                        "appendOnly",
                        "invariants",
                        "checkConstraints",
                        "vacuumProtocolCheck",
                    ],
                }
            },
            {"metaData": meta},
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
        ],
        max_retries=0,
    )
    dl.delete_delta(spark, tbl, "id >= 150 and id < 160", use_dv=True)
    active, _s, _p, _m = dl._replay(tbl, dl._list_versions(tbl)[-1])
    before = {p: bool(a.get("deletionVector")) for p, a in active.items()}
    assert sum(before.values()) == 1
    v = dl.reorg_delta(spark, tbl)
    assert v is not None
    active, _s, _p, _m = dl._replay(tbl, dl._list_versions(tbl)[-1])
    assert not any(a.get("deletionVector") for a in active.values())
    for p, had_dv in before.items():
        if not had_dv:
            assert p in active, f"DV-free file {p} was rewritten by PURGE"
    assert dl.read_delta(spark, tbl).count() == 190
    assert dl.reorg_delta(spark, tbl) is None  # idempotent no-op
    # clustered table without DVs: purge no-ops instead of re-clustering
    clu = str(tmp_path / "reorg_clu")
    dl.write_delta(
        spark.range(60).selectExpr("id", "id % 3 as k"), clu,
        cluster_by=["k"],
    )
    assert dl.reorg_delta(spark, clu) is None


def test_column_invariants_under_column_mapping(spark, tmp_path):
    """Invariant expressions reference LOGICAL names while a
    column-mapping table's staged files carry PHYSICAL ones — the
    round-12 enforcement must evaluate through the logical projection
    (fixture surgery: graft `v >= 0` onto golden_delta_cm's logical
    `v`)."""
    import shutil

    work = str(tmp_path / "cm_inv")
    shutil.copytree(GOLDEN_CM, work)
    log0 = os.path.join(work, "_delta_log", f"{0:020d}.json")
    out = []
    for ln in open(log0):
        if not ln.strip():
            continue
        action = json.loads(ln)
        if "metaData" in action:
            sch = json.loads(action["metaData"]["schemaString"])
            for fld in sch["fields"]:
                if fld["name"] == "v":
                    fld["metadata"]["delta.invariants"] = json.dumps(
                        {"expression": {"expression": "v >= 0"}}
                    )
            action["metaData"]["schemaString"] = json.dumps(sch)
        out.append(json.dumps(action))
    with open(log0, "w") as f:
        f.write("\n".join(out) + "\n")
    n0 = dl.read_delta(spark, work).count()
    bad = spark.createDataFrame([(50, -1.0)], "id long, v double")
    with pytest.raises(ValueError, match=r"invariant on v"):
        dl.write_delta(bad, work, mode="append")
    ok = spark.createDataFrame([(51, 1.5)], "id long, v double")
    dl.write_delta(ok, work, mode="append")
    assert dl.read_delta(spark, work).count() == n0 + 1


def test_vacuum_dry_run_touches_nothing(spark, tmp_path):
    """VACUUM ... DRY RUN (round-12): identical candidate list to the
    real vacuum, zero filesystem effect — files, dirs and time travel
    all intact afterward."""
    tbl = str(tmp_path / "vdry")
    dl.write_delta(spark.range(10).selectExpr("id"), tbl)
    dl.write_delta(
        spark.range(10, 20).selectExpr("id"), tbl, mode="overwrite"
    )
    would = dl.vacuum_delta(tbl, retain_hours=0, force=True, dry_run=True)
    assert would  # the overwritten v0 files are reclaimable
    for rel in would:
        assert os.path.exists(os.path.join(tbl, rel))
    # time travel to v0 still works (nothing was deleted)
    assert dl.read_delta(spark, tbl, version=0).count() == 10
    real = dl.vacuum_delta(tbl, retain_hours=0, force=True)
    assert sorted(real) == sorted(would)
    for rel in real:
        assert not os.path.exists(os.path.join(tbl, rel))


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    """FSCK REPAIR TABLE: a healthy table reports [] and commits
    nothing; after an out-of-band file loss, dry_run names the broken
    reference without committing, repair tombstones it in one commit
    (remove, dataChange=true) and reads work again; DV-bearing adds
    whose .bin sidecar is gone are dropped too."""
    tbl = str(tmp_path / "fsck")
    dl.write_delta(spark.range(0, 30).selectExpr("id"), tbl)
    dl.write_delta(spark.range(30, 60).selectExpr("id"), tbl, mode="append")
    v_before = dl._list_versions(tbl)[-1]
    assert dl.fsck_repair_delta(tbl) == []
    assert dl._list_versions(tbl)[-1] == v_before  # healthy: no commit
    active, _s, _p, _m = dl._replay(tbl, v_before)
    victim = sorted(active)[0]
    os.remove(os.path.join(tbl, victim))
    with pytest.raises(Exception):
        dl.read_delta(spark, tbl).collect()
    assert dl.fsck_repair_delta(tbl, dry_run=True) == [victim]
    assert dl._list_versions(tbl)[-1] == v_before  # dry run: no commit
    assert dl.fsck_repair_delta(tbl) == [victim]
    v_after = dl._list_versions(tbl)[-1]
    assert v_after == v_before + 1
    removes = [
        a["remove"]
        for a in dl._read_actions(tbl, v_after)
        if "remove" in a
    ]
    assert [r["path"] for r in removes] == [victim]
    assert all(r["dataChange"] for r in removes)
    n = dl.read_delta(spark, tbl).count()
    assert 0 < n < 60  # survivors only
    # DV sidecar loss: reuse the dv golden fixture
    import shutil

    work = str(tmp_path / "fsck_dv")
    shutil.copytree(GOLDEN_DV, work)
    sidecars = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(work)
        for f in fs
        if f.startswith("deletion_vector_") and f.endswith(".bin")
    ]
    assert sidecars
    os.remove(sidecars[0])
    dropped = dl.fsck_repair_delta(work)
    assert dropped  # the DV-bearing add is gone from the snapshot
    dl.read_delta(spark, work).collect()  # and reads are clean again


def test_optimize_where_prunes_partitions(spark, tmp_path):
    """OPTIMIZE ... WHERE 'partition predicate' (round-12): only the
    selected hive partitions are rewritten — the others keep their
    exact file paths; a predicate matching nothing no-ops; an
    unpartitioned table and a predicate reaching a data column both
    refuse by name."""
    tbl = str(tmp_path / "ow")
    df = spark.range(0, 120).selectExpr("id", "id % 3 as k")
    for chunk in range(3):  # 3 small files per partition
        dl.write_delta(
            df.filter(f"id % 3 = id % 3 and id >= {chunk * 40} and id < {(chunk + 1) * 40}"),
            tbl,
            mode="append" if chunk else "append",
            partition_by=["k"],
        )
    active_before, _s, _p, _m = dl._replay(tbl, dl._list_versions(tbl)[-1])
    untouched_before = sorted(
        r for r, a in active_before.items()
        if a["partitionValues"].get("k") != "1"
    )
    v = dl.optimize_delta(spark, tbl, where="k = 1")
    assert v is not None
    active_after, _s, _p, _m = dl._replay(tbl, dl._list_versions(tbl)[-1])
    untouched_after = sorted(
        r for r, a in active_after.items()
        if a["partitionValues"].get("k") != "1"
    )
    assert untouched_after == untouched_before  # other partitions intact
    k1 = [r for r, a in active_after.items() if a["partitionValues"].get("k") == "1"]
    assert len(k1) == 1  # compacted to target_files=1
    assert dl.read_delta(spark, tbl).count() == 120
    # nothing matches → no commit
    v2 = dl.optimize_delta(spark, tbl, where="k = 99")
    assert v2 is None
    # unpartitioned table refuses
    flat = str(tmp_path / "ow_flat")
    dl.write_delta(spark.range(5).selectExpr("id"), flat)
    with pytest.raises(ValueError, match="not partitioned"):
        dl.optimize_delta(spark, flat, where="id = 1")
    # data-column predicate refuses with the partition columns named
    with pytest.raises(ValueError, match="partition columns"):
        dl.optimize_delta(spark, tbl, where="id > 5")


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols (round-12): stats land for the
    first N schema columns only (-1 = all; default 32 = all on narrow
    tables); numRecords always survives, and a stats-less column simply
    stops pruning (absent stats are already 'unknown' to skipping)."""
    tbl = str(tmp_path / "idx")
    df = spark.range(20).selectExpr(
        "id as a", "id * 2 as b", "id * 3 as c", "id * 4 as d"
    )
    dl.write_delta(df, tbl)
    dl.set_table_properties(
        tbl, {"delta.dataSkippingNumIndexedCols": "2"}
    )
    dl.write_delta(df, tbl, mode="append")
    v = dl._list_versions(tbl)[-1]
    adds = [a["add"] for a in dl._read_actions(tbl, v) if "add" in a]
    assert adds
    for a in adds:
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        assert set(st["minValues"]) <= {"a", "b"}
        assert set(st["maxValues"]) <= {"a", "b"}
        assert set(st["nullCount"]) <= {"a", "b"}
        assert "a" in st["minValues"]  # first-2 window is populated
    # default (no property) on a narrow table: all columns indexed
    v0_adds = [a["add"] for a in dl._read_actions(tbl, 0) if "add" in a]
    assert all(
        set(json.loads(a["stats"])["minValues"]) == {"a", "b", "c", "d"}
        for a in v0_adds
    )
    # -1 spelling = all columns again
    dl.set_table_properties(
        tbl, {"delta.dataSkippingNumIndexedCols": "-1"}
    )
    dl.write_delta(df, tbl, mode="append")
    v = dl._list_versions(tbl)[-1]
    for a in (x["add"] for x in dl._read_actions(tbl, v) if "add" in x):
        assert set(json.loads(a["stats"])["minValues"]) == {
            "a", "b", "c", "d",
        }
    # a narrower window takes effect on the next write
    dl.set_table_properties(
        tbl, {"delta.dataSkippingNumIndexedCols": "1"}
    )
    dl.write_delta(df, tbl, mode="append")
    v = dl._list_versions(tbl)[-1]
    for a in (x["add"] for x in dl._read_actions(tbl, v) if "add" in x):
        st = json.loads(a["stats"])
        assert set(st["minValues"]) <= {"a"} and st["numRecords"] > 0
    assert dl.read_delta(spark, tbl).count() == 80


def test_vacuum_default_retention_from_table_property(spark, tmp_path):
    """retain_hours=None resolves delta.deletedFileRetentionDuration
    (delta-spark's default chain): with a 0-second retention property,
    a default vacuum refuses at the safety floor unless forced, then
    reclaims the overwritten file; an explicit retain_hours overrides
    the property; without the property the 168 h default keeps fresh
    files."""
    tbl = str(tmp_path / "vret")
    dl.write_delta(spark.range(5).selectExpr("id"), tbl)
    dl.write_delta(
        spark.range(5, 9).selectExpr("id"), tbl, mode="overwrite"
    )
    # no property: default 168 h — the just-overwritten file survives
    assert dl.vacuum_delta(tbl) == []
    dl.set_table_properties(
        tbl, {"delta.deletedFileRetentionDuration": "interval 0 seconds"}
    )
    with pytest.raises(ValueError, match="safety floor"):
        dl.vacuum_delta(tbl)  # resolved 0 h < 1 h floor
    deleted = dl.vacuum_delta(tbl, force=True)
    assert deleted  # property-resolved zero retention reclaims
    # explicit argument overrides the property (very long retention)
    dl.write_delta(
        spark.range(9, 12).selectExpr("id"), tbl, mode="overwrite"
    )
    assert dl.vacuum_delta(tbl, retain_hours=10_000.0) == []
    assert dl.read_delta(spark, tbl).count() == 3
