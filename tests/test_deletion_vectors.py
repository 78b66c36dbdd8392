"""Deletion-vector codec properties: the parser must read back every
bitmap the serializer can produce (array / run / bitmap containers,
multi-high-key 64-bit values, both cookies), Z85 must round-trip
arbitrary bytes, and the read path must behave identically through the
driver-decode and executor-decode (mapInPandas) gates."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sustainable_building_energy_benchmarking_pipeline_spark.sources import (
    deletion_vectors as dv,
)
from sustainable_building_energy_benchmarking_pipeline_spark.sources import deltalog as dl


@given(st.binary(min_size=0, max_size=64))
def test_z85_roundtrip(b):
    assert dv.z85_decode(dv.z85_encode(b), len(b)) == b


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        min_size=0,
        max_size=500,
    )
)
def test_roaring64_roundtrip(vals):
    arr = np.asarray(sorted(set(vals)), dtype=np.int64)
    out = dv.roaring64_deserialize(dv.roaring64_serialize(arr))
    assert np.array_equal(out, arr)


@pytest.mark.parametrize(
    "vals",
    [
        np.array([], dtype=np.int64),
        np.arange(100, 110),  # one run container
        np.arange(0, 10000, 2),  # dense scattered -> bitmap container
        np.concatenate([np.arange(0, 5), np.array([1 << 33, (1 << 33) + 1])]),
        np.arange(65530, 65545),  # crosses the 16-bit container boundary
    ],
)
def test_roaring64_container_kinds(vals):
    out = dv.roaring64_deserialize(dv.roaring64_serialize(vals))
    assert np.array_equal(out, np.unique(vals))


def test_file_frames_and_inline(tmp_path):
    td = str(tmp_path)
    a, b = np.array([1, 5]), np.arange(10, 40)
    descs = dv.write_dv_file(td, [a, b])
    assert descs[0]["offset"] == 1  # past the format-version byte
    assert np.array_equal(dv.deleted_row_indexes(td, descs[0]), a)
    assert np.array_equal(dv.deleted_row_indexes(td, descs[1]), b)
    inline = dv.inline_dv_descriptor(a)
    assert np.array_equal(dv.deleted_row_indexes(td, inline), a)


def test_cardinality_mismatch_raises(tmp_path):
    d = dv.inline_dv_descriptor(np.array([0, 2]))
    d["cardinality"] = 3
    with pytest.raises(ValueError, match="cardinality"):
        dv.deleted_row_indexes(str(tmp_path), d)


def _make_dv_table(spark, path: str, n_rows: int, deleted: np.ndarray) -> None:
    import json
    import os

    spark.range(n_rows).selectExpr(
        "id", "cast(id as double) as v"
    ).coalesce(1).write.parquet(path + "_stage")
    part = next(
        f for f in os.listdir(path + "_stage") if f.endswith(".parquet")
    )
    os.makedirs(path)
    os.rename(
        os.path.join(path + "_stage", part), os.path.join(path, part)
    )
    desc = dv.write_dv_file(path, [deleted])[0]
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": part, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def test_dv_composes_with_column_mapping(spark, tmp_path):
    """A table with BOTH name-mode column mapping and deletion vectors
    (delta-spark 3.x after RENAME + row-level DELETE): the DV anti-join
    runs on the physical read, then logical names come out."""
    import json
    import os

    path = str(tmp_path / "cmdv")
    os.makedirs(path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = "part-0000-cmdv-c000.snappy.parquet"
    pq.write_table(
        pa.table({"col-x1": pa.array([10, 20, 30], pa.int64())}),
        os.path.join(path, part),
    )
    desc = dv.inline_dv_descriptor(np.array([1]))  # drop id=20
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-x1",
                    },
                }
            ],
        }
    )
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping", "deletionVectors"],
                      "writerFeatures": ["columnMapping", "deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name",
                                        "delta.columnMapping.maxColumnId": "1"},
                      "createdTime": 0}},
        {"add": {"path": part, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    df = dl.read_delta(spark, path)
    assert df.columns == ["id"]
    assert sorted(r["id"] for r in df.collect()) == [10, 30]


def _dup_basename_table(tmp_path, rels):
    """External layout repeating one part basename across directories,
    the DV on the FIRST rel (row index 0 = its lowest id)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "dup")
    for rel, ids in zip(rels, ([1, 2], [3, 4])):
        dest = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), dest)
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    desc = dv.inline_dv_descriptor(np.array([0]))
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "d", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": rels[0], "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
        {"add": {"path": rels[1], "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return path


def test_dv_basename_collision_uniform_depth_reads(spark, tmp_path):
    """A basename repeated across directories at UNIFORM depth is
    unambiguous under path-suffix keying (round-9: partitioned writes
    legally repeat one part basename across hive dirs) — the DV applies
    to ITS file only, never the twin's rows."""
    path = _dup_basename_table(
        tmp_path, ["a/part-same.parquet", "b/part-same.parquet"]
    )
    got = sorted(r["id"] for r in dl.read_delta(spark, path).collect())
    assert got == [2, 3, 4]  # only a/'s row 0 (id=1) is deleted


def test_dv_basename_collision_mixed_depth_refused(spark, tmp_path):
    """MIXED depths fall back to basename keying, where a repeated
    basename with a DV is genuinely ambiguous — refuse loudly, never
    silently over-delete the other file's rows."""
    path = _dup_basename_table(
        tmp_path, ["part-same.parquet", "b/part-same.parquet"]
    )
    with pytest.raises(ValueError, match="basename"):
        dl.read_delta(spark, path).collect()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dv_model_random_deletes(spark, tmp_path, seed):
    """Model-based conformance: random rounds of DV row-level deletes
    (remove + re-add with a GROWING deletion vector, delta's DELETE
    shape) against a pure-Python model of surviving (file, row) sets —
    checked at the head AND at every time-travel version."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    path = str(tmp_path / f"t{seed}")
    os.makedirs(path)
    n_files, rows_per = 3, 40
    parts = {}
    base = 0
    for i in range(n_files):
        part = f"part-{i:04d}-model-c000.snappy.parquet"
        ids = list(range(base, base + rows_per))
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       os.path.join(path, part))
        parts[part] = ids
        base += rows_per
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    v0 = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "m", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
    ] + [
        {"add": {"path": p, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for p in parts
    ]
    with open(os.path.join(log, "00000000000000000000.json"), "w") as f:
        for a in v0:
            f.write(json.dumps(a) + "\n")

    deleted: dict[str, set[int]] = {p: set() for p in parts}
    expected_by_version = {0: set(base for ids in parts.values() for base in ids)}
    version = 0
    for _round in range(4):
        version += 1
        part = list(parts)[rng.randint(n_files)]
        kill = set(rng.choice(rows_per, size=rng.randint(1, 6), replace=False).tolist())
        deleted[part] |= kill  # delta DVs are cumulative per file
        desc = dv.inline_dv_descriptor(np.asarray(sorted(deleted[part])))
        actions = [
            {"remove": {"path": part, "deletionTimestamp": version,
                        "dataChange": True}},
            {"add": {"path": part, "partitionValues": {}, "size": 1,
                     "modificationTime": version, "dataChange": True,
                     "deletionVector": desc}},
        ]
        with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        expected_by_version[version] = {
            i
            for p, ids in parts.items()
            for off, i in enumerate(ids)
            if off not in deleted[p]
        }
    for v, expect in expected_by_version.items():
        got = {r["id"] for r in dl.read_delta(spark, path, version=v).collect()}
        assert got == expect, f"seed={seed} version={v}"


@pytest.mark.parametrize("seed", [0, 1])
def test_dv_model_interleaved_engine_ops(spark, tmp_path, seed):
    """Model-based conformance for the round-9 apply-and-rewrite write
    path: random rounds interleaving EXTERNAL DV row-level deletes
    (hand-written commits, delta's DELETE shape) with THIS ENGINE's
    delete_delta / optimize_delta, against a pure-Python model of the
    surviving id set. After any engine rewrite no resurrected id may
    appear and no surviving id may vanish."""
    import json
    import os

    rng = np.random.RandomState(100 + seed)
    path = str(tmp_path / f"ix{seed}")
    os.makedirs(path)
    n_files, rows_per = 3, 30
    parts: dict[str, list[int]] = {}
    base = 0
    for i in range(n_files):
        part = f"part-{i:04d}-ix-c000.snappy.parquet"
        ids = list(range(base, base + rows_per))
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       os.path.join(path, part))
        parts[part] = ids
        base += rows_per
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    v0 = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "ix", "format": {"provider": "parquet",
                                             "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {"delta.enableDeletionVectors": "true"},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": p, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for p in parts
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in v0:
            f.write(json.dumps(a) + "\n")

    alive = set(range(base))
    dv_state: dict[str, set[int]] = {p: set() for p in parts}
    for _round in range(6):
        op = rng.randint(3)
        if op == 0 and any(len(dv_state[p]) < rows_per for p in parts):
            # external DV delete on a file still present in the log
            active, _, _, _ = dl._replay(path, None)
            dv_parts = [p for p in active if p in parts
                        and len(dv_state[p]) < rows_per]
            if not dv_parts:
                continue
            part = dv_parts[rng.randint(len(dv_parts))]
            kill = set(
                rng.choice(rows_per, size=rng.randint(1, 5),
                           replace=False).tolist()
            )
            dv_state[part] |= kill
            alive -= {parts[part][off] for off in dv_state[part]}
            desc = dv.inline_dv_descriptor(
                np.asarray(sorted(dv_state[part]))
            )
            ver = dl._list_versions(path)[-1] + 1
            actions = [
                {"add": {"path": part, "partitionValues": {}, "size": 1,
                         "modificationTime": ver, "dataChange": True,
                         "deletionVector": desc}},
                {"remove": {"path": part, "deletionTimestamp": ver,
                            "dataChange": True}},
            ]  # add listed FIRST — the spec-legal order that broke replay
            with open(os.path.join(log, f"{ver:020d}.json"), "w") as f:
                for a in actions:
                    f.write(json.dumps(a) + "\n")
        elif op == 1 and alive:
            victim = int(sorted(alive)[rng.randint(len(alive))])
            use_dv_flag = bool(rng.randint(2))
            dl.delete_delta(spark, path, f"id = {victim}", use_dv=use_dv_flag)
            alive.discard(victim)
            vic_part = next(
                (p for p, ids in parts.items() if victim in ids), None
            )
            if vic_part is not None:
                if use_dv_flag:
                    # the engine grew that part's DV in place — keep the
                    # model bitmap in sync so a later EXTERNAL DV commit
                    # unions correctly (external ops only ever touch
                    # parts still active under their original name)
                    dv_state[vic_part] |= {parts[vic_part].index(victim)}
                else:
                    # rewrite: the original part left the log; its DV
                    # tracking is moot (ids already dropped from alive)
                    dv_state[vic_part] = set()
        else:
            dl.optimize_delta(spark, path, target_files=2)
            for p in dv_state:
                dv_state[p] = set()
        got = {r["id"] for r in dl.read_delta(spark, path).collect()}
        assert got == alive, f"seed={seed} round={_round} op={op}"


def test_dv_commit_add_before_remove_ordering(spark, tmp_path):
    """Intra-commit action order is UNSPECIFIED by the spec: a DV
    DELETE commit may list add(path, newDV) BEFORE remove(path, oldDV).
    Replay must keep the file with the new DV — path-keyed folding in
    log order silently dropped the file and all its surviving rows
    (round-8 advice, high)."""
    import json
    import os

    path = str(tmp_path / "addfirst")
    _make_dv_table(spark, path, 20, np.array([0]))
    # commit 1: DELETE rows {0, 5} — ADD LISTED FIRST
    desc = dv.inline_dv_descriptor(np.array([0, 5]))
    part = next(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    actions = [
        {"add": {"path": part, "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True,
                 "deletionVector": desc}},
        {"remove": {"path": part, "deletionTimestamp": 1,
                    "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log",
                           f"{1:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    got = sorted(r["id"] for r in dl.read_delta(spark, path).collect())
    assert got == [i for i in range(20) if i not in (0, 5)]
    # and the checkpoint of that state reconciles identically
    dl.write_checkpoint(path, 1)
    got_cp = sorted(r["id"] for r in dl.read_delta(spark, path).collect())
    assert got_cp == got


def test_dv_offset_none_defaults_to_frame_start(tmp_path):
    """A 'u' descriptor whose optional ``offset`` round-tripped as an
    explicit null (parquet checkpoint shape) must decode from the
    default position after the format-version byte, not raise
    TypeError (round-8 advice, low)."""
    td = str(tmp_path)
    vals = np.array([2, 4, 8])
    desc = dv.write_dv_file(td, [vals])[0]
    assert desc["offset"] == 1
    desc["offset"] = None
    assert np.array_equal(dv.deleted_row_indexes(td, desc), vals)


def test_driver_and_executor_decode_agree(spark, tmp_path, monkeypatch):
    """The DV_DRIVER_DECODE_MAX gate changes the decode locality, never
    the result."""
    deleted = np.unique(np.random.RandomState(3).randint(0, 500, size=120))
    path = str(tmp_path / "t")
    _make_dv_table(spark, path, 500, deleted)
    expect = sorted(set(range(500)) - set(deleted.tolist()))
    got_driver = sorted(r["id"] for r in dl.read_delta(spark, path).collect())
    assert got_driver == expect
    monkeypatch.setattr(dl, "DV_DRIVER_DECODE_MAX", 0)
    got_exec = sorted(r["id"] for r in dl.read_delta(spark, path).collect())
    assert got_exec == expect
