"""Generate the committed golden Delta fixture at tests/data/golden_delta.

The fixture replicates, byte-level, the `_delta_log` layout a real
delta-spark 3.x writer emits (action field sets, ordering, commitInfo
shape, hive partition dirs, stats JSON), hand-derived from the public
Delta transaction-log protocol (delta.io PROTOCOL.md) — the
in-sandbox stand-in for a table produced by an external Delta
implementation (no delta-spark jar / delta-rs / duckdb-delta exists in
this environment to generate one live). Deterministic: fixed UUIDs,
timestamps, and row contents, so the committed bytes are stable.

Layout (2 commits):
  v0  protocol + metaData (partitioned by `part`) + 2 adds
  v1  txn(appId=golden-app, version=7) + remove(part=b file) + 1 add

Run from the repo root: python scripts/make_golden_delta.py
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.join(os.path.dirname(__file__), "..", "tests", "data", "golden_delta")

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        ],
    },
    separators=(",", ":"),
)

T0 = 1700000000000  # fixed ms timestamps — stable bytes

FILES = {
    # rel path -> (rows of (id, v))
    "part=a/part-00000-1111aaaa-0d7e-4b6f-8a77-000000000000-c000.snappy.parquet": [
        (1, 1.5),
        (2, 2.5),
    ],
    "part=b/part-00001-2222bbbb-1e8f-4c70-9b88-000000000000-c000.snappy.parquet": [
        (3, 3.5),
    ],
    "part=a/part-00002-3333cccc-2f90-4d81-ac99-000000000000-c000.snappy.parquet": [
        (4, 4.5),
    ],
}


def _write_parquet(rel: str, rows: list[tuple[int, float]]) -> int:
    dest = os.path.join(ROOT, rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    table = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, dest, compression="snappy")
    return os.path.getsize(dest)


def _stats(rows: list[tuple[int, float]]) -> str:
    ids = [r[0] for r in rows]
    vs = [r[1] for r in rows]
    return json.dumps(
        {
            "numRecords": len(rows),
            "minValues": {"id": min(ids), "v": min(vs)},
            "maxValues": {"id": max(ids), "v": max(vs)},
            "nullCount": {"id": 0, "v": 0},
        },
        separators=(",", ":"),
    )


def _add(rel: str, size: int, rows, ts: int) -> dict:
    part_val = rel.split("/", 1)[0].split("=", 1)[1]
    return {
        "add": {
            "path": rel,
            "partitionValues": {"part": part_val},
            "size": size,
            "modificationTime": ts,
            "dataChange": True,
            "stats": _stats(rows),
        }
    }


def main() -> None:
    if os.path.isdir(ROOT):
        shutil.rmtree(ROOT)
    log = os.path.join(ROOT, "_delta_log")
    os.makedirs(log)
    sizes = {rel: _write_parquet(rel, rows) for rel, rows in FILES.items()}
    rels = list(FILES)

    v0_actions = [
        {
            "commitInfo": {
                "timestamp": T0,
                "operation": "WRITE",
                "operationParameters": {
                    "mode": "ErrorIfExists",
                    "partitionBy": '["part"]',
                },
                "isolationLevel": "Serializable",
                "isBlindAppend": True,
                "operationMetrics": {
                    "numFiles": "2",
                    "numOutputRows": "3",
                    "numOutputBytes": str(sizes[rels[0]] + sizes[rels[1]]),
                },
                "engineInfo": "Apache-Spark/3.5.1 Delta-Lake/3.1.0",
                "txnId": "44444444-dddd-4eee-8fff-000000000000",
            }
        },
        {"metaData": {
            "id": "55555555-eeee-4aaa-9bbb-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_STRING,
            "partitionColumns": ["part"],
            "configuration": {},
            "createdTime": T0,
        }},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _add(rels[0], sizes[rels[0]], FILES[rels[0]], T0),
        _add(rels[1], sizes[rels[1]], FILES[rels[1]], T0),
    ]
    v1_actions = [
        {
            "commitInfo": {
                "timestamp": T0 + 60000,
                "operation": "MERGE",
                "operationParameters": {"predicate": "(id = 3)"},
                "isolationLevel": "Serializable",
                "isBlindAppend": False,
                "operationMetrics": {"numTargetRowsUpdated": "0"},
                "engineInfo": "Apache-Spark/3.5.1 Delta-Lake/3.1.0",
                "txnId": "66666666-ffff-4ccc-add0-000000000000",
            }
        },
        {"txn": {"appId": "golden-app", "version": 7, "lastUpdated": T0 + 60000}},
        {
            "remove": {
                "path": rels[1],
                "deletionTimestamp": T0 + 60000,
                "dataChange": True,
                "extendedFileMetadata": True,
                "partitionValues": {"part": "b"},
                "size": sizes[rels[1]],
            }
        },
        _add(rels[2], sizes[rels[2]], FILES[rels[2]], T0 + 60000),
    ]
    for version, actions in ((0, v0_actions), (1, v1_actions)):
        with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
    print(f"golden fixture written to {ROOT}")


# ---- fixture family: protocol-gate + checkpointed external layouts ----
#
# Each table below models an external writer's output that our engine
# must either READ FAITHFULLY or REFUSE (never silently misread) — the
# round-7 directive. Data parquets are minimal (the gated tables raise
# before touching data anyway) but real, so a passing read is a full
# read.

DATA_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")

PLAIN_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        ],
    },
    separators=(",", ":"),
)


def _write_plain_parquet(root: str, rel: str, rows: list[tuple[int, float]]) -> int:
    dest = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dest) or root, exist_ok=True)
    table = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, dest, compression="snappy")
    return os.path.getsize(dest)


def _commit_json(root: str, version: int, actions: list[dict]) -> None:
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")


def _meta(
    schema_string: str,
    config: dict | None = None,
    partition_columns: list[str] | None = None,
) -> dict:
    return {
        "metaData": {
            "id": "77777777-aaaa-4bbb-8ccc-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": list(partition_columns or []),
            "configuration": config or {},
            "createdTime": T0,
        }
    }


def _plain_add(rel: str, size: int, ts: int = T0) -> dict:
    return {
        "add": {
            "path": rel,
            "partitionValues": {},
            "size": size,
            "modificationTime": ts,
            "dataChange": True,
        }
    }


def make_dv_table() -> None:
    """Reader-v3 table requiring deletionVectors — a POSITIVE fixture
    since round 8: rows deleted through DV sidecars must be ABSENT from
    every read. Exercises both storage forms (file-based 'u' with a
    version byte + framed offset + CRC, and inline 'i' Z85), a
    run-container bitmap, and the DELETE commit shape (remove +
    re-add of the same path carrying the DV). Deterministic bytes:
    fixed uuid, fixed rows.

    Expected surviving rows: file1 loses ids 1,4 (indexes 0,3); file2
    loses id 8 (index 2); file3 untouched → ids {2,3,5,6,7,9,10,11,12}.
    """
    import sys
    import uuid as _uuidmod
    import zlib as _zlib

    import numpy as _np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import (
        deletion_vectors as _dv,
    )

    root = os.path.join(DATA_DIR, "golden_delta_dv")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel1 = "part-00000-9999dddd-0000-4000-8000-000000000000-c000.snappy.parquet"
    rel2 = "part-00001-9999dddd-0000-4000-8000-000000000001-c000.snappy.parquet"
    rel3 = "part-00002-9999dddd-0000-4000-8000-000000000002-c000.snappy.parquet"
    size1 = _write_plain_parquet(
        root, rel1, [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)]
    )
    size2 = _write_plain_parquet(root, rel2, [(6, 6.0), (7, 7.0), (8, 8.0), (9, 9.0)])
    size3 = _write_plain_parquet(root, rel3, [(10, 10.0), (11, 11.0), (12, 12.0)])

    # file-based DV for file1: fixed uuid, one framed bitmap at offset 1
    dv_uuid = _uuidmod.UUID("9999eeee-0000-4000-8000-000000000001")
    data1 = _dv.roaring64_serialize(_np.array([0, 3]))
    buf = bytearray(b"\x01")
    off1 = len(buf)
    buf += len(data1).to_bytes(4, "big") + data1
    buf += (_zlib.crc32(data1) & 0xFFFFFFFF).to_bytes(4, "big")
    with open(os.path.join(root, f"deletion_vector_{dv_uuid}.bin"), "wb") as f:
        f.write(bytes(buf))
    dv1 = {
        "storageType": "u",
        "pathOrInlineDv": _dv.z85_encode(dv_uuid.bytes),
        "offset": off1,
        "sizeInBytes": len(data1),
        "cardinality": 2,
    }
    dv2 = _dv.inline_dv_descriptor(_np.array([2]))

    add1 = _plain_add(rel1, size1)
    add2 = _plain_add(rel2, size2)
    add3 = _plain_add(rel3, size3)
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            _meta(
                PLAIN_SCHEMA_STRING,
                {"delta.enableDeletionVectors": "true"},
            ),
            add1,
            add2,
            add3,
        ],
    )
    # v1: the DELETE commit — remove + re-add the same paths, now
    # carrying their deletion vectors (delta-spark's DV DELETE shape)
    readd1 = _plain_add(rel1, size1, ts=T0 + 1000)
    readd1["add"]["deletionVector"] = dv1
    readd2 = _plain_add(rel2, size2, ts=T0 + 1000)
    readd2["add"]["deletionVector"] = dv2
    _commit_json(
        root,
        1,
        [
            {
                "remove": {
                    "path": rel1,
                    "deletionTimestamp": T0 + 1000,
                    "dataChange": True,
                }
            },
            {
                "remove": {
                    "path": rel2,
                    "deletionTimestamp": T0 + 1000,
                    "dataChange": True,
                }
            },
            readd1,
            readd2,
            {
                "commitInfo": {
                    "timestamp": T0 + 1000,
                    "operation": "DELETE",
                    "operationParameters": {},
                }
            },
        ],
    )


def make_column_mapping_table() -> None:
    """Reader-v2 name-mode column-mapping table: logical names live in
    schema metadata, parquet columns carry physical names (col-xxxx). A
    v1 reader would return wrong/physical columns — must raise."""
    root = os.path.join(DATA_DIR, "golden_delta_cm")
    if os.path.isdir(root):
        shutil.rmtree(root)
    # physical column names on disk differ from the logical schema
    rel = "part-00000-8888cccc-0000-4000-8000-000000000000-c000.snappy.parquet"
    dest = os.path.join(root, rel)
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "col-1a2b3c4d": pa.array([1, 2], pa.int64()),
                "col-5e6f7a8b": pa.array([1.0, 2.0], pa.float64()),
            }
        ),
        dest,
        compression="snappy",
    )
    cm_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-1a2b3c4d",
                    },
                },
                {
                    "name": "v",
                    "type": "double",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-5e6f7a8b",
                    },
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _meta(
                cm_schema,
                {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
            ),
            _plain_add(rel, os.path.getsize(dest)),
        ],
    )


def make_writer_feature_table() -> None:
    """Reader-v1 table whose WRITER protocol demands identityColumns
    (writer v7 feature we do not implement): reads must succeed, any
    commit from our writer must raise."""
    root = os.path.join(DATA_DIR, "golden_delta_wfeat")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel = "part-00000-7777bbbb-0000-4000-8000-000000000000-c000.snappy.parquet"
    size = _write_plain_parquet(root, rel, [(10, 0.5)])
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["identityColumns"],
                }
            },
            _meta(PLAIN_SCHEMA_STRING),
            _plain_add(rel, size),
        ],
    )


def make_invariants_table() -> None:
    """Writer-v2 table declaring a column invariant (delta.invariants in
    field metadata) — a constraint our writer does not evaluate: reads
    succeed, commits must refuse."""
    root = os.path.join(DATA_DIR, "golden_delta_inv")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel = "part-00000-6666aaaa-0000-4000-8000-000000000000-c000.snappy.parquet"
    size = _write_plain_parquet(root, rel, [(5, 5.0)])
    inv_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.invariants": json.dumps(
                            {"expression": {"expression": "id > 0"}}
                        )
                    },
                },
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta(inv_schema),
            _plain_add(rel, size),
        ],
    )


def make_checkpointed_table() -> None:
    """External-layout CHECKPOINTED table whose early JSON commits were
    cleaned (deleted) — the snapshot is reconstructible ONLY through the
    checkpoint parquet, which carries a remove tombstone and struct
    fields in a different order (plus extra columns like
    commitInfo-less txn.lastUpdated and remove.extendedFileMetadata)
    than our own writer emits. Exercises the reader's tolerance of
    foreign checkpoint layouts end-to-end.

    History: v0 added f0+f1, v1 removed f1 and added f2 (both JSONs
    deleted after checkpointing at v1), v2 adds f3 (retained JSON).
    Expected latest snapshot: f0, f2, f3 → ids {1, 2, 3, 4}."""
    root = os.path.join(DATA_DIR, "golden_delta_ckpt")
    if os.path.isdir(root):
        shutil.rmtree(root)
    files = {
        "part-00000-aaaa0000-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (1, 1.0),
            (2, 2.0),
        ],
        "part-00001-bbbb1111-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (99, 99.0)  # removed at v1 — must NOT appear
        ],
        "part-00002-cccc2222-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (3, 3.0)
        ],
        "part-00003-dddd3333-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (4, 4.0)
        ],
    }
    sizes = {rel: _write_plain_parquet(root, rel, rows) for rel, rows in files.items()}
    rels = list(files)

    # checkpoint parquet at v1: reconciled state = protocol + metaData +
    # adds(f0, f2) + remove tombstone(f1) + a txn. Struct field order is
    # deliberately NOT our writer's order, and extra spec-legal fields
    # (tags, extendedFileMetadata, partitionValues on remove) appear.
    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("dataChange", pa.bool_()),       # reordered vs our writer
            ("modificationTime", pa.int64()),
            ("partitionValues", str_map),
            ("path", pa.string()),
            ("size", pa.int64()),
            ("stats", pa.string()),
            ("tags", str_map),
        ]
    )
    remove_t = pa.struct(
        [
            ("dataChange", pa.bool_()),
            ("deletionTimestamp", pa.int64()),
            ("extendedFileMetadata", pa.bool_()),
            ("partitionValues", str_map),
            ("path", pa.string()),
            ("size", pa.int64()),
        ]
    )
    meta_t = pa.struct(
        [
            ("configuration", str_map),
            ("createdTime", pa.int64()),
            ("description", pa.string()),
            ("format", pa.struct([("options", str_map), ("provider", pa.string())])),
            ("id", pa.string()),
            ("name", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("schemaString", pa.string()),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("lastUpdated", pa.int64()),
            ("version", pa.int64()),
        ]
    )
    schema = pa.schema(
        [("txn", txn_t), ("add", add_t), ("remove", remove_t),
         ("metaData", meta_t), ("protocol", proto_t)]
    )

    def _add_row(rel: str) -> dict:
        return {
            "dataChange": True,
            "modificationTime": T0,
            "partitionValues": [],
            "path": rel,
            "size": sizes[rel],
            "stats": None,
            "tags": None,
        }

    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "configuration": [],
                "createdTime": T0,
                "description": None,
                "format": {"options": [], "provider": "parquet"},
                "id": "88888888-bbbb-4ccc-9ddd-000000000000",
                "name": None,
                "partitionColumns": [],
                "schemaString": PLAIN_SCHEMA_STRING,
            }
        },
        {"txn": {"appId": "ckpt-app", "lastUpdated": T0, "version": 3}},
        {"add": _add_row(rels[0])},
        {"add": _add_row(rels[2])},
        {
            "remove": {
                "dataChange": True,
                "deletionTimestamp": T0 + 1000,
                "extendedFileMetadata": True,
                "partitionValues": [],
                "path": rels[1],
                "size": sizes[rels[1]],
            }
        },
    ]
    table = pa.Table.from_pylist(
        [{k: row.get(k) for k in ("txn", "add", "remove", "metaData", "protocol")}
         for row in rows],
        schema=schema,
    )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    cp_path = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    pq.write_table(table, cp_path, compression="snappy")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 1, "size": len(rows)}, separators=(",", ":")))

    # v2: post-checkpoint retained JSON commit adding f3
    _commit_json(
        root,
        2,
        [
            {
                "commitInfo": {
                    "timestamp": T0 + 2000,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                    "engineInfo": "Apache-Spark/3.5.1 Delta-Lake/3.1.0",
                }
            },
            _plain_add(rels[3], sizes[rels[3]], T0 + 2000),
        ],
    )
    # v0/v1 JSONs were "cleaned" (never written): the checkpoint is the
    # only route to the pre-v2 state, exactly the post-cleanup layout.


def make_ntz_table() -> None:
    """Reader-v3 + timestampNtz: a TIMESTAMP WITHOUT TIME ZONE column
    (parquet isAdjustedToUTC=false). Values must read back as the
    WALL-CLOCK instants written, regardless of session timezone."""
    import datetime

    root = os.path.join(DATA_DIR, "golden_delta_ntz")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel = "part-00000-aaaa1111-0000-4000-8000-000000000000-c000.snappy.parquet"
    dest = os.path.join(root, rel)
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [
                        datetime.datetime(2024, 1, 1, 12, 0, 0),
                        datetime.datetime(2024, 6, 1, 0, 30, 0),
                    ],
                    pa.timestamp("us"),  # no tz => isAdjustedToUTC=false
                ),
            }
        ),
        dest,
        compression="snappy",
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {
                    "name": "ts",
                    "type": "timestamp_ntz",
                    "nullable": True,
                    "metadata": {},
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": ["timestampNtz"],
                }
            },
            _meta(schema),
            _plain_add(rel, os.path.getsize(dest)),
        ],
    )


def make_v2_checkpoint_table() -> None:
    """Reader-v3 + v2Checkpoint: a uuid-named checkpoint file carrying
    checkpointMetadata + sidecar actions, with the add/remove actions
    split across TWO _sidecars/ parquet files. Early JSON commits are
    cleaned, so the snapshot is reconstructible only through the v2
    checkpoint + the one retained JSON.

    History: v0 added f0+f1, v1 removed f1 and added f2 (JSONs v0+v1
    deleted after the v2 checkpoint at v1), v2 adds f3 (retained JSON).
    Expected latest snapshot: f0, f2, f3 → ids {1, 2, 3, 4}."""
    root = os.path.join(DATA_DIR, "golden_delta_v2cp")
    if os.path.isdir(root):
        shutil.rmtree(root)
    files = {
        "part-00000-eeee0000-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (1, 1.0),
            (2, 2.0),
        ],
        "part-00001-eeee1111-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (99, 99.0)  # removed at v1 — must NOT appear
        ],
        "part-00002-eeee2222-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (3, 3.0)
        ],
        "part-00003-eeee3333-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (4, 4.0)
        ],
    }
    sizes = {rel: _write_plain_parquet(root, rel, rows) for rel, rows in files.items()}
    rels = list(files)
    log = os.path.join(root, "_delta_log")
    side_dir = os.path.join(log, "_sidecars")
    os.makedirs(side_dir)

    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    side_schema = pa.schema([("add", add_t), ("remove", remove_t)])

    def _add_row(rel: str) -> dict:
        return {
            "path": rel,
            "partitionValues": [],
            "size": sizes[rel],
            "modificationTime": T0,
            "dataChange": True,
            "stats": None,
        }

    side_files = {
        "00000000000000000001.checkpoint.0000000001.0000000002-s1.parquet": [
            {"add": _add_row(rels[0]), "remove": None},
        ],
        "00000000000000000001.checkpoint.0000000001.0000000002-s2.parquet": [
            {"add": _add_row(rels[2]), "remove": None},
            {
                "add": None,
                "remove": {
                    "path": rels[1],
                    "deletionTimestamp": T0 + 1,
                    "dataChange": True,
                },
            },
        ],
    }
    side_meta = {}
    for name, rows in side_files.items():
        dest = os.path.join(side_dir, name)
        pq.write_table(pa.Table.from_pylist(rows, schema=side_schema), dest)
        side_meta[name] = os.path.getsize(dest)

    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    cpmeta_t = pa.struct([("version", pa.int64()), ("tags", str_map)])
    sidecar_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    main_schema = pa.schema(
        [
            ("protocol", proto_t),
            ("metaData", meta_t),
            ("txn", txn_t),
            ("checkpointMetadata", cpmeta_t),
            ("sidecar", sidecar_t),
        ]
    )
    main_rows = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        },
        {
            "metaData": {
                "id": "88888888-aaaa-4bbb-8ccc-000000000000",
                "name": None,
                "description": None,
                "format": {"provider": "parquet", "options": []},
                "schemaString": PLAIN_SCHEMA_STRING,
                "partitionColumns": [],
                "configuration": [],
                "createdTime": T0,
            }
        },
        {"txn": {"appId": "v2cp-app", "version": 5}},
        {"checkpointMetadata": {"version": 1, "tags": []}},
    ] + [
        {
            "sidecar": {
                "path": name,
                "sizeInBytes": size,
                "modificationTime": T0,
            }
        }
        for name, size in side_meta.items()
    ]
    main_rows = [
        {k: row.get(k) for k in main_schema.names} for row in main_rows
    ]
    cp_name = (
        "00000000000000000001.checkpoint."
        "80a083e8-7026-4e79-81be-64bd76c43a11.parquet"
    )
    pq.write_table(
        pa.Table.from_pylist(main_rows, schema=main_schema),
        os.path.join(log, cp_name),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 1, "size": len(main_rows) + 3}))
    # retained JSON commit v2 (v0/v1 cleaned away)
    _commit_json(root, 2, [_plain_add(rels[3], sizes[rels[3]], ts=T0 + 2)])


def make_row_tracking_table() -> None:
    """minWriterVersion 7 + rowTracking/domainMetadata — the writer
    feature set newer delta-spark runtimes enable BY DEFAULT, so this
    is the most common "modern table" shape after deletion vectors.
    Both are WRITER-only features: reads must pass the reader gate
    untouched while tolerating the action/field vocabulary they bring
    (add.baseRowId / add.defaultRowCommitVersion, a domainMetadata
    action carrying the delta.rowTracking high-water mark). Writes
    must REFUSE: this writer cannot materialize fresh baseRowIds, and
    committing an add without one would corrupt the table's row-id
    assignment."""
    root = os.path.join(DATA_DIR, "golden_delta_rowtracking")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel1 = "part-00000-aaaa1111-0000-4000-8000-000000000000-c000.snappy.parquet"
    rel2 = "part-00001-aaaa1111-0000-4000-8000-000000000001-c000.snappy.parquet"
    size1 = _write_plain_parquet(root, rel1, [(1, 1.0), (2, 2.0), (3, 3.0)])
    size2 = _write_plain_parquet(root, rel2, [(4, 4.0), (5, 5.0)])
    add1 = _plain_add(rel1, size1)
    add1["add"]["baseRowId"] = 0
    add1["add"]["defaultRowCommitVersion"] = 0
    add2 = _plain_add(rel2, size2)
    add2["add"]["baseRowId"] = 3
    add2["add"]["defaultRowCommitVersion"] = 0
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["rowTracking", "domainMetadata"],
                }
            },
            _meta(
                PLAIN_SCHEMA_STRING,
                {
                    "delta.enableRowTracking": "true",
                    "delta.rowTracking.materializedRowIdColumnName":
                        "_row-id-col-0",
                    "delta.rowTracking.materializedRowCommitVersionColumnName":
                        "_row-commit-version-col-0",
                },
            ),
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps({"rowIdHighWaterMark": 4}),
                    "removed": False,
                }
            },
            add1,
            add2,
        ],
    )


def make_vacuum_protocol_check_table() -> None:
    """Reader v3 + writer v7 with vacuumProtocolCheck on BOTH sides —
    a routine delta-spark 3.x+ upgrade marker. The feature demands
    nothing of readers and exactly one thing of writers: VACUUM must
    re-check the protocol before deleting files. Reads, appends and
    vacuums must all succeed here (every capability the protocol
    lists is genuinely upheld)."""
    root = os.path.join(DATA_DIR, "golden_delta_vpc")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel1 = "part-00000-bbbb2222-0000-4000-8000-000000000000-c000.snappy.parquet"
    size1 = _write_plain_parquet(root, rel1, [(1, 1.0), (2, 2.0)])
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["vacuumProtocolCheck"],
                    "writerFeatures": ["vacuumProtocolCheck"],
                }
            },
            _meta(PLAIN_SCHEMA_STRING),
            _plain_add(rel1, size1),
        ],
    )


def make_column_mapping_id_table() -> None:
    """ID-mode column mapping (the iceberg-conversion shape): parquet
    column names match NEITHER the logical names NOR Delta's
    physicalName — only the parquet FIELD IDS (= delta.columnMapping.id)
    identify columns. A reader resolving by any name silently returns
    wrong/null columns; resolution must go through the field ids."""
    root = os.path.join(DATA_DIR, "golden_delta_cmid")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    rel1 = "part-00000-ffff5555-0000-4000-8000-000000000000-c000.snappy.parquet"
    # iceberg-era parquet: original source column names + field ids.
    # Column ORDER is also scrambled vs the logical schema.
    table = pa.table(
        {
            "legacy_value_col": pa.array([1.5, 2.5], pa.float64()),
            "legacy_id_col": pa.array([1, 2], pa.int64()),
        }
    )
    fields = [
        pa.field("legacy_value_col", pa.float64(),
                 metadata={b"PARQUET:field_id": b"2"}),
        pa.field("legacy_id_col", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
    ]
    table = table.cast(pa.schema(fields))
    pq.write_table(table, os.path.join(root, rel1), compression="snappy")
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
                        "delta.columnMapping.physicalName": "col-9d8c7b6a",
                    },
                },
                {
                    "name": "v",
                    "type": "double",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-5a4b3c2d",
                    },
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _meta(
                schema,
                {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                },
            ),
            _plain_add(rel1, os.path.getsize(os.path.join(root, rel1))),
        ],
    )


def make_column_mapping_nested_table() -> None:
    """Name-mode column mapping with NESTED renames (round-10): the
    physicalName indirection applies at EVERY nesting level — struct
    fields and array-of-struct element fields all carry col-xxxx names
    on disk. Exercises read_delta's recursive _physical_type resolution."""
    root = os.path.join(DATA_DIR, "golden_delta_cm_nested")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    rel = "part-00000-9999dddd-0000-4000-8000-000000000000-c000.snappy.parquet"
    s_type = pa.struct(
        [("col-na03", pa.int64()), ("col-nb04", pa.string())]
    )
    arr_type = pa.list_(pa.struct([("col-nc06", pa.float64())]))
    map_type = pa.map_(pa.string(), pa.struct([("col-nd08", pa.int64())]))
    table = pa.table(
        {
            "col-id01": pa.array([1, 2, 3], pa.int64()),
            "col-st02": pa.array(
                [
                    {"col-na03": 10, "col-nb04": "x"},
                    None,
                    {"col-na03": 30, "col-nb04": None},
                ],
                s_type,
            ),
            "col-ar05": pa.array(
                [[{"col-nc06": 1.5}, {"col-nc06": 2.5}], None, []],
                arr_type,
            ),
            # round-11: renames INSIDE a map's value type
            "col-mp07": pa.array(
                [
                    [("k1", {"col-nd08": 7}), ("k2", {"col-nd08": 8})],
                    None,
                    [],
                ],
                map_type,
            ),
        }
    )
    pq.write_table(table, os.path.join(root, rel), compression="snappy")
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
                        "delta.columnMapping.physicalName": "col-id01",
                    },
                },
                {
                    "name": "s",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "a",
                                "type": "long",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 3,
                                    "delta.columnMapping.physicalName": "col-na03",
                                },
                            },
                            {
                                "name": "b",
                                "type": "string",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 4,
                                    "delta.columnMapping.physicalName": "col-nb04",
                                },
                            },
                        ],
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-st02",
                    },
                },
                {
                    "name": "arr",
                    "type": {
                        "type": "array",
                        "elementType": {
                            "type": "struct",
                            "fields": [
                                {
                                    "name": "c",
                                    "type": "double",
                                    "nullable": True,
                                    "metadata": {
                                        "delta.columnMapping.id": 6,
                                        "delta.columnMapping.physicalName": "col-nc06",
                                    },
                                },
                            ],
                        },
                        "containsNull": True,
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 5,
                        "delta.columnMapping.physicalName": "col-ar05",
                    },
                },
                {
                    "name": "m",
                    "type": {
                        "type": "map",
                        "keyType": "string",
                        "valueType": {
                            "type": "struct",
                            "fields": [
                                {
                                    "name": "d",
                                    "type": "long",
                                    "nullable": True,
                                    "metadata": {
                                        "delta.columnMapping.id": 8,
                                        "delta.columnMapping.physicalName": "col-nd08",
                                    },
                                },
                            ],
                        },
                        "valueContainsNull": True,
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 7,
                        "delta.columnMapping.physicalName": "col-mp07",
                    },
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _meta(
                schema,
                {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "8",
                },
            ),
            _plain_add(rel, os.path.getsize(os.path.join(root, rel))),
        ],
    )


def make_identity_table() -> None:
    """Writer v7 + identityColumns (round-11): ``ident`` is GENERATED
    ALWAYS AS IDENTITY (start 1, step 1, high-water mark 3 after the
    seed rows). Reads must surface the stored values; appends must
    ASSIGN fresh values above the mark and advance it in the same
    commit; explicit values must refuse (allowExplicitInsert=false)."""
    root = os.path.join(DATA_DIR, "golden_delta_identity")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    rel = "part-00000-1de41111-0000-4000-8000-000000000000-c000.snappy.parquet"
    table = pa.table(
        {
            "ident": pa.array([1, 2, 3], pa.int64()),
            "v": pa.array([1.0, 2.0, 3.0], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(root, rel), compression="snappy")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "ident",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.identity.start": 1,
                        "delta.identity.step": 1,
                        "delta.identity.highWaterMark": 3,
                        "delta.identity.allowExplicitInsert": False,
                    },
                },
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["identityColumns"],
                }
            },
            _meta(schema),
            _plain_add(rel, os.path.getsize(os.path.join(root, rel))),
        ],
    )


def make_variant_table() -> None:
    """Reader v3 + variantType (round-11): ``v`` is a VARIANT column.
    Physical layout per the Delta protocol / parquet VariantEncoding.md:
    a group with binary ``value`` + ``metadata`` fields holding the
    Variant binary encoding. Written UNANNOTATED (no parquet VARIANT
    logical type) — the shape pre-annotation writers emit and the
    harder read case; Spark-written appends produce the annotated form.

    The committed bytes are the spec encoding for these JSON values
    (captured from Spark's own parse_json, deterministic):
      id 1 → {"a": 1, "s": "x"}   id 2 → {"a": 2, "s": "y"}
      id 3 → null (JSON null, not SQL NULL)
    metadata 01 02 0001 02 "as" = version-1 dictionary ["a","s"];
    value 02 ... = object{a: int8, s: short-string}."""
    root = os.path.join(DATA_DIR, "golden_delta_variant")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    rel = "part-00000-7a81a111-0000-4000-8000-000000000000-c000.snappy.parquet"
    rows = [
        (1, bytes.fromhex("020200010002040c010578"), bytes.fromhex("01020001026173")),
        (2, bytes.fromhex("020200010002040c020579"), bytes.fromhex("01020001026173")),
        (3, bytes.fromhex("00"), bytes.fromhex("010000")),
    ]
    struct = pa.struct(
        [pa.field("value", pa.binary()), pa.field("metadata", pa.binary())]
    )
    table = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "v": pa.array(
                [{"value": r[1], "metadata": r[2]} for r in rows], struct
            ),
        }
    )
    pq.write_table(table, os.path.join(root, rel), compression="snappy")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "variant", "nullable": True, "metadata": {}},
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["variantType"],
                    "writerFeatures": ["variantType"],
                }
            },
            _meta(schema),
            _plain_add(rel, os.path.getsize(os.path.join(root, rel))),
        ],
    )


def make_collations_table() -> None:
    """Writer v7 + collations-preview (round-11): ``s`` is a collated
    string (ICU UNICODE_CI) via the spec's ``__COLLATIONS`` field-
    metadata sidecar — string BYTES stay plain UTF-8 (reader v1).
    The adds carry BINARY-order min/max stats on ``s`` exactly as a
    collation-unaware external writer would have left them — the trap
    case: pruning ``s = 'apple'`` against file0's binary
    ['APPLE','Banana'] range would wrongly skip the file even though
    'APPLE' == 'apple' under UNICODE_CI."""
    root = os.path.join(DATA_DIR, "golden_delta_collations")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    files = {
        "part-00000-c011a111-0000-4000-8000-000000000000-c000.snappy.parquet": [
            (1, "APPLE"),
            (2, "Banana"),
        ],
        "part-00001-c011a111-0000-4000-8000-000000000001-c000.snappy.parquet": [
            (3, "apple"),
        ],
    }
    adds = []
    for rel, rows in files.items():
        table = pa.table(
            {
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "s": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(root, rel), compression="snappy")
        ss = [r[1] for r in rows]
        add = _plain_add(rel, os.path.getsize(os.path.join(root, rel)))
        add["add"]["stats"] = json.dumps(
            {
                "numRecords": len(rows),
                "minValues": {"id": min(r[0] for r in rows), "s": min(ss)},
                "maxValues": {"id": max(r[0] for r in rows), "s": max(ss)},
                "nullCount": {"id": 0, "s": 0},
            },
            separators=(",", ":"),
        )
        adds.append(add)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {
                    "name": "s",
                    "type": "string",
                    "nullable": True,
                    "metadata": {"__COLLATIONS": {"s": "icu.UNICODE_CI"}},
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["collations-preview"],
                }
            },
            _meta(schema),
        ]
        + adds,
    )


def make_in_commit_timestamp_table() -> None:
    """minWriterVersion 7 + inCommitTimestamp (delta 4.x, default-on in
    newer runtimes): commitInfo carries the authoritative
    inCommitTimestamp and metaData the enablement key. WRITER-only —
    reads must pass untouched (we do no timestamp-based time travel,
    so the reader obligation is vacuous); writes must refuse (we would
    not emit the monotonic timestamps the feature promises)."""
    root = os.path.join(DATA_DIR, "golden_delta_ict")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel1 = "part-00000-cccc3333-0000-4000-8000-000000000000-c000.snappy.parquet"
    size1 = _write_plain_parquet(root, rel1, [(1, 1.0), (2, 2.0), (3, 3.0)])
    meta = _meta(
        PLAIN_SCHEMA_STRING,
        {"delta.enableInCommitTimestamps": "true"},
    )
    _commit_json(
        root,
        0,
        [
            {
                "commitInfo": {
                    "timestamp": T0,
                    "inCommitTimestamp": T0 + 7,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Overwrite"},
                }
            },
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["inCommitTimestamp"],
                }
            },
            meta,
            _plain_add(rel1, size1),
        ],
    )


def make_partitioned_dv_table() -> None:
    """Hive-partitioned table whose files carry deletion vectors — the
    exact external shape a delta-spark 3.x partitioned DELETE produces:
    BOTH hive dirs hold the SAME part basename (one write task emits one
    file per partition under one part name), so row matching must key on
    the partition-dir path suffix, and one partition value needs hive
    escaping (``pt:BR`` → dir ``lang=pt%3ABR``) while the log stores the
    LOGICAL value. A basename-keyed or escaping-confused reader would
    resurrect or over-delete rows silently.

    Layout: lang=en rows (1,2,3) DV-deletes index 1 (id 2); lang=pt:BR
    rows (10,11) DV-deletes index 0 (id 10). Expected survivors:
    (1,en), (3,en), (11,pt:BR)."""
    import sys

    import numpy as _np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from sustainable_building_energy_benchmarking_pipeline_spark.sources import (
        deletion_vectors as _dv,
    )

    root = os.path.join(DATA_DIR, "golden_delta_partdv")
    if os.path.isdir(root):
        shutil.rmtree(root)
    base = "part-00000-eeee5555-0000-4000-8000-000000000000-c000.snappy.parquet"
    rel_en = f"lang=en/{base}"
    rel_pt = f"lang=pt%3ABR/{base}"  # on-disk hive-escaped dir name
    size_en = _write_plain_parquet(root, rel_en, [(1, 1.0), (2, 2.0), (3, 3.0)])
    size_pt = _write_plain_parquet(root, rel_pt, [(10, 10.0), (11, 11.0)])
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
                {"name": "lang", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        },
        separators=(",", ":"),
    )

    def _padd(rel: str, size: int, lang: str, ts: int = T0) -> dict:
        return {
            "add": {
                "path": rel,
                "partitionValues": {"lang": lang},  # LOGICAL (unescaped)
                "size": size,
                "modificationTime": ts,
                "dataChange": True,
            }
        }

    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            _meta(
                schema,
                {"delta.enableDeletionVectors": "true"},
                partition_columns=["lang"],
            ),
            _padd(rel_en, size_en, "en"),
            _padd(rel_pt, size_pt, "pt:BR"),
        ],
    )
    # v1: the DV DELETE — remove + re-add of both paths with inline DVs
    readd_en = _padd(rel_en, size_en, "en", ts=T0 + 1000)
    readd_en["add"]["deletionVector"] = _dv.inline_dv_descriptor(_np.array([1]))
    readd_pt = _padd(rel_pt, size_pt, "pt:BR", ts=T0 + 1000)
    readd_pt["add"]["deletionVector"] = _dv.inline_dv_descriptor(_np.array([0]))
    _commit_json(
        root,
        1,
        [
            {
                "remove": {
                    "path": rel_en,
                    "deletionTimestamp": T0 + 1000,
                    "dataChange": True,
                    "partitionValues": {"lang": "en"},
                }
            },
            {
                "remove": {
                    "path": rel_pt,
                    "deletionTimestamp": T0 + 1000,
                    "dataChange": True,
                    "partitionValues": {"lang": "pt:BR"},
                }
            },
            readd_en,
            readd_pt,
            {
                "commitInfo": {
                    "timestamp": T0 + 1000,
                    "operation": "DELETE",
                    "operationParameters": {},
                }
            },
        ],
    )


def make_cdf_table() -> None:
    """Change-data-feed table as delta-spark writes it
    (delta.enableChangeDataFeed=true, writer feature changeDataFeed):
    an UPDATE commit carries ``cdc`` actions pointing at
    ``_change_data/`` files holding update_preimage/update_postimage
    rows — per the spec a CDF reader must use ONLY those actions for
    that commit (deriving from its add/remove would double-count and
    lose the update pairing). A later plain append has NO cdc actions
    and must derive as an insert.

    v0: rows (1,1.0),(2,2.0). v1: UPDATE id=1 → v=99.0 (file rewrite +
    cdc pre/postimage). v2: append (3,3.0), no cdc."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    root = os.path.join(DATA_DIR, "golden_delta_cdf")
    if os.path.isdir(root):
        shutil.rmtree(root)
    rel1 = "part-00000-ffff6666-0000-4000-8000-000000000000-c000.snappy.parquet"
    rel1b = "part-00000-ffff6666-0000-4000-8000-000000000001-c000.snappy.parquet"
    rel2 = "part-00000-ffff6666-0000-4000-8000-000000000002-c000.snappy.parquet"
    size1 = _write_plain_parquet(root, rel1, [(1, 1.0), (2, 2.0)])
    size1b = _write_plain_parquet(root, rel1b, [(1, 99.0), (2, 2.0)])
    size2 = _write_plain_parquet(root, rel2, [(3, 3.0)])
    cdc_rel = "_change_data/cdc-00000-aaaa7777-0000-4000-8000-000000000000-c000.snappy.parquet"
    cdc_dest = os.path.join(root, cdc_rel)
    os.makedirs(os.path.dirname(cdc_dest), exist_ok=True)
    _pq.write_table(
        _pa.table(
            {
                "id": _pa.array([1, 1], _pa.int64()),
                "v": _pa.array([1.0, 99.0], _pa.float64()),
                "_change_type": _pa.array(
                    ["update_preimage", "update_postimage"], _pa.string()
                ),
            }
        ),
        cdc_dest,
        compression="snappy",
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["changeDataFeed"],
                }
            },
            _meta(
                PLAIN_SCHEMA_STRING,
                {"delta.enableChangeDataFeed": "true"},
            ),
            _plain_add(rel1, size1),
        ],
    )
    _commit_json(
        root,
        1,
        [
            {
                "cdc": {
                    "path": cdc_rel,
                    "partitionValues": {},
                    "size": os.path.getsize(cdc_dest),
                    "dataChange": False,
                }
            },
            {
                "remove": {
                    "path": rel1,
                    "deletionTimestamp": T0 + 1000,
                    "dataChange": True,
                }
            },
            _plain_add(rel1b, size1b, ts=T0 + 1000),
            {
                "commitInfo": {
                    "timestamp": T0 + 1000,
                    "operation": "UPDATE",
                    "operationParameters": {"predicate": "id = 1"},
                }
            },
        ],
    )
    _commit_json(
        root,
        2,
        [
            _plain_add(rel2, size2, ts=T0 + 2000),
            {
                "commitInfo": {
                    "timestamp": T0 + 2000,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                }
            },
        ],
    )


def make_type_widening_table() -> None:
    """Reader v3 + typeWidening (delta 4.x): the schema's field metadata
    records widenings the READER must apply when older files carry the
    narrower parquet type. Round-10 posture: Spark promotes every
    spec-allowed conversion natively, so this is a POSITIVE fixture —
    one genuinely NARROW pre-widening file (int32 id, float32 v) plus a
    post-widening wide file; a faithful read returns every row at the
    widened types."""
    root = os.path.join(DATA_DIR, "golden_delta_tw")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    # v0: NARROW file written before the widening
    rel0 = "part-00000-dddd4444-0000-4000-8000-000000000000-c000.snappy.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int32()),
                "v": pa.array([1.5, 2.5], pa.float32()),
            }
        ),
        os.path.join(root, rel0),
        compression="snappy",
    )
    narrow_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "integer", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "float", "nullable": True,
                 "metadata": {}},
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening"],
                    "writerFeatures": ["typeWidening"],
                }
            },
            _meta(narrow_schema),
            _plain_add(rel0, os.path.getsize(os.path.join(root, rel0))),
        ],
    )
    # v1: ALTER widens id->long, v->double (typeChanges recorded), and a
    # WIDE file lands
    rel1 = "part-00001-dddd4444-0000-4000-8000-000000000001-c000.snappy.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "v": pa.array([3.5], pa.float64()),
            }
        ),
        os.path.join(root, rel1),
        compression="snappy",
    )
    wide_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.typeChanges": [
                            {"fromType": "integer", "toType": "long",
                             "tableVersion": 1}
                        ]
                    },
                },
                {
                    "name": "v",
                    "type": "double",
                    "nullable": True,
                    "metadata": {
                        "delta.typeChanges": [
                            {"fromType": "float", "toType": "double",
                             "tableVersion": 1}
                        ]
                    },
                },
            ],
        },
        separators=(",", ":"),
    )
    _commit_json(
        root,
        1,
        [
            _meta(wide_schema),
            _plain_add(rel1, os.path.getsize(os.path.join(root, rel1)),
                       T0 + 60000),
        ],
    )


def main_family() -> None:
    make_dv_table()
    make_column_mapping_table()
    make_writer_feature_table()
    make_invariants_table()
    make_checkpointed_table()
    make_ntz_table()
    make_v2_checkpoint_table()
    make_row_tracking_table()
    make_vacuum_protocol_check_table()
    make_column_mapping_id_table()
    make_column_mapping_nested_table()
    make_in_commit_timestamp_table()
    make_identity_table()
    make_variant_table()
    make_collations_table()
    make_type_widening_table()
    make_partitioned_dv_table()
    make_cdf_table()
    print(f"protocol/checkpoint fixture family written under {DATA_DIR}")


if __name__ == "__main__":
    main()
    main_family()
