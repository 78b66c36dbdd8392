"""Minimal Delta Lake protocol reader/writer — pure Python, no jar.

``versioned.py`` provides the engine's own commit-log tables; this module
speaks the actual **Delta transaction-log protocol** (the open spec:
``_delta_log/%020d.json`` commits containing ``protocol`` / ``metaData``
/ ``add`` / ``remove`` actions), so tables written here are readable by
real Delta implementations (delta-spark, delta-rs) and vice versa for
the supported subset. The reference stores every medallion layer in
Delta (notebooks/benchmarking_medallion.py:98-104,127,270-277); with no
Delta jar on this classpath, this is the engine-native way to still
produce/consume protocol-conformant tables.

Supported subset (documented, test-asserted):
- unpartitioned parquet tables, JSON commits PLUS parquet checkpoints
  (``%020d.checkpoint.parquet`` + ``_last_checkpoint``, written every
  ``CHECKPOINT_INTERVAL`` commits like real Delta's default-10): a
  snapshot read parses the newest checkpoint at-or-below the target
  version and only the JSON commits after it — O(interval) per read
  instead of O(V) at long table histories;
- append / overwrite writes, snapshot-isolated reads, time travel by
  version, history listing;
- schema evolution (``write_delta(merge_schema=True)`` — Delta's
  mergeSchema: new columns append via a fresh metaData action, old
  files read back with typed nulls), file-targeted ``delete_delta``
  (DELETE WHERE), log-only ``restore_delta`` (RESTORE VERSION AS OF),
  TBLPROPERTIES (``set_table_properties``), CHECK constraints
  (``add_constraint`` / ``drop_constraint`` stored as
  ``delta.constraints.*`` with the protocol gate raised to writer v3,
  enforced on every write/MERGE) and ``delta.appendOnly``;
- optimistic concurrency: commit N+1 is created with O_CREAT|O_EXCL;
  a losing writer RETRIES at the next version after a disjointness
  check (its read/remove set vs the rival's removes), raising
  ``DeltaConcurrentModification`` on a true conflict — Delta's
  optimistic-concurrency loop, not just its primitive.

Scale notes: the log is one small JSON per commit regardless of data
size; reads hand Spark an explicit file list, so scans keep columnar
pushdown/pruning.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sustainable_building_energy_benchmarking_pipeline_spark.session import DELTA_ACTIONS

_LOG_DIR = "_delta_log"


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _commit_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


def _list_versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and len(name) == 25:
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


# Parsed commits and checkpoints are memoized (``session.DELTA_ACTIONS``)
# so streaming micro-batches do not re-parse the whole log twice per
# batch (O(V²) over a stream's lifetime). Log files are immutable once
# published (the put-if-absent ``_commit``), so keys are (abspath,
# mtime_ns, size): a table recreated at the same path gets a different
# key. Callers get a two-level shallow COPY (``_copy_actions``) so one
# that annotates an action cannot corrupt every later replay.


def _copy_actions(actions: list[dict[str, Any]]) -> list[dict[str, Any]]:
    return [
        {k: (dict(v) if isinstance(v, dict) else v) for k, v in a.items()}
        for a in actions
    ]


def _read_actions(path: str, version: int) -> list[dict[str, Any]]:
    f = _commit_file(path, version)
    st = os.stat(f)
    key = (os.path.abspath(f), st.st_mtime_ns, st.st_size)
    hit = DELTA_ACTIONS.get(key)
    if hit is None:
        with open(f) as fh:
            hit = DELTA_ACTIONS.put(key, [json.loads(line) for line in fh if line.strip()])
    return _copy_actions(hit)


# ---------------------------------------------------------------------------
# Checkpoints — the Delta spec's read-path optimization: a parquet file
# holding the complete reconstructed state (protocol + metaData + active
# adds + latest txn per appId) at some version, plus a `_last_checkpoint`
# pointer. A reader starts from the newest checkpoint at-or-below its
# target version and replays only the JSON commits after it, turning the
# O(V) full-log replay into O(CHECKPOINT_INTERVAL) — the difference
# between milliseconds and minutes at a 10⁴-commit production history.
# JSON commits are retained (log cleanup is out of scope), so time travel
# to pre-checkpoint versions still works by replaying from zero (or an
# older checkpoint).

CHECKPOINT_INTERVAL = 10  # commits between auto-checkpoints (Delta default)

# Per-commit .crc checksum emission replays table state; past this many
# commits without a checkpoint the replay cost compounds O(V²), so
# emission pauses (with one visible warning) until a checkpoint lands —
# checksums are an optional consistency aid, never a correctness input.
CHECKSUM_MAX_REPLAY_COMMITS = 4 * CHECKPOINT_INTERVAL

_WARNED_TABLES: set[tuple[str, str]] = set()


def _warn_once(path: str, kind: str, message: str) -> None:
    """One warning per (table, kind) — log-maintenance degradation
    (failed checkpoints/checksums) must be VISIBLE, but a busy writer
    committing thousands of times must not flood stderr with the same
    diagnosis."""
    import logging

    key = (path, kind)
    if key in _WARNED_TABLES:
        return
    _WARNED_TABLES.add(key)
    logging.getLogger(__name__).warning(message)
# actions per checkpoint parquet before splitting into the spec's
# multi-part form (%020d.checkpoint.%010d.%010d.parquet) — bounds both
# writer and reader memory per file; 50k actions ≈ tens of MB of
# add-structs, the same order real Delta targets per part
CHECKPOINT_MAX_ACTIONS_PER_PART = 50_000


def _checkpoint_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.checkpoint.parquet")


def _checkpoint_part_file(path: str, version: int, part: int, parts: int) -> str:
    """Spec multi-part checkpoint name:
    ``%020d.checkpoint.%010d.%010d.parquet`` (version, 1-based part,
    total parts)."""
    return os.path.join(
        _log_dir(path), f"{version:020d}.checkpoint.{part:010d}.{parts:010d}.parquet"
    )


# both classic checkpoint forms: single-file and multi-part
_CP_NAME_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$"
)
# v2 ("uuid-named") checkpoint form: <version>.checkpoint.<uniqueStr>.parquet
# — disjoint from the multi-part form (whose middle segment contains a
# dot). v2 checkpoints carry a checkpointMetadata action and may move
# their add/remove actions into _delta_log/_sidecars/ files referenced
# by sidecar actions.
_CP_V2_NAME_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-zA-Z_-]+)\.parquet$"
)


def _checkpoint_parts(path: str, version: int) -> list[str] | None:
    """The complete on-disk file list of ``version``'s checkpoint —
    ``[single-file]`` or all N multi-part files in part order — or None
    when no complete checkpoint exists at that version (a PARTIAL
    multi-part set, e.g. a writer killed mid-checkpoint, is treated as
    absent: replay falls back to the previous checkpoint / full log)."""
    single = _checkpoint_file(path, version)
    if os.path.exists(single):
        return [single]
    d = _log_dir(path)
    if not os.path.isdir(d):
        return None
    prefix = f"{version:020d}.checkpoint."
    parts_total: int | None = None
    found: dict[int, str] = {}
    for name in os.listdir(d):
        if not name.startswith(prefix):
            continue
        m = _CP_NAME_RE.match(name)
        if not m or m.group(2) is None:
            continue
        part, total = int(m.group(2)), int(m.group(3))
        parts_total = total if parts_total is None else parts_total
        if total == parts_total:
            found[part] = os.path.join(d, name)
    if parts_total is not None and len(found) == parts_total:
        return [found[i] for i in range(1, parts_total + 1)]
    # v2 (uuid-named) checkpoint — written by engines with
    # checkpointPolicy=v2; several identical-content files may coexist
    # (concurrent checkpointers), any one is complete on its own
    v2 = sorted(
        name
        for name in os.listdir(d)
        if name.startswith(prefix)
        and _CP_V2_NAME_RE.match(name)
        and not _CP_NAME_RE.match(name)
    )
    if v2:
        return [os.path.join(d, v2[0])]
    return None


def _last_checkpoint_file(path: str) -> str:
    return os.path.join(_log_dir(path), "_last_checkpoint")


def _latest_checkpoint_version(path: str, at_or_below: int | None = None) -> int | None:
    """Newest checkpoint version ≤ ``at_or_below`` (None = any). The
    `_last_checkpoint` pointer is the O(1) fast path (the spec's purpose
    for it: avoid listing a huge _delta_log); the listdir scan covers
    time travel below the pointer and a torn/missing pointer."""
    try:
        with open(_last_checkpoint_file(path)) as f:
            v = int(json.load(f)["version"])
        if (at_or_below is None or v <= at_or_below) and _checkpoint_parts(
            path, v
        ) is not None:
            return v
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        pass
    d = _log_dir(path)
    if not os.path.isdir(d):
        return None
    candidates: set[int] = set()
    for name in os.listdir(d):
        m = _CP_NAME_RE.match(name) or _CP_V2_NAME_RE.match(name)
        if not m:
            continue
        v = int(m.group(1))
        if at_or_below is not None and v > at_or_below:
            continue
        candidates.add(v)
    for v in sorted(candidates, reverse=True):
        if _checkpoint_parts(path, v) is not None:
            return v
    return None


def _checkpoint_schema(v2: bool = False, sidecar_only: bool = False):
    """The parquet schema of a checkpoint file this engine writes.
    ``v2=True`` (delta.checkpointPolicy=v2, round-10) appends the
    spec-required ``checkpointMetadata`` column plus the ``sidecar``
    reference column; ``sidecar_only=True`` is the narrow schema of a
    ``_sidecars/`` file (file actions only). Classic checkpoints keep
    the exact historical column set — external readers of our classic
    files see no vocabulary drift."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    extra = []
    if v2:
        extra = [
            (
                "checkpointMetadata",
                pa.struct([("version", pa.int64()), ("tags", str_map)]),
            ),
            (
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    base = pa.schema(
        [
            (
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # rowTracking: baseRowId/defaultRowCommitVersion
                        # must survive checkpointing or log cleanup would
                        # corrupt every file's row-id assignment
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        # DV descriptors must survive checkpointing — a
                        # checkpoint that drops them would resurrect
                        # every DV-deleted row after log cleanup
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("name", pa.string()),
                        ("description", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", str_map)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # feature lists must survive checkpoint + log
                        # cleanup: a checkpoint that drops them would
                        # reconstruct a featureless v3/v7 protocol and
                        # launder the read/write gates away (round-7
                        # advice finding)
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                # rowTracking's high-water mark (and any other engine's
                # named domain state) must survive log cleanup
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
        + extra
    )
    if sidecar_only:
        return pa.schema([base.field("add"), base.field("remove")])
    return base


def _as_tuples(d: dict | None) -> list | None:
    """Map-typed struct fields want list-of-(key, value) pairs."""
    return None if d is None else list(d.items())


def _read_checkpoint_actions(path: str, version: int) -> list[dict[str, Any]]:
    """Checkpoint parquet(s) → the same action-dict shape `_read_actions`
    yields for JSON commits, via the same immutable-file cache. Handles
    both single-file and multi-part checkpoints (action order across
    parts is immaterial to replay: parts partition the action set)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _checkpoint_parts(path, version)
    if files is None:
        raise FileNotFoundError(
            f"no complete checkpoint at version {version} of {path}"
        )
    key = tuple(
        (os.path.abspath(f), os.stat(f).st_mtime_ns, os.stat(f).st_size)
        for f in files
    )
    hit = DELTA_ACTIONS.get(key)
    if hit is None:

        def _rows_to_actions(tbl) -> tuple[list[dict], list[str]]:
            actions: list[dict] = []
            sidecars: list[str] = []
            for row in tbl.to_pylist():
                sc = row.get("sidecar")
                if sc and sc.get("path"):
                    # v2 checkpoint: add/remove actions live in the
                    # referenced _sidecars/ parquet — resolve below,
                    # never surface the sidecar action itself
                    sidecars.append(sc["path"])
                    continue
                for kind in (
                    "protocol",
                    "metaData",
                    "txn",
                    "add",
                    "remove",
                    "domainMetadata",
                ):
                    payload = row.get(kind)
                    if payload is None:
                        continue
                    payload = {
                        k: v for k, v in payload.items() if v is not None
                    }
                    # map-typed fields come back as [(k, v), ...] pairs
                    for mk in ("partitionValues", "configuration"):
                        if isinstance(payload.get(mk), list):
                            payload[mk] = dict(payload[mk])
                    fmt = payload.get("format")
                    if isinstance(fmt, dict) and isinstance(
                        fmt.get("options"), list
                    ):
                        fmt["options"] = dict(fmt["options"])
                    actions.append({kind: payload})
            return actions, sidecars

        tbl = pa.concat_tables(
            [pq.read_table(f) for f in files], promote_options="permissive"
        )
        hit, sidecar_rels = _rows_to_actions(tbl)
        for rel in sidecar_rels:
            # the spec encourages bare file names under _sidecars/ but
            # allows paths; resolve absolute local paths directly and
            # refuse non-file URI schemes with a protocol error instead
            # of a misleading FileNotFoundError under _sidecars/
            if "://" in rel:
                if rel.startswith("file://"):
                    sp = rel[len("file://"):]
                else:
                    raise DeltaUnsupportedProtocol(
                        f"sidecar of checkpoint {version} at {path} uses "
                        f"a URI scheme this reader cannot access: {rel!r}"
                    )
            elif os.path.isabs(rel):
                sp = rel
            else:
                sp = os.path.join(_log_dir(path), "_sidecars", rel)
            # sidecar content is immutable once referenced, so caching
            # under the MAIN file's key stays correct
            side_actions, nested = _rows_to_actions(pq.read_table(sp))
            if nested:
                raise ValueError(
                    f"sidecar {rel} of checkpoint {version} references "
                    "further sidecars — not a legal v2 checkpoint"
                )
            hit.extend(side_actions)
        DELTA_ACTIONS.put(key, hit)
    return _copy_actions(hit)


def write_checkpoint(path: str, version: int | None = None) -> int:
    """Write the checkpoint parquet for ``version`` (default: latest)
    plus the `_last_checkpoint` pointer; returns the checkpointed
    version. Pure pyarrow — no SparkSession needed, so maintenance can
    run anywhere the log is reachable. Idempotent: checkpoint content is
    a pure function of the immutable log prefix, so a concurrent
    duplicate write is harmless (last writer wins with identical bytes).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    if version is None:
        version = versions[-1]
    active, schema, partition_cols, meta = _replay(path, version)
    txns = _collect_txns(path, version)

    proto = _latest_protocol(path, version)
    cp_proto: dict[str, Any] = {
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        # round-trip feature lists verbatim (None when absent so the
        # parquet column stays null for pre-feature tables) — see
        # _checkpoint_schema
        "readerFeatures": (
            list(proto["readerFeatures"])
            if proto.get("readerFeatures") is not None
            else None
        ),
        "writerFeatures": (
            list(proto["writerFeatures"])
            if proto.get("writerFeatures") is not None
            else None
        ),
    }
    rows: list[dict[str, Any]] = [
        {"protocol": cp_proto},
        {
            "metaData": {
                "id": meta.get("id"),
                "name": meta.get("name"),
                "description": meta.get("description"),
                "format": {
                    "provider": meta.get("format", {}).get("provider", "parquet"),
                    "options": _as_tuples(meta.get("format", {}).get("options", {})),
                },
                "schemaString": meta["schemaString"],
                "partitionColumns": list(partition_cols),
                "configuration": _as_tuples(meta.get("configuration", {})),
                "createdTime": meta.get("createdTime"),
            }
        },
    ]
    rows.extend(
        {
            "txn": {"appId": app_id, "version": int(txn_v)}
        }
        for app_id, txn_v in sorted(txns.items())
    )
    rows.extend(
        {
            "domainMetadata": {
                "domain": dm.get("domain"),
                "configuration": dm.get("configuration"),
                "removed": bool(dm.get("removed", False)),
            }
        }
        for _domain, dm in sorted(_collect_domain_metadata(path, version).items())
    )
    add_rows: list[dict[str, Any]] = []
    for rel in sorted(active):
        a = active[rel]
        dv = a.get("deletionVector")
        add_rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": _as_tuples(a.get("partitionValues", {})),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "dataChange": bool(a.get("dataChange", True)),
                    "stats": a.get("stats"),
                    "baseRowId": a.get("baseRowId"),
                    "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
                    "deletionVector": (
                        {
                            "storageType": dv.get("storageType"),
                            "pathOrInlineDv": dv.get("pathOrInlineDv"),
                            "offset": dv.get("offset"),
                            "sizeInBytes": dv.get("sizeInBytes"),
                            "cardinality": dv.get("cardinality"),
                        }
                        if dv
                        else None
                    ),
                }
            }
        )
    if meta.get("configuration", {}).get(
        "delta.checkpointPolicy"
    ) == "v2" and "v2Checkpoint" in (
        set(proto.get("readerFeatures") or [])
        & set(proto.get("writerFeatures") or [])
    ):
        # v2 checkpoint (round-10, delta.checkpointPolicy=v2): ONE
        # uuid-named file carrying the spec-required checkpointMetadata
        # action; above the per-file action cap the FILE actions move to
        # _sidecars/ parquets referenced by sidecar actions (the spec's
        # own scale valve), keeping every parquet write memory-bounded.
        # The same durability dance: sidecars and the checkpoint land
        # fully before the _last_checkpoint pointer flips.
        # Emitted ONLY when the protocol lists v2Checkpoint on BOTH
        # sides (ADVICE r10): a classic reader following _last_checkpoint
        # cannot resolve a uuid-named file, and once cleanup_log drops
        # the commits below it the table would become unreadable to it —
        # a config key without the feature falls back to classic format.
        head = [
            {"checkpointMetadata": {"version": version, "tags": None}}
        ] + rows
        if len(add_rows) > CHECKPOINT_MAX_ACTIONS_PER_PART:
            side_dir = os.path.join(_log_dir(path), "_sidecars")
            os.makedirs(side_dir, exist_ok=True)
            now_ms = int(time.time() * 1000)
            for i in range(
                0, len(add_rows), CHECKPOINT_MAX_ACTIONS_PER_PART
            ):
                chunk_rows = add_rows[i : i + CHECKPOINT_MAX_ACTIONS_PER_PART]
                side_tbl = pa.Table.from_pylist(
                    chunk_rows, schema=_checkpoint_schema(sidecar_only=True)
                )
                side_name = f"{uuid.uuid4().hex}.parquet"
                dest = os.path.join(side_dir, side_name)
                tmp = dest + f".{uuid.uuid4().hex}.tmp"
                pq.write_table(side_tbl, tmp)
                os.replace(tmp, dest)
                head.append(
                    {
                        "sidecar": {
                            "path": side_name,
                            "sizeInBytes": os.path.getsize(dest),
                            "modificationTime": now_ms,
                        }
                    }
                )
        else:
            head.extend(add_rows)
        table = pa.Table.from_pylist(head, schema=_checkpoint_schema(v2=True))
        cp = os.path.join(
            _log_dir(path),
            f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet",
        )
        tmp = cp + f".{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, cp)
        # the pointer's "size" = the number of actions the checkpoint
        # STORES — when spilled, that is the head's NON-sidecar actions
        # plus the file actions living in the sidecars: counting the
        # sidecar reference actions on top of the adds they reference
        # would inflate the figure external consumers see (ADVICE r10)
        if len(add_rows) > CHECKPOINT_MAX_ACTIONS_PER_PART:
            n_sidecars = sum(1 for a in head if "sidecar" in a)
            n = (len(head) - n_sidecars) + len(add_rows)
        else:
            n = len(head)
        ptr = json.dumps({"version": version, "size": n})
        ptr_tmp = _last_checkpoint_file(path) + f".{uuid.uuid4().hex}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(ptr)
        os.replace(ptr_tmp, _last_checkpoint_file(path))
        return version

    rows.extend(add_rows)
    table = pa.Table.from_pylist(rows, schema=_checkpoint_schema())
    # same durability-then-visibility dance as commits: the pointer must
    # never name a checkpoint that is not fully on disk. Above
    # CHECKPOINT_MAX_ACTIONS_PER_PART actions the checkpoint splits into
    # the spec's multi-part form (version.part.parts), keeping every
    # parquet write (and later read) memory-bounded — the single-file
    # form capped metadata scale at ~10⁶ add actions (round-5 finding).
    # Parts become visible before the pointer flips; a reader racing the
    # writer sees either the complete previous checkpoint or (once all
    # parts exist) the new one — _checkpoint_parts treats a partial part
    # set as absent.
    n = table.num_rows
    if n > CHECKPOINT_MAX_ACTIONS_PER_PART:
        parts = -(-n // CHECKPOINT_MAX_ACTIONS_PER_PART)
        for i in range(parts):
            chunk = table.slice(
                i * CHECKPOINT_MAX_ACTIONS_PER_PART, CHECKPOINT_MAX_ACTIONS_PER_PART
            )
            dest = _checkpoint_part_file(path, version, i + 1, parts)
            tmp = dest + f".{uuid.uuid4().hex}.tmp"
            pq.write_table(chunk, tmp)
            os.replace(tmp, dest)
        ptr = json.dumps({"version": version, "size": n, "parts": parts})
    else:
        cp = _checkpoint_file(path, version)
        tmp = cp + f".{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, cp)
        ptr = json.dumps({"version": version, "size": n})
    ptr_tmp = _last_checkpoint_file(path) + f".{uuid.uuid4().hex}.tmp"
    with open(ptr_tmp, "w") as f:
        f.write(ptr)
    os.replace(ptr_tmp, _last_checkpoint_file(path))
    return version


def _latest_metadata(path: str, version: int) -> dict[str, Any]:
    """The newest metaData action at-or-below ``version`` (checkpoint-
    accelerated like any replay)."""
    cp = _latest_checkpoint_version(path, at_or_below=version)
    meta: dict[str, Any] | None = None
    if cp is not None:
        for action in _read_checkpoint_actions(path, cp):
            if "metaData" in action:
                meta = action["metaData"]
    for v in _list_versions(path):
        if (cp is not None and v <= cp) or v > version:
            continue
        for action in _read_actions(path, v):
            if "metaData" in action:
                meta = action["metaData"]
    if meta is None:
        raise ValueError(f"Delta log at {path} has no metaData action")
    return meta


def _latest_protocol(path: str, version: int) -> dict[str, Any]:
    """The newest protocol action at-or-below ``version`` — checkpoints
    must re-emit the UPGRADED protocol (e.g. minWriterVersion 3 after a
    CHECK constraint lands), not the table-creation default, or a
    post-checkpoint reader would believe the feature gate never rose."""
    proto: dict[str, Any] = {"minReaderVersion": 1, "minWriterVersion": 2}
    cp = _latest_checkpoint_version(path, at_or_below=version)
    if cp is not None:
        for action in _read_checkpoint_actions(path, cp):
            if "protocol" in action:
                proto = action["protocol"]
    for v in _list_versions(path):
        if (cp is not None and v <= cp) or v > version:
            continue
        for action in _read_actions(path, v):
            if "protocol" in action:
                proto = action["protocol"]
    return proto


class DeltaUnsupportedProtocol(Exception):
    """The table's ``protocol`` action demands reader/writer capabilities
    this implementation does not have. The Delta spec REQUIRES refusal:
    a reader that ignores ``minReaderVersion`` silently returns wrong
    rows (deletion vectors ignored → deleted rows resurface; column
    mapping ignored → physical instead of logical column names), and a
    writer that ignores ``minWriterVersion`` corrupts invariants it
    never heard of. Wrong-but-plausible output is the one failure mode
    worse than an error."""


# Reader capability ceiling. This implementation targets reader
# protocol v1 (plain add/remove replay over parquet data files) plus:
# - column mapping, BOTH modes (reader v2, or v3 listing the
#   ``columnMapping`` feature): name mode resolves physical parquet
#   column names to logical schema names via
#   ``delta.columnMapping.physicalName`` field metadata — the protocol
#   every delta-spark 3.x table that ever RENAMEd a column carries;
#   id mode (round-9, the iceberg-conversion path, where parquet
#   column names match NEITHER logical nor physical names) resolves by
#   parquet field id through Spark's native
#   ``spark.sql.parquet.fieldId.read.enabled`` reader, with
#   ``parquet.field.id`` = ``delta.columnMapping.id`` stamped on the
#   requested schema (see ``_reader_schema``);
# - deletion vectors (reader v3 + ``deletionVectors``): roaring-bitmap
#   row-index sets on add actions, applied as an anti-join on
#   ``_metadata.row_index`` — the protocol every table that ran a
#   modern row-level DELETE/UPDATE/MERGE carries (see
#   sources/deletion_vectors.py for the byte formats).
# - timestampNtz (reader v3 + ``timestampNtz``): TIMESTAMP WITHOUT
#   TIME ZONE columns — the schemaString's ``timestamp_ntz`` parses to
#   TimestampNTZType and Spark reads the isAdjustedToUTC=false parquet
#   natively, so support is declarative (test-asserted).
# - v2Checkpoint (reader v3 + ``v2Checkpoint``): uuid-named checkpoint
#   files carrying a checkpointMetadata action, with add/remove
#   actions optionally moved to _delta_log/_sidecars/ files referenced
#   by sidecar actions — discovered in ``_checkpoint_parts`` and
#   resolved in ``_read_checkpoint_actions``.
# - vacuumProtocolCheck (reader v3 + ``vacuumProtocolCheck``): the
#   feature's only requirement on READERS is nothing at all (it
#   regulates VACUUM, which checks the write gate — see
#   ``vacuum_delta``), so declaring support is the spec-correct move:
#   refusing would lock out tables that are byte-identical to readable
#   ones.
# - typeWidening (reader v3 + ``typeWidening``/-preview, round-10):
#   the schemaString carries the WIDENED type while pre-widening files
#   keep the narrow physical type; Spark's parquet reader promotes
#   every spec-allowed conversion natively (int-family upcasts,
#   float→double, int→double, date→timestampNtz, decimal
#   precision/scale growth, int→decimal — all empirically verified), so
#   reading with the current schema is already faithful. The per-field
#   ``delta.typeChanges`` records are still VALIDATED against that
#   allowlist (``_check_type_changes``) — an unknown future conversion
#   refuses instead of mis-promoting.
# - variantType (reader v3 + ``variantType``/-preview, round-11):
#   schemaString type ``"variant"`` parses to Spark's native
#   VariantType; on disk a variant column is a parquet group with two
#   binary fields ``value`` + ``metadata`` holding the spec's Variant
#   binary encoding (parquet-format VariantEncoding.md). Spark 4.x
#   reads BOTH physical spellings natively under a VariantType read
#   schema — the modern annotated parquet VARIANT logical type and the
#   bare unannotated struct older writers emit (empirically verified,
#   test-asserted on a hand-built unannotated golden fixture), so
#   support is declarative. ``variantShredding-preview`` (typed_value
#   shredded columns) stays OUTSIDE the set and refuses — shredded
#   files change what bytes mean.
# Any remaining reader features change
# what bytes mean on disk and are refused. Per spec, minReaderVersion 3
# tables list their requirements in ``readerFeatures`` and MAY be
# readable if every listed feature is supported (an empty list is
# legal and degenerate-v1).
_SUPPORTED_READER_VERSION = 1
_SUPPORTED_READER_FEATURES: frozenset[str] = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "timestampNtz",
        "v2Checkpoint",
        "vacuumProtocolCheck",
        "typeWidening",
        "typeWidening-preview",
        "variantType",
        "variantType-preview",
    }
)

# Writer capability ceiling. v2 = column invariants (ENFORCED at write
# time, round-12: every row-adding path evaluates the schema's
# ``delta.invariants`` expressions against the staged files with
# false-or-null-violates semantics — see _invariant_exprs /
# _violated_constraint; only an unparseable declaration refuses),
# v3 = CHECK constraints (enforced: see add_constraint /
# the write-path constraint evaluation). minWriterVersion 7 tables list
# ``writerFeatures``; we can commit iff every listed feature is one we
# actually enforce. ``deletionVectors`` is upheld by APPLY-AND-REWRITE
# (round-9): this writer never EMITS a DV, but every file-rewriting op
# (DELETE/MERGE/OPTIMIZE) reads DV-bearing files through
# ``_apply_deletion_vectors`` and commits the survivor rows WITHOUT a
# DV — the spec-sanctioned materialization posture, so deleted rows can
# never resurrect and appends stay trivially safe.
# ``vacuumProtocolCheck`` requires exactly one thing of a writer: that
# VACUUM re-check the protocol gates before deleting files —
# ``vacuum_delta`` does (both read and write gates), so the feature is
# upheld, not merely tolerated.
# ``timestampNtz`` (round-10) requires writers to store TIMESTAMP
# WITHOUT TIME ZONE columns as isAdjustedToUTC=false parquet — Spark's
# native TimestampNTZType writer shape, and schema enforcement pins
# every write to the table's declared types, so the obligation holds on
# every path; ``write_delta`` declares the feature (both protocol
# sides) when CREATING a table whose schema carries an ntz column.
# ``inCommitTimestamp`` (round-10, default-on in newer runtimes) is
# upheld at the single commit choke point: ``_commit_with_retry``
# re-stamps commitInfo with a strictly monotonic ``inCommitTimestamp``
# and moves it to the FIRST action on every attempt whenever
# delta.enableInCommitTimestamps=true — see
# ``_stamp_in_commit_timestamp``.
# ``v2Checkpoint`` (round-10) obliges a writer to write V2-format
# checkpoints when delta.checkpointPolicy=v2 — ``write_checkpoint``
# does (uuid-named file + checkpointMetadata action, file actions
# spilling to _sidecars/ above the per-file cap); classic-policy
# tables that merely LIST the feature keep getting classic checkpoints,
# both of which ``_checkpoint_parts`` discovers.
# ``domainMetadata`` (round-10) asks a writer to (a) persist domain
# actions through checkpoints (``write_checkpoint`` round-trips them,
# tombstones included) and (b) never emit actions for domains it does
# not own — this engine writes only ``delta.rowTracking`` (on
# rowTracking tables) and ``delta.clustering`` (round-12: clustered-
# table CREATE and set_clustering_columns); foreign domains replay
# through untouched.
# ``clustering`` (round-10, the liquid-clustering marker default-on in
# newer DBR): its writer obligation is preserving the
# ``delta.clustering`` domain metadata — upheld by the domainMetadata
# machinery above; clustering itself is best-effort physical layout
# (``optimize_delta(zorder_by=...)`` is the re-clustering lever).
_SUPPORTED_WRITER_VERSION = 3
_SUPPORTED_WRITER_FEATURES: frozenset[str] = frozenset(
    {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "deletionVectors",
        "vacuumProtocolCheck",
        "timestampNtz",
        "inCommitTimestamp",
        "v2Checkpoint",
        "domainMetadata",
        "clustering",
        # typeWidening's writer duties: never narrow a type (schema
        # evolution refuses type changes outright) and write new files
        # at the CURRENT schema's types (schema enforcement pins every
        # write to the declared types) — both held by construction
        "typeWidening",
        "typeWidening-preview",
        # variantType's writer duty is storing variant values in the
        # spec's binary encoding — Spark's native VariantType parquet
        # writer IS that encoding (annotated group<value, metadata>),
        # and schema enforcement pins writes to the declared type.
        # write_delta declares the feature (both protocol sides) when
        # CREATING a table whose schema carries a variant column; the
        # one knowing trade-off is stats: pyarrow cannot open VARIANT-
        # annotated footers, so adds of variant-bearing files land
        # stats-less (legal — stats are optional) until the footer
        # library catches up (see _file_stats).
        "variantType",
        "variantType-preview",
        # NOT here, deliberately: icebergCompatV1/V2 (UniForm). Reads
        # pass (writer-only feature; the parquet is ordinary Delta,
        # test-asserted) but writes refuse — conforming writes must
        # materialize partition values into data files, stamp nested
        # parquet field ids, and keep DVs off, and a half-held
        # obligation would silently corrupt the table's Iceberg mirror.
        # collations (round-11, writer-only: string BYTES are plain
        # UTF-8, so readers without the feature still read correctly —
        # Spark 4.x parses the spec's __COLLATIONS field metadata into
        # collated StringTypes natively, making our reads comparison-
        # faithful for free). Writer duties upheld: (a) the schemaString
        # (with __COLLATIONS) ships verbatim on appends and DML; (b) no
        # binary-order min/max is ever emitted for a collated column
        # (_collated_top_columns → _file_stats skip_minmax), and stats/
        # partition pruning on collated columns is disabled — binary
        # bounds cannot answer collated comparisons.
        "collations-preview",
    }
)


def _column_mapping_mode(meta: dict[str, Any] | None) -> str:
    """The table's ``delta.columnMapping.mode`` ("none" when unset)."""
    return (meta or {}).get("configuration", {}).get(
        "delta.columnMapping.mode", "none"
    )


def _check_read_protocol(
    proto: dict[str, Any], path: str, cm_mode: str = "none"
) -> None:
    """Raise ``DeltaUnsupportedProtocol`` unless this reader can
    faithfully reconstruct the table — the spec-mandated refusal gate
    every snapshot/CDF/streaming read passes through (``_replay``).
    ``cm_mode`` is the table's column-mapping mode: "name" (physical→
    logical resolution via schema field metadata) and "id" (parquet
    field-id resolution through Spark's native
    ``spark.sql.parquet.fieldId.read.enabled`` path, round-9) are both
    supported; anything else is unknown vocabulary and refuses."""
    v = int(proto.get("minReaderVersion", 1))
    feats = set(proto.get("readerFeatures") or [])
    if cm_mode not in ("none", "name", "id"):
        raise DeltaUnsupportedProtocol(
            f"Delta table at {path} declares an unknown column-mapping "
            f"mode {cm_mode!r} — refusing rather than resolve columns "
            "wrongly"
        )
    if v <= _SUPPORTED_READER_VERSION:
        return
    if v == 2:
        # reader v2 == column-mapping capability (no feature list);
        # mode "none" is the degenerate upgraded-but-unmapped table
        return
    if v == 3 and feats <= _SUPPORTED_READER_FEATURES:
        return
    raise DeltaUnsupportedProtocol(
        f"Delta table at {path} requires minReaderVersion={v}"
        + (f" with readerFeatures={sorted(feats)}" if feats else "")
        + f", but this reader supports version <= {_SUPPORTED_READER_VERSION}"
        + f" (or 2/3 with features within "
        f"{sorted(_SUPPORTED_READER_FEATURES)})"
        + " — refusing to read rather than silently misinterpret the log "
        "(e.g. ignored deletion vectors would resurface deleted rows)"
    )


def _physical_type(
    dt: T.DataType, with_field_ids: bool = False
) -> T.DataType:
    """The PHYSICAL (on-parquet) shape of a logical data type under
    column mapping: struct field names are replaced by their
    ``delta.columnMapping.physicalName`` metadata at every nesting
    level (arrays/maps recurse); non-struct types are unchanged.

    ``with_field_ids=True`` (id-mode) additionally stamps each field
    with ``parquet.field.id`` = ``delta.columnMapping.id`` — the
    metadata key Spark's parquet reader resolves columns BY when
    ``spark.sql.parquet.fieldId.read.enabled`` is on, which is how
    id-mode tables (typically iceberg conversions, whose parquet
    column names match NEITHER logical nor Delta physical names) read
    correctly."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            meta = None
            if with_field_ids and "delta.columnMapping.id" in f.metadata:
                meta = {"parquet.field.id": int(f.metadata["delta.columnMapping.id"])}
            fields.append(
                T.StructField(
                    f.metadata.get("delta.columnMapping.physicalName", f.name),
                    _physical_type(f.dataType, with_field_ids),
                    f.nullable,
                    metadata=meta,
                )
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _physical_type(dt.elementType, with_field_ids), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType, with_field_ids),
            _physical_type(dt.valueType, with_field_ids),
            dt.valueContainsNull,
        )
    return dt


def _present_logical(
    df: DataFrame, schema: T.StructType, cm_mode: str, extras: tuple = ()
) -> DataFrame:
    """Project a physically-named frame to LOGICAL columns in schema
    order, carrying ``extras`` (e.g. the _f/_ridx metadata columns the
    DML verbs thread through) untouched. Identity projection when the
    table has no column mapping."""
    from pyspark.sql import functions as F

    if cm_mode not in ("name", "id"):
        return df.select(*schema.fieldNames(), *extras)
    cols = [
        F.col(_physical_name(f)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols, *[F.col(e) for e in extras])


def _physical_frame(
    df: DataFrame, schema: T.StructType, cm_mode: str, extras: tuple = ()
) -> DataFrame:
    """The write-side twin of ``_present_logical``: rename a LOGICAL
    frame to the table's physical column names (nested struct fields by
    same-shape cast; id mode stamps ``parquet.field.id`` alias metadata
    so Spark's parquet writer emits real field ids). Identity (schema-
    order select) without column mapping. ``extras`` (e.g. the
    ``_change_type`` column of a change-data-file write) ride along
    untouched."""
    from pyspark.sql import functions as F

    if cm_mode not in ("name", "id"):
        return df.select(*schema.fieldNames(), *extras)
    cols = []
    for f in schema.fields:
        c = F.col(f.name).cast(_physical_type(f.dataType))
        if cm_mode == "id" and "delta.columnMapping.id" in f.metadata:
            c = c.alias(
                _physical_name(f),
                metadata={
                    "parquet.field.id": int(f.metadata["delta.columnMapping.id"])
                },
            )
        else:
            c = c.alias(_physical_name(f))
        cols.append(c)
    return df.select(*cols, *[F.col(e) for e in extras])


def _schema_has_ntz(dt: T.DataType) -> bool:
    """True when the type carries TIMESTAMP WITHOUT TIME ZONE anywhere —
    the trigger for declaring the ``timestampNtz`` protocol feature."""
    if isinstance(dt, T.TimestampNTZType):
        return True
    if isinstance(dt, T.StructType):
        return any(_schema_has_ntz(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _schema_has_ntz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_has_ntz(dt.keyType) or _schema_has_ntz(dt.valueType)
    return False


def _schema_has_variant(dt: T.DataType) -> bool:
    """True when the type carries VARIANT anywhere — the trigger for
    declaring the ``variantType`` protocol feature (reader v3 + writer
    v7, like ntz: the bytes are meaningless to a reader that does not
    know the Variant binary encoding)."""
    if isinstance(dt, T.VariantType):
        return True
    if isinstance(dt, T.StructType):
        return any(_schema_has_variant(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _schema_has_variant(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_has_variant(dt.keyType) or _schema_has_variant(
            dt.valueType
        )
    return False


def _is_collated_string(dt: T.DataType) -> bool:
    """True for a StringType carrying a non-default collation (Spark
    4.x parses the spec's ``__COLLATIONS`` field-metadata sidecar into
    collated StringTypes natively)."""
    return isinstance(dt, T.StringType) and dt != T.StringType()


def _collated_top_columns(schema: T.StructType, cm_mode: str) -> frozenset[str]:
    """PHYSICAL names of top-level collated string columns — the
    columns whose footer min/max must never reach the log (binary
    parquet order is not collated order: a reader data-skipping with
    collated comparisons against binary bounds would wrongly drop
    files) and whose stats/partition pruning must stay off."""
    return frozenset(
        (_physical_name(f) if cm_mode in ("name", "id") else f.name)
        for f in schema.fields
        if _is_collated_string(f.dataType)
    )


def _schema_has_collation(dt: T.DataType) -> bool:
    """True when the type carries a collated string anywhere — the
    trigger for declaring the ``collations-preview`` writer feature."""
    if _is_collated_string(dt):
        return True
    if isinstance(dt, T.StructType):
        return any(_schema_has_collation(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _schema_has_collation(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_has_collation(dt.keyType) or _schema_has_collation(
            dt.valueType
        )
    return False


def _plain_type(dt: T.DataType) -> T.DataType:
    """``dt`` with all struct-field metadata stripped, recursively —
    schema compatibility compares names+types; field metadata (column-
    mapping bookkeeping, comments) is not a data incompatibility.
    Collated strings normalize to plain StringType for the same reason:
    collation changes COMPARISON semantics, not the bytes on disk, so a
    plain-string batch appends into a collated column verbatim
    (delta-spark accepts the same write)."""
    if _is_collated_string(dt):
        return T.StringType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _plain_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_plain_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _plain_type(dt.keyType),
            _plain_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _reader_schema(schema: T.StructType, cm_mode: str) -> T.StructType:
    """The schema handed to ``spark.read.schema`` for a given
    column-mapping mode: logical as-is for "none", physical names for
    "name", physical names + parquet field ids for "id"."""
    if cm_mode == "name":
        return _physical_type(schema)
    if cm_mode == "id":
        return _physical_type(schema, with_field_ids=True)
    return schema


def _physical_name(field: T.StructField) -> str:
    return field.metadata.get("delta.columnMapping.physicalName", field.name)


# Above this many total deleted rows the DV bitmaps decode on executors
# (mapInPandas over the descriptor list) instead of the driver — a
# 100 TB table's DVs can carry billions of row indexes, while the common
# case (a few row-level deletes) is a handful of tiny bitmaps where the
# extra Spark job costs more than the driver decode.
DV_DRIVER_DECODE_MAX = 1_000_000


def _data_file(path: str, p: str) -> str:
    """Resolve an add/remove action's ``path`` to a local filesystem
    path. The spec allows RELATIVE paths (the norm — resolved against
    the table root) or ABSOLUTE paths/URIs — what SHALLOW CLONE
    produces, each add pointing into the SOURCE table's directory.
    file:// URIs are percent-decoded (delta-spark URL-encodes absolute
    URIs); other schemes refuse with a protocol error instead of a
    misleading FileNotFoundError. Relative paths stay VERBATIM — in
    this engine's logs (and its golden fixtures) the stored relative
    path IS the on-disk name, hive escaping included. Both URI
    spellings resolve — ``file:///abs`` (RFC form) and ``file:/abs``
    (what Hadoop Path.toString emits) — with an empty or ``localhost``
    authority; any other authority or scheme refuses by name."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", p):
        from urllib.parse import unquote, urlparse

        u = urlparse(p)
        if u.scheme != "file" or (u.netloc and u.netloc != "localhost"):
            raise DeltaUnsupportedProtocol(
                f"data file of Delta table at {path} uses a URI this "
                f"engine cannot access: {p!r}"
            )
        return unquote(u.path)
    return os.path.join(path, p)  # absolute p wins the join, per posix


def _scanned_key_map(path: str, keys) -> dict[str, str]:
    """Absolute scanned-file path → the log's stored path key, for
    mapping a scan's ``_metadata.file_path`` hits back onto add
    actions. Explicit lookup instead of relpath-against-the-table-root
    arithmetic: SHALLOW CLONE adds are ABSOLUTE paths into the source
    directory, where relpath would fabricate ``../src/...`` keys that
    match nothing."""
    return {os.path.abspath(_data_file(path, k)): k for k in keys}


def _has_external_paths(rels) -> bool:
    """True when any add/remove path is absolute or a URI — the SHALLOW
    CLONE layout, where data files live under the SOURCE table's root
    and a clone-rooted ``basePath`` cannot resolve them."""
    return any(os.path.isabs(r) or "://" in r for r in rels)


def _partitioned_scan(
    spark: SparkSession,
    path: str,
    read_schema: T.StructType,
    rels_sorted: list[str],
    pvals_of: dict[str, dict],
    schema: T.StructType,
    partition_cols: list[str],
    cm_mode: str,
):
    """Open the given files of the table as ``(df, finish)`` with
    partition columns present (PHYSICAL names under column mapping —
    the same shape the basePath hive scan produces).

    Normal layout (every path relative): hive-dir inference via
    ``basePath`` — free, and Catalyst's partition-aware scan shape is
    preserved. ``finish`` is the identity.

    Shallow-clone layout (any absolute/URI path): partition columns
    attach from the actions' ``partitionValues`` — the spec's
    AUTHORITATIVE per-file copy (Delta protocol, Add File; the hive dir
    names are a layout convention, not the source of truth) — via ONE
    broadcast map join (≤ one row per scanned file) keyed on the data
    file's last ``len(partition_cols)+1`` path components (the same
    keying the DV machinery uses: a partitioned Spark write legally
    REPEATS one part basename across its hive dirs, so the partition
    dirs must ride in the key; the suffix is opaque — non-hive
    external layouts key on whatever their parent dirs are). Suffix
    uniqueness is verified driver-side and refused on collision rather
    than mis-attributing rows. The reader strips partition fields from
    the requested schema and disables partition inference
    (``recursiveFileLookup`` — Spark documents it as mutually exclusive
    with partition discovery), so the scan stays one file-list parquet
    read either way and log-level pruning (``partition_filter`` /
    ``_may_satisfy``) is unaffected.

    ``finish`` performs the deferred broadcast join and must run after
    every ``_metadata``-consuming step (DV anti-join, rowTracking
    capture): the join key column is captured EAGERLY right after the
    read precisely so those still see ``_metadata``.

    ``pvals_of`` maps each rel to its action's partitionValues (keys
    are physical names; a logical-key fallback mirrors
    ``_load_cdc_files``'s leniency for external writers)."""
    from pyspark.sql import functions as F

    files = [_data_file(path, r) for r in rels_sorted]
    if not partition_cols:
        return spark.read.schema(read_schema).parquet(*files), (lambda d: d)
    if not _has_external_paths(rels_sorted):
        df = (
            spark.read.schema(read_schema)
            .option("basePath", path)
            .parquet(*files)
        )
        return df, (lambda d: d)
    cm = cm_mode in ("name", "id")
    phys_of = {
        f.name: (_physical_name(f) if cm else f.name) for f in schema.fields
    }
    phys_parts = [phys_of[p] for p in partition_cols]
    data_schema = T.StructType(
        [f for f in read_schema.fields if f.name not in set(phys_parts)]
    )
    depth = len(partition_cols) + 1
    key_of = {
        r: _dv_path_key(_data_file(path, r).replace(os.sep, "/"), depth)
        for r in rels_sorted
    }
    if len(set(key_of.values())) != len(rels_sorted):
        from collections import Counter

        dupes = sorted(
            b for b, n in Counter(key_of.values()).items() if n > 1
        )
        raise ValueError(
            f"files of {path} repeat path suffix(es) {dupes[:3]} across "
            "directories — partition-value attribution would be "
            "ambiguous; OPTIMIZE the table to rewrite into its own "
            "layout first"
        )
    rows = []
    for r in rels_sorted:
        pv = pvals_of.get(r) or {}
        rows.append(
            tuple(
                [key_of[r]]
                + [
                    pv.get(pp, pv.get(lp))
                    for pp, lp in zip(phys_parts, partition_cols)
                ]
            )
        )
    map_schema = T.StructType(
        [T.StructField("_pv_fname", T.StringType(), False)]
        + [
            T.StructField(f"_pv_{i}", T.StringType(), True)
            for i in range(len(phys_parts))
        ]
    )
    pv_map = spark.createDataFrame(rows, map_schema)
    df = (
        spark.read.schema(data_schema)
        .option("recursiveFileLookup", "true")
        .parquet(*files)
        .withColumn("_pv_fname", _dv_file_key_col(depth))
    )
    by_field = {f.name: f for f in schema.fields}

    def finish(d: DataFrame) -> DataFrame:
        out = d.join(F.broadcast(pv_map), "_pv_fname")
        for i, p in enumerate(partition_cols):
            out = out.withColumn(
                phys_parts[i], F.col(f"_pv_{i}").cast(by_field[p].dataType)
            )
        return out.drop(
            "_pv_fname", *[f"_pv_{i}" for i in range(len(phys_parts))]
        )

    return df, finish


def _dv_components(rel: str) -> list[str]:
    """NON-EMPTY path components of a stored add path. Absolute paths
    and file:// URIs (the shallow-clone spellings) normalize to the
    same component list as the scanned ``_metadata.file_path`` suffix —
    the empty root component and the URI scheme/authority never enter a
    join key, so driver-side and scan-side keys agree for every
    spelling."""
    p = rel
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", p):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    return [c for c in p.split("/") if c]


def _dv_suffix_depth(rels) -> int | None:
    """Path depth (non-empty component count) shared by every rel, or
    None when mixed. Uniform depth is the Delta norm — partition
    columns are fixed at table creation, so every data file sits
    exactly ``len(partition_cols)`` directories deep."""
    depths = {len(_dv_components(r)) for r in rels}
    return depths.pop() if len(depths) == 1 else None


def _dv_path_key(rel: str, depth: int) -> str:
    """Driver-side DV join key: the rel path's last ``depth`` non-empty
    components verbatim (on-disk names, hive-escaped as stored in the
    log; URI spellings percent-decode to the on-disk form)."""
    return "/".join(_dv_components(rel)[-depth:])


def _dv_file_key_col(depth: int):
    """Columnar twin of ``_dv_path_key`` over ``_metadata.file_path``:
    the URI's last ``depth`` components, percent-decoded back to the
    ON-DISK names. The URI rendering re-encodes the hive-escaped dir
    name (on-disk ``p=pt%3ABR`` appears as ``p=pt%253ABR``), so one
    decode recovers it; '+' is protected first because ``url_decode``
    is form-decoding (it would turn a literal '+' into a space)."""
    from pyspark.sql import functions as F

    parts = F.split(F.col("_metadata.file_path"), "/")
    comps = [
        F.url_decode(
            F.regexp_replace(F.element_at(parts, -i), r"\+", "%2B")
        )
        for i in range(depth, 0, -1)
    ]
    return F.concat_ws("/", *comps) if depth > 1 else comps[0]


def _deleted_rows_frame(
    spark: SparkSession,
    table_path: str,
    dv_by_rel: dict[str, dict],
    depth: int = 1,
) -> DataFrame:
    """(dv_fname, dv_ridx) rows for every DV-deleted row of the given
    add actions. Join key is the data file's last-``depth``-components
    path suffix (depth 1 = basename — Delta part files embed a writer
    uuid, unique within a table; partitioned tables key on the full
    partition-dir suffix). Size-gated driver/executor decode (see
    DV_DRIVER_DECODE_MAX); cardinality comes free from the descriptors
    so the gate costs nothing."""
    import pandas as pd

    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
        deleted_row_indexes,
    )

    out_schema = "dv_fname string, dv_ridx long"
    total = sum(int(d.get("cardinality", 0)) for d in dv_by_rel.values())
    if total <= DV_DRIVER_DECODE_MAX:
        frames = [
            pd.DataFrame(
                {
                    "dv_fname": _dv_path_key(rel, depth),
                    "dv_ridx": deleted_row_indexes(table_path, desc),
                }
            )
            for rel, desc in dv_by_rel.items()
        ]
        pdf = pd.concat(frames, ignore_index=True)
        return spark.createDataFrame(pdf, out_schema)
    desc_rows = [
        (_dv_path_key(rel, depth), json.dumps(desc))
        for rel, desc in sorted(dv_by_rel.items())
    ]
    descs = spark.createDataFrame(desc_rows, "fname string, desc string")
    descs = descs.repartition(min(len(desc_rows), 64))

    def _emit(batches):
        for pdf in batches:
            for fname, dj in zip(pdf["fname"], pdf["desc"]):
                yield pd.DataFrame(
                    {
                        "dv_fname": fname,
                        "dv_ridx": deleted_row_indexes(table_path, json.loads(dj)),
                    }
                )

    return descs.mapInPandas(_emit, out_schema)


def _apply_deletion_vectors(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    dv_by_rel: dict[str, dict],
    all_rels: list[str] | None = None,
) -> DataFrame:
    """Drop DV-deleted rows from a parquet read: anti-join on
    (file path suffix, ``_metadata.row_index``). Must be applied to the
    reader output BEFORE any projection drops the _metadata column.

    Path suffix (not full URI) is the join key because the URI
    rendering of ``_metadata.file_path`` is a Spark/Hadoop detail — a
    silent mismatch would RESURFACE deleted rows, the worst failure
    mode. When every file in scope sits at the same depth (Delta's
    norm: partition depth is fixed at creation) the key is the full
    partition-dir suffix, which is unique by construction — a
    partitioned write can legally repeat one part BASENAME across its
    hive dirs. Mixed depths (external layouts only) fall back to
    basename with a loud ambiguity refusal."""
    from pyspark.sql import functions as F

    scope = list(all_rels) if all_rels is not None else list(dv_by_rel)
    depth = _dv_suffix_depth(scope)
    if depth is None:
        depth = 1
        dv_names = {os.path.basename(rel) for rel in dv_by_rel}
        seen: dict[str, str] = {}
        for rel in scope:
            b = os.path.basename(rel)
            if b in dv_names and seen.get(b, rel) != rel:
                raise ValueError(
                    f"files of {table_path} share the basename {b!r} "
                    "across directories at mixed depths and one carries "
                    "a deletion vector — row matching would be "
                    "ambiguous; refusing rather than mis-apply DVs"
                )
            seen.setdefault(b, rel)
    deleted = _deleted_rows_frame(spark, table_path, dv_by_rel, depth)
    keyed = df.withColumn(
        "__dv_fname", _dv_file_key_col(depth)
    ).withColumn("__dv_ridx", F.col("_metadata.row_index"))
    survivors = keyed.join(
        deleted,
        (F.col("__dv_fname") == F.col("dv_fname"))
        & (F.col("__dv_ridx") == F.col("dv_ridx")),
        "left_anti",
    )
    return survivors.drop("__dv_fname", "__dv_ridx")


def _to_logical_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Map a physically-named DataFrame back to the logical schema:
    top-level columns are selected by physical name and aliased; nested
    struct field names are renamed via a same-shape cast (struct→struct
    cast renames by POSITION, and physical/logical schemas are
    identical modulo names)."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.col(_physical_name(f)).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _check_column_invariants_enforceable(path: str, version: int) -> None:
    """Column invariants (``delta.invariants`` in schema-field metadata,
    writer protocol v2) ARE enforced by this writer (round-12): every
    row-adding path (write_delta / MERGE / UPDATE) evaluates them
    against the staged files via ``_violated_constraint`` before
    committing, with the spec's stricter NULL semantics (PROTOCOL.md
    "Column Invariants": a row violates when the expression returns
    *false or null*, unlike CHECK constraints where NULL passes). This
    commit-choke-point gate therefore only verifies the declarations
    are ones we can faithfully evaluate — unparseable invariant JSON
    refuses, because committing past an invariant we cannot check could
    silently violate the table's contract. Row-moving operations
    (OPTIMIZE / RESTORE / DELETE / VACUUM) carry only rows that already
    satisfied the invariant, matching delta-spark (which does not
    re-check them either)."""
    meta = _latest_metadata(path, version)
    if "delta.invariants" not in meta.get("schemaString", ""):
        return
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    _invariant_exprs(schema)  # raises DeltaUnsupportedProtocol on bad JSON


def _check_write_protocol(
    proto: dict[str, Any],
    path: str,
    operation: str = "mutate",
    extra_features: frozenset[str] = frozenset(),
    meta: dict[str, Any] | None = None,
) -> None:
    """Raise ``DeltaUnsupportedProtocol`` unless this writer can uphold
    every invariant the table's protocol demands. Called at the commit
    choke point (``_commit_with_retry``) so MERGE/DELETE/OPTIMIZE/
    VACUUM/streaming sinks are all covered, and re-checked after losing
    a version race (a rival may have upgraded the protocol mid-retry).

    ``deletionVectors`` is allowed for EVERY operation since round 9:
    blind appends never touch existing files (the invariant is vacuous
    for them), and each file-rewriting operation (MERGE/DELETE/
    OPTIMIZE) upholds the invariant by apply-and-rewrite — DV-bearing
    files are read through ``_apply_deletion_vectors`` and the
    survivor rows are committed WITHOUT a DV, so a rewrite can never
    resurrect deleted rows.

    ``extra_features`` names features the CALLER declares it upholds
    for THIS operation — ``write_delta`` and (round-9) every DML verb
    pass ``columnMapping`` (writes rename to physical columns; rewrite
    paths read physical parquet and present logical); round-10 adds
    ``rowTracking``/``domainMetadata`` (write_delta appends and the DML
    verbs' re-stamp via ``_commit_row_tracking``, with rewrites
    preserving materialized ids per ``_row_tracking_rewrite_mode``)
    and ``changeDataFeed`` (appends
    uphold it vacuously per the spec — add-only commits derive as
    inserts — while overwrite/DELETE/UPDATE/MERGE emit ``cdc`` actions
    and ``_change_data`` files when the feed is enabled), so the gate
    stays per-operation. Legacy ``minWriterVersion`` 4/5/6 tables
    (pre-feature capability versions) are writable only when every
    capability the table provably USES is granted: column mapping needs
    a ``columnMapping`` grant, an enabled change data feed a
    ``changeDataFeed`` grant, and generated / identity columns their
    respective grants (schemaString probes, same conservative substring
    approach as the pre-round-12 invariants probe) — which needs
    ``meta``. The
    ``operation`` tag still rides on the error message so a refused
    commit names what it attempted."""
    v = int(proto.get("minWriterVersion", 2))
    feats = set(proto.get("writerFeatures") or [])
    allowed = _SUPPORTED_WRITER_FEATURES | set(extra_features)
    if v <= _SUPPORTED_WRITER_VERSION:
        return
    if v == 7 and feats <= allowed:
        return
    if v in (4, 5, 6) and meta is not None:
        schema_str = meta.get("schemaString", "")
        config = meta.get("configuration", {})
        needed: set[str] = set()
        if _column_mapping_mode(meta) != "none":
            needed.add("columnMapping")
        if config.get("delta.enableChangeDataFeed") == "true":
            needed.add("changeDataFeed")
        if "delta.generatedAlwaysAs" in schema_str:
            # generated columns are grantable (round-10): write paths
            # that VALIDATE staged data against the generation
            # expressions pass the grant
            needed.add("generatedColumns")
        if "delta.identity." in schema_str:
            # identity columns are grantable too (round-11): write_delta
            # ASSIGNS values from the schema's high-water mark and bumps
            # it in the same commit; copy-only rewrites (DELETE/OPTIMIZE)
            # and UPDATEs that never touch an identity column uphold the
            # obligation vacuously
            needed.add("identityColumns")
        if needed <= set(extra_features):
            return
    raise DeltaUnsupportedProtocol(
        f"Delta table at {path} requires minWriterVersion={v}"
        + (f" with writerFeatures={sorted(feats)}" if feats else "")
        + f", but this writer supports version <= {_SUPPORTED_WRITER_VERSION}"
        + f" (or 7 with features within {sorted(allowed)}"
        + f" for {operation} operations)"
        + " — refusing to commit rather than violate invariants it cannot "
        "enforce"
    )


def _collect_txns(path: str, version: int) -> dict[str, int]:
    """Latest ``txn`` version per appId at-or-below ``version``
    (checkpoint-accelerated)."""
    txns: dict[str, int] = {}
    cp = _latest_checkpoint_version(path, at_or_below=version)
    if cp is not None:
        for action in _read_checkpoint_actions(path, cp):
            txn = action.get("txn")
            if txn:
                txns[txn["appId"]] = int(txn["version"])
    for v in _list_versions(path):
        if (cp is not None and v <= cp) or v > version:
            continue
        for action in _read_actions(path, v):
            txn = action.get("txn")
            if txn:
                txns[txn["appId"]] = max(
                    txns.get(txn["appId"], -1), int(txn["version"])
                )
    return txns


def _collect_domain_metadata(path: str, version: int) -> dict[str, dict]:
    """Latest ``domainMetadata`` action payload per domain at-or-below
    ``version`` (checkpoint-accelerated, like ``_collect_txns``).
    Removed tombstones are RETAINED in the map (callers treat
    ``removed: true`` as absent) so checkpoints can persist them."""
    domains: dict[str, dict] = {}
    cp = _latest_checkpoint_version(path, at_or_below=version)
    if cp is not None:
        for action in _read_checkpoint_actions(path, cp):
            dm = action.get("domainMetadata")
            if dm and dm.get("domain"):
                domains[dm["domain"]] = dm
    for v in _list_versions(path):
        if (cp is not None and v <= cp) or v > version:
            continue
        for action in _read_actions(path, v):
            dm = action.get("domainMetadata")
            if dm and dm.get("domain"):
                domains[dm["domain"]] = dm
    return domains


def _row_id_high_water_mark(path: str, version: int) -> int | None:
    """The rowTracking high-water mark at ``version``, or None when the
    table carries no (live) delta.rowTracking domain."""
    dm = _collect_domain_metadata(path, version).get("delta.rowTracking")
    if not dm or dm.get("removed"):
        return None
    try:
        return int(json.loads(dm.get("configuration") or "{}").get(
            "rowIdHighWaterMark", -1
        ))
    except (ValueError, TypeError) as exc:
        # A LIVE domain whose configuration fails to parse is a corrupt
        # table, not an absent mark: treating it as None would restart
        # baseRowId assignment at 0 and silently REUSE row ids. Refuse
        # rather than corrupt — same posture as every other gate here.
        raise DeltaUnsupportedProtocol(
            f"Delta table at {path} carries a delta.rowTracking domain "
            f"whose configuration cannot be parsed "
            f"({dm.get('configuration')!r}): refusing to assign row ids "
            f"against a corrupt high-water mark"
        ) from exc


# Configuration keys delta-spark reserves at rowTracking enablement for
# the hidden parquet columns that MATERIALIZE row ids / commit versions.
# The keys merely reserve the names; whether a data file actually
# carries the columns is a per-file parquet-footer fact.
_MATERIALIZED_ROW_TRACKING_KEYS = (
    "delta.rowTracking.materializedRowIdColumnName",
    "delta.rowTracking.materializedRowCommitVersionColumnName",
)


def _row_tracking_dml_features(proto: dict[str, Any]) -> frozenset[str]:
    """The feature grants a file-rewriting DML verb declares on a
    rowTracking table (round-10): fresh ``baseRowId``/
    ``defaultRowCommitVersion`` re-assignment via
    ``_commit_row_tracking`` plus the ``delta.rowTracking``
    domainMetadata high-water-mark bump. Empty when the protocol does
    not list rowTracking (the grant would be meaningless noise in the
    gate's error message). Callers that rewrite EXISTING rows must also
    consult ``_row_tracking_rewrite_mode`` before staging — when the
    table reserves materialized column names the rewrite must PRESERVE
    stable ids by stamping them into those columns."""
    if "rowTracking" not in set(proto.get("writerFeatures") or []):
        return frozenset()
    return frozenset({"rowTracking", "domainMetadata"})


def _row_tracking_rewrite_mode(
    path: str,
    config: dict[str, str],
    rewrite_rels: list[str] | set[str],
    operation: str,
) -> tuple[str, str] | None:
    """How a file-rewriting DML verb upholds rowTracking (round-11,
    the MATERIALIZING rewrite — closes the last rowTracking write wall):

    - ``(mid, mcv)``: the table reserves BOTH hidden column names
      (``delta.rowTracking.materialized*ColumnName`` — delta-spark sets
      them at enablement), so the rewrite PRESERVES row identity by
      stamping each surviving row's stable row id — and, for rows copied
      without modification, its stable commit version — into those
      columns of the rewritten files. Exactly the writer obligation the
      spec states for enabled tables, and what delta-spark itself does
      on its rewrites: stable value = coalesce(materialized, derived
      from baseRowId/defaultRowCommitVersion), so a table that has been
      through any mix of delta-spark and this engine's DML keeps one
      consistent identity per row.
    - ``None``: rowTracking is NOT enabled and nothing materializes ids
      — every id was only ever FRESH (derivable solely from the live
      adds), so fresh re-assignment plus a high-water-mark bump is
      spec-valid (rewritten rows are new rows).
    - raises ``DeltaUnsupportedProtocol`` when preservation is required
      but impossible: ``delta.enableRowTracking=true`` with the
      reserved names absent (nowhere to stamp — a state delta-spark
      never produces), or a file materializing ids under a
      half-reserved configuration.

    Cost of the refusal probe: one parquet footer read per rewritten
    file, only in the half-reserved corner; the materializing path
    itself decides from configuration alone."""
    names = [config.get(k) for k in _MATERIALIZED_ROW_TRACKING_KEYS]
    if all(names):
        return names[0], names[1]
    if config.get("delta.enableRowTracking") == "true":
        raise DeltaUnsupportedProtocol(
            f"Delta table at {path}: {operation} must preserve stable "
            "row ids across the rewrite (delta.enableRowTracking=true) "
            "but the table reserves no materialized row-tracking column "
            "names to stamp them into — refusing rather than corrupt "
            "row identity"
        )
    mat_cols = set(names) - {None}
    if not mat_cols:
        return None
    import pyarrow.parquet as pq

    for rel in sorted(rewrite_rels):
        try:
            fnames = set(pq.read_schema(_data_file(path, rel)).names)
        except OSError:
            continue  # unreadable footer refuses later, at the scan
        hit = fnames & mat_cols
        if hit:
            raise DeltaUnsupportedProtocol(
                f"Delta table at {path}: {operation} would rewrite "
                f"{rel}, which materializes row tracking columns "
                f"{sorted(hit)} under a half-reserved configuration — "
                "cannot preserve both stable row ids and commit "
                "versions; refusing rather than corrupt row identity"
            )
    return None


def _rt_read_schema(
    read_schema: T.StructType, mat: tuple[str, str]
) -> T.StructType:
    """The reader schema extended with the two reserved materialized
    row-tracking columns (nullable longs): files that carry them yield
    the stable values, files that don't fill with null and fall back to
    the fresh derivation."""
    return T.StructType(
        list(read_schema.fields)
        + [
            T.StructField(mat[0], T.LongType(), True),
            T.StructField(mat[1], T.LongType(), True),
        ]
    )


def _rt_suffix_depth(rels, path: str) -> int:
    """Uniform path depth for suffix-keyed per-file joins (the DV
    machinery's key), falling back to basename with a loud ambiguity
    refusal on mixed-depth external layouts."""
    depth = _dv_suffix_depth(rels)
    if depth is not None:
        return depth
    basenames = [os.path.basename(r) for r in rels]
    if len(set(basenames)) != len(basenames):
        raise ValueError(
            f"files of {path} share a basename across mixed-depth "
            "directories — per-file row-id attachment would be ambiguous"
        )
    return 1


def _rt_capture(df: DataFrame, depth: int) -> DataFrame:
    """Stamp the per-row file key + physical row index a stable-row-id
    computation needs — must run on the RAW reader output, before any
    join/projection drops the ``_metadata`` pseudo-column."""
    from pyspark.sql import functions as F

    return df.withColumn("_rt_fname", _dv_file_key_col(depth)).withColumn(
        "_rt_ridx", F.col("_metadata.row_index")
    )


def _rt_stamp_stable(
    spark: SparkSession,
    df: DataFrame,
    rels,
    actions_by_rel: dict[str, dict],
    mat: tuple[str, str],
    depth: int,
) -> DataFrame:
    """Overwrite the materialized row-tracking columns of a captured
    read with each row's STABLE values: ``coalesce(materialized,
    baseRowId + row_index)`` for the row id and ``coalesce(materialized,
    defaultRowCommitVersion)`` for the commit version — the read-side
    rule, applied at rewrite time so the rewritten files PRESERVE it.
    One broadcast map join (≤ one row per file); adds that were never
    stamped (no baseRowId) contribute null, honestly marking their rows
    as having no stable identity."""
    from pyspark.sql import functions as F

    mid, mcv = mat
    base_map = spark.createDataFrame(
        [
            (
                _dv_path_key(rel, depth),
                actions_by_rel[rel].get("baseRowId"),
                actions_by_rel[rel].get("defaultRowCommitVersion"),
            )
            for rel in rels
        ],
        "_rt_fname string, _rt_base long, _rt_dcv long",
    )
    return (
        df.join(F.broadcast(base_map), "_rt_fname")
        .withColumn(
            mid,
            F.coalesce(F.col(f"`{mid}`"), F.col("_rt_base") + F.col("_rt_ridx")),
        )
        .withColumn(mcv, F.coalesce(F.col(f"`{mcv}`"), F.col("_rt_dcv")))
        .drop("_rt_fname", "_rt_ridx", "_rt_base", "_rt_dcv")
    )


_INT_FAMILY = ("byte", "short", "integer", "long")
_WIDENINGS: frozenset[tuple[str, str]] = frozenset(
    [
        (f, t)
        for i, f in enumerate(_INT_FAMILY)
        for t in _INT_FAMILY[i + 1 :]
    ]
    + [("float", "double"), ("date", "timestampNtz")]
    + [(f, "double") for f in ("byte", "short", "integer")]
)


def _decimal_ps(t: str) -> tuple[int, int] | None:
    m = re.match(r"decimal\((\d+),\s*(-?\d+)\)", str(t))
    return (int(m.group(1)), int(m.group(2))) if m else None


def _type_change_ok(frm: str, to: str) -> bool:
    """Whether a recorded delta.typeChanges conversion is one Spark's
    parquet reader promotes natively (the verified allowlist behind the
    typeWidening reader support) — anything else refuses."""
    if (frm, to) in _WIDENINGS:
        return True
    to_ps = _decimal_ps(to)
    if to_ps is None:
        return False
    if frm in _INT_FAMILY:
        # the decimal must actually HOLD the integer type: the spec's
        # minimum integer digits (10 for byte/short/int, 20 for long) —
        # accepting long→decimal(5,0) would overflow mid-scan
        need = 20 if frm == "long" else 10
        return to_ps[0] - to_ps[1] >= need
    frm_ps = _decimal_ps(frm)
    # decimal widening only: integer digits and scale both grow-or-hold
    return frm_ps is not None and (
        to_ps[1] >= frm_ps[1]
        and to_ps[0] - to_ps[1] >= frm_ps[0] - frm_ps[1]
    )


def _check_type_changes(schema: T.StructType, path: str) -> None:
    """Validate every ``delta.typeChanges`` record (typeWidening tables,
    round-10) against the natively-promotable allowlist — an unknown
    future conversion must refuse, never mis-promote bytes."""

    def walk(dt: T.DataType) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                for ch in f.metadata.get("delta.typeChanges") or []:
                    frm, to = ch.get("fromType"), ch.get("toType")
                    if not _type_change_ok(str(frm), str(to)):
                        raise DeltaUnsupportedProtocol(
                            f"Delta table at {path} records a type "
                            f"widening {frm!r} -> {to!r} on column "
                            f"{f.name!r} that this reader cannot "
                            "promote — refusing rather than misread "
                            "pre-widening files"
                        )
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(schema)


def _replay(
    path: str, version: int | None
) -> tuple[dict[str, dict], T.StructType, list[str], dict[str, Any]]:
    """Reconstruct the snapshot at ``version`` (inclusive; default
    latest): newest checkpoint at-or-below it, then only the JSON
    commits after. Returns (active add-actions by relative path, table
    schema, partition columns, latest metaData action) — the metaData
    rides along so read paths can resolve column mapping without a
    second log pass."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in table history {versions}")
    active: dict[str, dict] = {}
    schema: T.StructType | None = None
    partition_cols: list[str] = []
    meta: dict[str, Any] = {}
    proto: dict[str, Any] = {"minReaderVersion": 1, "minWriterVersion": 2}

    def fold_batch(batch: list[dict[str, Any]]) -> None:
        nonlocal schema, partition_cols, proto, meta
        # Per the Delta spec, logical files are keyed by (path,
        # deletionVector.uniqueId) and INTRA-COMMIT action order is
        # unspecified: a DV DELETE commit may legally list
        # add(path, newDV) BEFORE remove(path, oldDV). Applying each
        # batch's removes before its adds makes an intra-commit re-add
        # always win — equivalent to keyed reconciliation for every
        # spec-legal log (a commit never both adds and removes the SAME
        # logical file), without breaking path-keyed lookups everywhere
        # else. Batches are one checkpoint or one commit; ACROSS batches
        # order is the commit order and already correct.
        for action in batch:
            if "remove" in action:
                active.pop(action["remove"]["path"], None)
        for action in batch:
            if "metaData" in action:
                meta = action["metaData"]
                schema = T.StructType.fromJson(
                    json.loads(action["metaData"]["schemaString"])
                )
                partition_cols = list(action["metaData"].get("partitionColumns", []))
            elif "protocol" in action:
                proto = action["protocol"]
            elif "add" in action:
                active[action["add"]["path"]] = action["add"]

    cp = _latest_checkpoint_version(path, at_or_below=version)
    if cp is None and versions[0] > 0:
        # the log was cleaned below its oldest checkpoint: without a
        # checkpoint ≤ target, replaying only the surviving JSON would
        # silently DROP the truncated history's adds — the one failure
        # mode worse than an error
        raise ValueError(
            f"version {version} predates the cleaned log at {path} "
            f"(oldest JSON commit {versions[0]}, no checkpoint at or "
            f"below {version}) — history before the retention window "
            "is gone, as after Delta log cleanup"
        )
    if cp is not None:
        fold_batch(_read_checkpoint_actions(path, cp))
    for v in versions:
        if (cp is not None and v <= cp) or v > version:
            continue
        fold_batch(_read_actions(path, v))
    # the LATEST protocol at-or-below the target version governs the
    # whole snapshot — checked after the fold so mid-log upgrades win
    _check_read_protocol(proto, path, _column_mapping_mode(meta))
    if schema is None:
        raise ValueError(f"Delta log at {path} has no metaData action")
    _check_type_changes(schema, path)
    return active, schema, partition_cols, meta


def _file_stats(
    file_path: str,
    skip_minmax: frozenset[str] = frozenset(),
    stats_cols: frozenset[str] | None = None,
) -> str | None:
    """Delta per-file ``stats`` JSON (numRecords / minValues / maxValues /
    nullCount — the delta-spark field set) from the parquet footer via
    pyarrow — zero data read. These power log-level data skipping: a
    reader with a predicate drops files whose [min, max] cannot satisfy
    it before Spark ever lists them.

    Known gap: pyarrow (as shipped) cannot open footers carrying the
    parquet VARIANT logical type, so files Spark writes for
    variant-bearing tables land stats-less (the except below) — legal
    per the spec (stats are optional) and self-healing once the footer
    library learns the annotation.

    ``stats_cols`` (round-12, ``delta.dataSkippingNumIndexedCols``):
    when set, min/max/nullCount are recorded for exactly those
    (physical, top-level) columns — numRecords always survives (the
    zero-row skip and CDF accounting need it). None = all columns."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(file_path).metadata
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        nulls: dict[str, int] = {}
        null_covered: dict[str, int] = {}
        # a column's range is only trustworthy if EVERY row group
        # contributed min/max — a stats-less row group (e.g. NaN-bearing
        # doubles, undecodable binary) may hold values outside the range
        # of the groups that did report, and a falsely-narrow range makes
        # data skipping (and MERGE's affected-file targeting) drop files
        # that DO contain matching rows
        covered: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if "." in name:  # nested — out of the skipping subset
                    continue
                if st is not None and st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                    null_covered[name] = null_covered.get(name, 0) + 1
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                covered[name] = covered.get(name, 0) + 1
                if name not in mins or mn < mins[name]:
                    mins[name] = mn
                if name not in maxs or mx > maxs[name]:
                    maxs[name] = mx
        full = {
            c
            for c, n in covered.items()
            if n == md.num_row_groups and c not in skip_minmax
        }
        mins = {c: v for c, v in mins.items() if c in full}
        maxs = {c: v for c, v in maxs.items() if c in full}
        nulls = {
            c: v
            for c, v in nulls.items()
            if null_covered.get(c) == md.num_row_groups
        }
        if stats_cols is not None:
            mins = {c: v for c, v in mins.items() if c in stats_cols}
            maxs = {c: v for c, v in maxs.items() if c in stats_cols}
            nulls = {c: v for c, v in nulls.items() if c in stats_cols}
        return json.dumps(
            {
                "numRecords": md.num_rows,
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": nulls,
            },
            default=str,
        )
    except Exception:
        return None  # stats are an optimization, never a correctness gate


def _indexed_stats_columns(
    schema: T.StructType, config: dict[str, str], cm_mode: str = "none"
) -> frozenset[str] | None:
    """The PHYSICAL top-level columns whose file stats this table
    records, honoring ``delta.dataSkippingNumIndexedCols`` (round-12):
    delta-spark collects min/max/nullCount for the first N schema
    columns only — 32 by default, −1 means all — so wide tables don't
    bloat every add action with thousands of stats entries. None = no
    restriction (the -1 spelling). Granularity note: delta counts LEAF
    columns; this writer's stats are top-level-only (nested footer
    paths are excluded from skipping anyway, see ``_file_stats``), so
    the first-N window is applied over top-level fields — identical
    behavior for flat schemas, documented approximation for nested
    ones."""
    try:
        n = int(config.get("delta.dataSkippingNumIndexedCols", 32))
    except ValueError:
        n = 32
    if n < 0:
        return None
    fields = schema.fields[:n]
    if cm_mode in ("name", "id"):
        return frozenset(_physical_name(f) for f in fields)
    return frozenset(f.name for f in fields)


_CONSTRAINT_PREFIX = "delta.constraints."


def _invariant_exprs(schema: T.StructType) -> list[tuple[str, str]]:
    """(column path, SQL expression) per column invariant declared in
    the schema's ``delta.invariants`` field metadata — the writer-v2
    legacy constraint form (PROTOCOL.md "Column Invariants"), stored as
    JSON ``{"expression": {"expression": "<sql>"}}`` exactly as
    delta-spark writes it. Nested struct fields may carry invariants
    too (the expression references the full dotted path, so it
    evaluates against the top-level frame unchanged). Unparseable
    declarations raise ``DeltaUnsupportedProtocol``: committing past an
    invariant we cannot evaluate could silently violate the table's
    contract, so refusal is the spec-correct posture."""
    out: list[tuple[str, str]] = []

    def walk(fields: list[T.StructField], prefix: str) -> None:
        for f in fields:
            raw = f.metadata.get("delta.invariants")
            if raw is not None:
                try:
                    expr = json.loads(raw)["expression"]["expression"]
                    if not isinstance(expr, str) or not expr.strip():
                        raise ValueError("empty invariant expression")
                except (ValueError, KeyError, TypeError) as exc:
                    raise DeltaUnsupportedProtocol(
                        f"column {prefix + f.name!r} declares a "
                        f"delta.invariants payload this writer cannot "
                        f"parse ({raw!r}): refusing rather than commit "
                        f"rows it cannot check"
                    ) from exc
                out.append((prefix + f.name, expr))
            if isinstance(f.dataType, T.StructType):
                walk(f.dataType.fields, prefix + f.name + ".")

    walk(list(schema.fields), "")
    return sorted(out)


def _merge_schemas(
    batch_schema: T.StructType, table_schema: T.StructType
) -> T.StructType:
    """The pure schema-computation half of Delta ``mergeSchema``: table
    columns (in
    table order) followed by the batch's NEW columns (in batch order); a
    column present in both must keep its exact type — mergeSchema adds
    columns, it never rewrites existing ones (raises on a type change).
    Property-tested driver-side (tests/test_properties.py)."""
    by_name = {f.name: f for f in batch_schema.fields}
    tbl_names = {f.name for f in table_schema.fields}
    for f in table_schema.fields:
        g = by_name.get(f.name)
        if g is not None and g.dataType != f.dataType:
            raise ValueError(
                f"mergeSchema cannot change the type of column {f.name}: "
                f"table {f.dataType.simpleString()} vs "
                f"batch {g.dataType.simpleString()}"
            )
    # table fields keep their METADATA (identity marks, generation
    # expressions, columnMapping names, typeWidening records live in
    # schemaString field metadata — evolution must never strip them)

    def _relax(dt: T.DataType) -> T.DataType:
        # a NEW column is null for every pre-evolution row, so its type
        # must be fully permissive — a batch-derived containsNull=false
        # or nested nullable=false would survive into the table schema
        # and make the logical<->physical casts nullability-tightening
        # (refused by the analyzer) besides overclaiming the data
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, _relax(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_relax(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(_relax(dt.keyType), _relax(dt.valueType), True)
        return dt

    return T.StructType(
        [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in table_schema.fields
        ]
        + [
            T.StructField(
                f.name,
                _relax(f.dataType),
                True,
                # a batch frame read from ANOTHER mapped table may carry
                # that table's columnMapping bookkeeping — never let a
                # foreign physicalName/id leak into this table's schema
                {
                    k: v
                    for k, v in (f.metadata or {}).items()
                    if not k.startswith("delta.columnMapping.")
                },
            )
            for f in batch_schema.fields
            if f.name not in tbl_names
        ]
    )


def _assign_cm_fields(
    merged: T.StructType,
    table_schema: T.StructType,
    config: dict[str, str],
    path: str,
) -> tuple[T.StructType, dict[str, str]]:
    """Column-mapping schema evolution (round-11): every column the
    table did not already have gets a FRESH field id and a uuid-named
    physicalName (``col-<uuid>`` — delta-spark's convention), and
    ``delta.columnMapping.maxColumnId`` advances past the highest
    assignment in the SAME commit, per the spec's monotonic-counter
    rule. Existing columns keep their metadata verbatim (it rode
    through _merge_schemas). New NESTED columns (round-12): every
    struct field at every depth gets its own fresh id + uuid
    physicalName, recursively — the spec assigns per StructField, and
    the read paths (``_to_logical_columns`` / ``_to_logical_arrow``)
    already resolve nested physical names. Array elements and map
    keys/values are unnamed (no physicalName); struct fields INSIDE
    them stamp like any other."""
    tbl_names = {f.name for f in table_schema.fields}
    max_id = int(config.get("delta.columnMapping.maxColumnId", 0))

    def _stamp(dt: T.DataType) -> T.DataType:
        nonlocal max_id
        if isinstance(dt, T.StructType):
            fs = []
            for sf in dt.fields:
                max_id += 1
                fid = max_id  # own id BEFORE recursing (children bump max_id)
                inner = _stamp(sf.dataType)
                fs.append(
                    T.StructField(
                        sf.name,
                        inner,
                        True,
                        {
                            # strip foreign CM bookkeeping (same rule as
                            # _merge_schemas), then stamp fresh
                            **{
                                k: v
                                for k, v in (sf.metadata or {}).items()
                                if not k.startswith("delta.columnMapping.")
                            },
                            "delta.columnMapping.id": fid,
                            "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                        },
                    )
                )
            return T.StructType(fs)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_stamp(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                _stamp(dt.keyType),
                _stamp(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    out = []
    for f in merged.fields:
        if f.name in tbl_names:
            out.append(f)
            continue
        max_id += 1
        fid = max_id
        out.append(
            T.StructField(
                f.name,
                _stamp(f.dataType),
                True,
                {
                    "delta.columnMapping.id": fid,
                    "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                },
            )
        )
    config = dict(config)
    config["delta.columnMapping.maxColumnId"] = str(max_id)
    return T.StructType(out), config


def _evolve_schema(
    df: DataFrame, table_schema: T.StructType
) -> tuple[DataFrame, T.StructType]:
    """Delta ``mergeSchema``: compute the merged schema, then align the
    batch to it — table columns the batch lacks fill with typed nulls."""
    from pyspark.sql import functions as F

    merged = _merge_schemas(df.schema, table_schema)
    by_name = {f.name for f in df.schema.fields}
    aligned = df.select(
        *[
            F.col(f.name)
            if f.name in by_name
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in merged.fields
        ]
    )
    return aligned, merged


def _violated_constraint(
    spark: SparkSession,
    staging: str,
    schema: T.StructType,
    config: dict[str, str],
    cm_mode: str = "none",
) -> tuple[str, str] | None:
    """First rule the staged data violates as a ``(description,
    expression)`` pair, or None. Two rule families with deliberately
    different NULL semantics, both from the Delta spec: CHECK
    constraints (``delta.constraints.*`` table properties) use SQL
    CHECK semantics — a row violates only when the expression evaluates
    to FALSE, NULL passes (``coalesce(expr, true)``); column invariants
    (``delta.invariants`` schema-field metadata, round-12) violate when
    the expression returns *false or null* (PROTOCOL.md "Column
    Invariants": "a row for which the expression returns false or
    null"), i.e. ``coalesce(expr, false)``. Runs against the
    already-staged parquet, so the batch plan is evaluated exactly once
    (by the write) and each check is a pushdown-friendly local scan.
    Under column mapping the staged files carry PHYSICAL names while
    rule expressions reference LOGICAL ones — read physical, then map
    back before evaluating."""
    from pyspark.sql import functions as F

    constraints = sorted(
        (k[len(_CONSTRAINT_PREFIX):], v)
        for k, v in config.items()
        if k.startswith(_CONSTRAINT_PREFIX)
    )
    invariants = _invariant_exprs(schema)
    if not constraints and not invariants:
        return None
    staged = (
        spark.read.schema(_reader_schema(schema, cm_mode))
        .option("basePath", staging)
        .parquet(staging)
    )
    if cm_mode in ("name", "id"):
        staged = _to_logical_columns(staged, schema)
    for name, expr in constraints:
        bad = staged.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).limit(1).count()
        if bad:
            return f"CHECK constraint {name}", expr
    for col, expr in invariants:
        bad = staged.filter(
            ~F.coalesce(F.expr(expr), F.lit(False))
        ).limit(1).count()
        if bad:
            return f"Column invariant on {col}", expr
    return None


def _generated_exprs(schema: T.StructType) -> list[tuple[str, str]]:
    """(column, generation expression) pairs from the schema's
    ``delta.generatedAlwaysAs`` field metadata — Spark SQL dialect, as
    delta-spark stores them (top-level columns only, per the spec)."""
    return sorted(
        (f.name, f.metadata["delta.generatedAlwaysAs"])
        for f in schema.fields
        if "delta.generatedAlwaysAs" in f.metadata
    )


def _identity_fields(
    schema: T.StructType,
) -> list[tuple[str, int, int, int | None, bool]]:
    """(name, start, step, highWaterMark|None, allowExplicitInsert) per
    IDENTITY column in the schema — the ``delta.identity.*`` field
    metadata delta-spark stores (writer v6 legacy / ``identityColumns``
    v7 feature). The high-water mark is absent until the first
    value-assigning write."""
    out = []
    for f in schema.fields:
        md = f.metadata
        if "delta.identity.start" in md or "delta.identity.step" in md:
            out.append(
                (
                    f.name,
                    int(md.get("delta.identity.start", 1)),
                    int(md.get("delta.identity.step", 1)),
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None,
                    (lambda a: a if isinstance(a, bool) else str(a).lower() == "true")(
                        md.get("delta.identity.allowExplicitInsert", False)
                    ),
                )
            )
    return out


def _identity_next(start: int, step: int, hwm: int | None) -> int:
    """First value on the identity lattice ``start + k·step`` (k ≥ 0)
    STRICTLY beyond the high-water mark in the step's direction — the
    spec's assignment rule. Explicit inserts may park the mark off the
    lattice; the ceil/floor aligns the next assigned value back onto
    it."""
    if hwm is None:
        return start
    if step > 0:
        if hwm < start:
            return start
        k = (hwm - start) // step + 1
    else:
        if hwm > start:
            return start
        k = (start - hwm) // (-step) + 1
    return start + k * step


def _identity_stamped_meta(
    meta: dict[str, Any], marks: dict[str, int]
) -> dict[str, Any]:
    """A copy of ``meta`` whose schemaString carries the advanced
    ``delta.identity.highWaterMark`` per column in ``marks`` — identity
    allocation state lives in the schema field metadata (unlike
    rowTracking's domainMetadata), so every assigning commit ships a
    metaData action."""
    out = dict(meta)
    schema_doc = json.loads(meta["schemaString"])
    for f in schema_doc.get("fields", []):
        if f.get("name") in marks:
            f.setdefault("metadata", {})["delta.identity.highWaterMark"] = (
                marks[f["name"]]
            )
    out["schemaString"] = json.dumps(schema_doc, separators=(",", ":"))
    return out


def _identity_marks_from_adds(
    adds: list[dict[str, Any]],
    idents: list[tuple[str, int, int, int | None, bool]],
    phys_of: dict[str, str] | None = None,
) -> dict[str, int]:
    """New high-water mark per identity column, read off the staged
    adds' footer stats (free — no extra job): the furthest written
    value in the step's direction, carried over the prior mark. Raises
    when a column's stats are missing (the mark would silently stall
    and a later write would re-assign the same values). ``phys_of``
    maps logical → physical column names — footer stats of
    column-mapped tables key by the PHYSICAL name."""
    parsed = [
        (act, json.loads(act["add"]["stats"]) if act["add"].get("stats") else {})
        for act in adds
    ]
    marks: dict[str, int] = {}
    for name, _start, step, hwm, _explicit in idents:
        stat_key = (phys_of or {}).get(name, name)
        best = hwm
        for act, vals in parsed:
            if vals.get("numRecords") == 0:
                continue
            key = "maxValues" if step > 0 else "minValues"
            v = vals.get(key, {}).get(stat_key)
            if v is None:
                raise ValueError(
                    f"cannot advance identity high-water mark for "
                    f"{name!r}: staged file {act['add']['path']} carries "
                    "no footer stats for it"
                )
            v = int(v)
            if best is None or (v > best if step > 0 else v < best):
                best = v
        if best is not None and best != hwm:
            marks[name] = best
    return marks


def _merge_attach_identity(
    updates: DataFrame,
    old: DataFrame | None,
    key: str,
    omitted: list[tuple[str, int, int, int | None, bool]],
    schema: T.StructType,
) -> DataFrame:
    """Materialize the identity columns a MERGE's updates frame omits
    (round-12): matched rows INHERIT the target row's value via one
    per-key aggregate over the affected files' rows (min() is the
    deterministic pick when a key legally repeats in the target — the
    same rule the rowTracking upsert uses for stable row ids),
    unmatched rows get ASSIGNED ``base + step·monotonic-id`` values
    strictly beyond the high-water mark, exactly write_delta's block
    allocation (unique, lattice-aligned, gaps legal, zero extra jobs).
    ``old=None`` = no files affected: every row is an insert, all
    values fresh. Returns the frame in table-schema order."""
    from pyspark.sql import functions as F

    by_field = {f.name: f for f in schema.fields}
    out = updates
    if old is not None:
        inherit = old.groupBy(key).agg(
            *[F.min(F.col(f"`{n}`")).alias(n) for n, *_ in omitted]
        )
        out = out.join(inherit, on=key, how="left")
    else:
        for n, *_ in omitted:
            out = out.withColumn(n, F.lit(None).cast(by_field[n].dataType))
    for n, start, step, hwm, _allow in omitted:
        base = _identity_next(start, step, hwm)
        fresh = (
            F.lit(base) + F.lit(step) * F.monotonically_increasing_id()
        ).cast(by_field[n].dataType)
        out = out.withColumn(
            n,
            F.coalesce(F.col(f"`{n}`").cast(by_field[n].dataType), fresh),
        )
    return out.select(*schema.fieldNames())


def _violated_generated(
    spark: SparkSession,
    staging: str,
    read_schema: T.StructType,
    cm_mode: str,
    gens: list[tuple[str, str]],
) -> tuple[str, str] | None:
    """First generated column whose staged values DIVERGE from the
    generation expression, or None — the writer obligation of the
    generatedColumns capability (round-10): this engine never computes
    the values, it enforces that supplied data satisfies them, with
    NULL-SAFE equality (a generated value must equal the expression
    even when both are null — unlike CHECK's null-pass)."""
    from pyspark.sql import functions as F

    if not gens:
        return None
    staged = (
        spark.read.schema(_reader_schema(read_schema, cm_mode))
        .option("basePath", staging)
        .parquet(staging)
    )
    if cm_mode in ("name", "id"):
        staged = _to_logical_columns(staged, read_schema)
    for name, expr in gens:
        bad = (
            staged.filter(~F.expr(f"`{name}` <=> ({expr})"))
            .limit(1)
            .count()
        )
        if bad:
            return name, expr
    return None


def _dv_key(desc: dict[str, Any] | None) -> tuple | None:
    """The identity of a deletion vector for change detection — the
    spec's uniqueId fields (storageType + pathOrInlineDv + offset).
    Content-addressed: two adds with the same key delete the same
    row set; None = no DV."""
    if not desc:
        return None
    off = desc.get("offset")
    return (
        desc.get("storageType"),
        desc.get("pathOrInlineDv"),
        int(off) if off is not None else None,
    )


def _remove_action(
    rel: str, add: dict[str, Any] | None, now_ms: int, data_change: bool = True
) -> dict[str, Any]:
    """A spec-shaped remove for an active add: when the add carries a
    deletionVector the remove repeats it, so external engines that
    reconcile by (path, dv.uniqueId) — and vacuum implementations that
    track .bin references through tombstones — see the logical file
    this remove actually tombstones."""
    rm: dict[str, Any] = {
        "path": rel,
        "deletionTimestamp": now_ms,
        "dataChange": data_change,
    }
    if add and add.get("partitionValues"):
        # the spec marks remove.partitionValues optional but real writers
        # emit it; CDF readers use it to attribute removed files without
        # replaying the add
        rm["partitionValues"] = add["partitionValues"]
    if add and add.get("deletionVector"):
        rm["deletionVector"] = add["deletionVector"]
    return {"remove": rm}


def _move_staged_adds(
    staging: str,
    path: str,
    now_ms: int,
    data_change: bool = True,
    skip_minmax: frozenset[str] = frozenset(),
    stats_cols: frozenset[str] | None = None,
) -> list[dict[str, Any]]:
    """Move every staged parquet out of ``staging`` into the table root
    (preserving hive partition subdirectories) and return their add
    actions — the one walk every rewriting op (write/MERGE/DELETE/
    OPTIMIZE) shares. Hive dirs like ``lang=en`` become the add's
    ``partitionValues``: Spark %-escapes special chars in dir names
    (``lang=pt:BR`` → ``lang=pt%3ABR``) and writes nulls as
    ``__HIVE_DEFAULT_PARTITION__``, but the log must store the LOGICAL
    values (unescaped, null) as real Delta does, or partition_filter
    comparisons (and delta-rs/delta-spark interop) silently match
    nothing. Zero-row parts (empty shuffle partitions, over-provisioned
    range partitions) are skipped — committing them would permanently
    add files every read lists and opens. The staging dir is removed."""
    import shutil

    adds: list[dict[str, Any]] = []
    for root, _dirs, files_ in os.walk(staging):
        for name in sorted(files_):
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(root, staging)
            rel = name if rel_dir == "." else os.path.join(rel_dir, name)
            pvals = {
                k: (None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw))
                for k, raw in (
                    part.split("=", 1)
                    for part in rel.split(os.sep)[:-1]
                    if "=" in part
                )
            }
            src = os.path.join(root, name)
            stats = _file_stats(
                src, skip_minmax=skip_minmax, stats_cols=stats_cols
            )
            if stats and json.loads(stats).get("numRecords") == 0:
                continue
            dest = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(src, dest)  # part names UUID-unique
            add: dict[str, Any] = {
                "path": rel,
                "partitionValues": pvals,
                "size": os.path.getsize(dest),
                "modificationTime": now_ms,
                "dataChange": data_change,
            }
            if stats:
                add["stats"] = stats
            adds.append({"add": add})
    shutil.rmtree(staging)
    return adds


def _cdf_enabled(config: dict[str, str]) -> bool:
    return config.get("delta.enableChangeDataFeed") == "true"


def _stage_cdc_actions(
    path: str,
    change_df: DataFrame,
    schema: T.StructType,
    partition_cols: list[str],
    cm_mode: str,
) -> list[dict[str, Any]]:
    """Write ``change_df`` (the LOGICAL table columns plus a
    ``_change_type`` string column) as change data files under
    ``_change_data/`` and return the commit's ``cdc`` actions — the
    spec's Change Data Feed write contract for commits whose changes
    cannot be derived from add/remove actions alone (UPDATE/MERGE/
    DELETE/overwrite). Data columns ride in the files under the table's
    PHYSICAL names (column mapping applies to change data files too,
    same as data files); ``_change_type`` is a metadata column and is
    stored verbatim; partition values ride on each ``cdc`` action
    (authoritative per the spec — hive dirs under ``_change_data/`` are
    layout, not truth); ``dataChange`` is always false. Zero-row parts
    are skipped like ``_move_staged_adds``. Cost ∝ the CHANGED rows
    only — a DELETE touching 1% of a 100 TB table emits 1%-sized change
    files, never a table copy.

    Reference precedent: the reference repo's medallion notebook relies
    on delta-spark's CDF (notebooks/benchmarking_medallion.py) — this
    is the write half our ``table_changes`` reader already consumes."""
    import shutil

    from pyspark.sql import functions as F

    cm = cm_mode in ("name", "id")
    phys_of = {
        f.name: (_physical_name(f) if cm else f.name) for f in schema.fields
    }
    staging = os.path.join(path, f"_staging-cdc-{uuid.uuid4().hex}")
    writer = _physical_frame(
        change_df, schema, cm_mode, extras=("_change_type",)
    ).write.mode("errorifexists")
    if partition_cols:
        writer = writer.partitionBy(*[phys_of[p] for p in partition_cols])
    writer.parquet(staging)
    actions: list[dict[str, Any]] = []
    for root, _dirs, files_ in os.walk(staging):
        for name in sorted(files_):
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(root, staging)
            rel = name if rel_dir == "." else os.path.join(rel_dir, name)
            pvals = {
                k: (None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw))
                for k, raw in (
                    part.split("=", 1)
                    for part in rel.split(os.sep)[:-1]
                    if "=" in part
                )
            }
            src = os.path.join(root, name)
            stats = _file_stats(src)
            if stats and json.loads(stats).get("numRecords") == 0:
                continue
            dest = os.path.join(path, "_change_data", rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(src, dest)
            actions.append(
                {
                    "cdc": {
                        "path": "/".join(["_change_data"] + rel.split(os.sep)),
                        "partitionValues": pvals,
                        "size": os.path.getsize(dest),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(staging)
    return actions


def _discard_cdc_files(
    path: str, cdc_actions: list[dict[str, Any]]
) -> None:
    """Best-effort removal of staged _change_data files after a FAILED
    operation — without it every post-staging validation failure
    orphans change files until vacuum's retention clock reclaims them.
    (Commit-retry exhaustion keeps the shared orphan posture data files
    have: invisible to readers, vacuum-reclaimable.)"""
    for a in cdc_actions:
        try:
            os.remove(os.path.join(path, a["cdc"]["path"]))
        except OSError:
            pass


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    extra_actions: list[dict[str, Any]] | None = None,
    partition_by: list[str] | None = None,
    max_retries: int = 5,
    merge_schema: bool = False,
    cluster_by: list[str] | None = None,
) -> int:
    """Commit ``df`` to the Delta table at ``path``; returns the version.

    Data files are fully written (into a staging dir, then moved to the
    table root under their Spark-unique part names) BEFORE the commit
    JSON exists — the O_EXCL create of ``_delta_log/N.json`` is the
    atomicity point, so readers can never observe a half-written commit
    and a concurrent writer of the same version loses with
    FileExistsError (retry = Delta's optimistic concurrency).

    ``partition_by`` writes hive-layout partition directories whose
    values are recorded as the add actions' ``partitionValues`` — the
    log-level partition pruning real Delta readers use (see
    ``read_delta(partition_filter=...)``); the column list is fixed at
    table creation, as in Delta.

    Losing a version race retries through ``_commit_with_retry`` (up to
    ``max_retries``; 0 = raw primitive, loser raises FileExistsError):
    blind appends racing each other both land at consecutive versions
    (as in real Delta's WriteSerializable); an overwrite keeps its
    original remove set on retry, so concurrently-appended files survive
    it — also Delta's behavior — and raises
    ``DeltaConcurrentModification`` if a rival rewrote the same files.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append or overwrite")
    os.makedirs(_log_dir(path), exist_ok=True)
    versions = _list_versions(path)
    version = (versions[-1] + 1) if versions else 0
    if cluster_by is not None:
        # clustered-table CREATE (round-12, delta-spark CREATE TABLE ...
        # CLUSTER BY): the clustering columns live in delta.clustering
        # domain metadata, not partitionColumns — delta-spark forbids
        # combining them, and re-clustering an existing table is ALTER
        # territory (set_clustering_columns), not a write
        if version > 0:
            raise ValueError(
                f"cluster_by applies at table creation only; Delta table "
                f"at {path} already exists — use set_clustering_columns"
            )
        if partition_by:
            raise ValueError(
                "a clustered table cannot also be hive-partitioned "
                "(delta-spark forbids CLUSTER BY + PARTITIONED BY); "
                "pick one"
            )
        top = set(df.schema.fieldNames())
        missing = [c for c in cluster_by if c not in top]
        if missing:
            raise ValueError(
                f"cluster_by columns {missing} not in the schema "
                "(nested clustering columns are not supported — "
                "pass zorder_by to optimize_delta explicitly instead)"
            )
    config: dict[str, str] = {}
    evolved_meta: dict[str, Any] | None = None
    cm_mode = "none"
    cm_schema: T.StructType | None = None
    gens_schema = df.schema
    row_tracking = False
    idents: list[tuple[str, int, int, int | None, bool]] = []
    if version > 0:
        # Delta schema enforcement: an append/overwrite whose schema
        # drifts from the table's metaData is rejected, not silently
        # unioned — unless the caller opts into evolution with
        # ``merge_schema`` (Delta's mergeSchema): new columns append to
        # the table schema via a fresh metaData action in THIS commit,
        # table columns the batch lacks fill with typed nulls, and a
        # type change on an existing column still raises. Compare
        # names+types only — nullability differs spuriously between
        # construction paths (spark.range yields non-null,
        # createDataFrame yields nullable) and a nullable/non-null flip
        # is not a data-incompatibility here.
        _, table_schema, table_pcols, meta = _replay(path, versions[-1])
        gens_schema = table_schema
        config = dict(meta.get("configuration", {}))
        cm_mode = _column_mapping_mode(meta)
        row_tracking = "rowTracking" in set(
            _latest_protocol(path, versions[-1]).get("writerFeatures") or []
        )
        if mode == "overwrite" and config.get("delta.appendOnly") == "true":
            raise ValueError(
                f"Delta table at {path} is delta.appendOnly=true: "
                "overwrite (which removes files) is blocked"
            )
        if cm_mode in ("name", "id"):
            # column-mapping WRITE (round-9 late): data files carry
            # PHYSICAL column names (and, in id mode, parquet field
            # ids). The incoming frame is logical — compare against the
            # table's logical schema with field metadata STRIPPED (the
            # columnMapping bookkeeping is not a data incompatibility),
            # rename to physical below. Evolution (round-11): new
            # columns get fresh ids + uuid physical names and
            # delta.columnMapping.maxColumnId advances in the same
            # commit — see _assign_cm_fields.
            if cm_mode == "id" and any(
                isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
                for f in table_schema.fields
            ):
                raise ValueError(
                    f"Delta table at {path} uses id-mode column mapping "
                    "with nested columns — nested field-id writes are "
                    "not supported"
                )
            cm_schema = table_schema
        idents = _identity_fields(table_schema)
        if idents:
            # identity columns (round-11, writer v6 / identityColumns
            # feature): absent columns get ASSIGNED values from the
            # schema's high-water mark — base + step·monotonic-id, the
            # same per-partition block allocation delta-spark uses
            # (unique, lattice-aligned, gaps legal) with zero extra
            # jobs; the mark advances from the staged files' footer
            # stats at commit time. GENERATED ALWAYS refuses explicit
            # values; BY DEFAULT accepts them and still advances the
            # mark past them.
            from pyspark.sql import functions as F

            by_field = {f.name: f for f in table_schema.fields}
            df_cols = set(df.columns)
            for name, start, step, hwm, allow_explicit in idents:
                if name in df_cols:
                    if not allow_explicit:
                        raise ValueError(
                            f"column {name!r} of Delta table at {path} "
                            "is GENERATED ALWAYS AS IDENTITY: explicit "
                            "values are not allowed — omit the column "
                            "and the writer assigns them"
                        )
                    continue
                base = _identity_next(start, step, hwm)
                df = df.withColumn(
                    name,
                    (
                        F.lit(base)
                        + F.lit(step) * F.monotonically_increasing_id()
                    ).cast(by_field[name].dataType),
                )
            in_table = [c for c in table_schema.fieldNames() if c in set(df.columns)]
            df = df.select(
                *in_table,
                *[c for c in df.columns if c not in set(in_table)],
            )
        if [(f.name, _plain_type(f.dataType)) for f in df.schema.fields] != [
            (f.name, _plain_type(f.dataType)) for f in table_schema.fields
        ]:
            if not merge_schema:
                raise ValueError(
                    f"schema mismatch vs Delta table at {path}: "
                    f"table={table_schema.simpleString()} "
                    f"df={df.schema.simpleString()} "
                    "(pass merge_schema=True to evolve)"
                )
            df, merged_schema = _evolve_schema(df, table_schema)
            gens_schema = merged_schema
            if [(f.name, f.dataType) for f in merged_schema.fields] != [
                (f.name, f.dataType) for f in table_schema.fields
            ]:
                if _schema_has_ntz(merged_schema) and not _schema_has_ntz(
                    table_schema
                ):
                    # a new ntz column demands the timestampNtz protocol
                    # feature on BOTH sides — an implicit upgrade is
                    # against this writer's posture; refuse
                    raise ValueError(
                        f"schema evolution on Delta table at {path} "
                        "would add a TIMESTAMP WITHOUT TIME ZONE column, "
                        "which requires the timestampNtz protocol "
                        "feature — create the table with the ntz column "
                        "instead (write_delta declares the feature at "
                        "creation)"
                    )
                if _schema_has_variant(
                    merged_schema
                ) and not _schema_has_variant(table_schema):
                    # same posture for VARIANT (round-11)
                    raise ValueError(
                        f"schema evolution on Delta table at {path} "
                        "would add a VARIANT column, which requires the "
                        "variantType protocol feature — create the "
                        "table with the variant column instead "
                        "(write_delta declares the feature at creation)"
                    )
                evolved_meta = dict(meta)
                if cm_mode in ("name", "id"):
                    merged_schema, config = _assign_cm_fields(
                        merged_schema, table_schema, config, path
                    )
                    cm_schema = merged_schema
                    gens_schema = merged_schema
                    evolved_meta["configuration"] = config
                evolved_meta["schemaString"] = merged_schema.json()
        if partition_by is None:
            # delta-spark behavior: a write that does not specify
            # partitioning ADOPTS the table's (partitionBy on appends is
            # optional there); only an EXPLICIT mismatch is an error
            partition_by = list(table_pcols)
        elif list(partition_by) != table_pcols:
            raise ValueError(
                f"partition columns fixed at table creation: "
                f"table={table_pcols} write={list(partition_by)}"
            )

    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    staged_df = df
    staged_partition_by = list(partition_by or [])
    if cm_schema is not None:
        # logical → physical rename; hive dirs must carry physical
        # partition-column names (the spec's on-disk convention)
        staged_df = _physical_frame(df, cm_schema, cm_mode)
        phys_by_logical = {f.name: _physical_name(f) for f in cm_schema.fields}
        staged_partition_by = [
            phys_by_logical[p] for p in staged_partition_by
        ]
    writer = staged_df.write.mode("errorifexists")
    if staged_partition_by:
        writer = writer.partitionBy(*staged_partition_by)
    writer.parquet(staging)
    viol = _violated_constraint(
        df.sparkSession,
        staging,
        # the TABLE-authoritative schema (not df.schema): an append's
        # incoming frame does not carry the table's delta.invariants
        # field metadata, and a reader-schema column the batch omitted
        # reads as NULL — exactly the value the rule must judge
        cm_schema if cm_schema is not None else gens_schema,
        config,
        cm_mode,
    )
    if viol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"{viol[0]} ({viol[1]}) violated by write "
            f"to Delta table at {path}"
        )
    gviol = _violated_generated(
        df.sparkSession,
        staging,
        cm_schema if cm_schema is not None else df.schema,
        cm_mode,
        _generated_exprs(gens_schema),
    )
    if gviol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"generated column {gviol[0]} must equal ({gviol[1]}) on "
            f"every row written to Delta table at {path} — supplied "
            "values diverge"
        )
    now_ms = int(time.time() * 1000)
    adds = _move_staged_adds(
        staging,
        path,
        now_ms,
        skip_minmax=_collated_top_columns(gens_schema, cm_mode),
        stats_cols=_indexed_stats_columns(gens_schema, config, cm_mode),
    )

    actions: list[dict[str, Any]] = []
    if version == 0:
        # type-triggered protocol features, declared on BOTH sides at
        # creation: timestampNtz (reader v3 + writer v7) so external
        # engines read the isAdjustedToUTC=false parquet correctly
        # instead of shifting wall-clock values, and variantType
        # (round-11, same shape) so they decode the Variant binary
        # encoding instead of surfacing raw struct bytes
        typed_feats = []
        if _schema_has_ntz(df.schema):
            typed_feats.append("timestampNtz")
        if _schema_has_variant(df.schema):
            typed_feats.append("variantType")
        # collations are writer-only (plain UTF-8 bytes read fine
        # everywhere) — declared in writerFeatures, never readerFeatures
        writer_only_feats = (
            ["collations-preview"] if _schema_has_collation(df.schema) else []
        )
        if cluster_by is not None:
            # liquid-clustering marker (round-12): the feature's writer
            # obligation is preserving the delta.clustering domain —
            # which requires the domainMetadata feature too
            writer_only_feats = writer_only_feats + [
                "clustering",
                "domainMetadata",
            ]
        if typed_feats or writer_only_feats:
            proto: dict[str, Any] = {
                "minReaderVersion": 3 if typed_feats else 1,
                "minWriterVersion": 7,
                "writerFeatures": [
                    "appendOnly",
                    "invariants",
                    "checkConstraints",
                ]
                + typed_feats
                + writer_only_feats,
            }
            if typed_feats:
                proto["readerFeatures"] = list(typed_feats)
            actions.append({"protocol": proto})
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": list(partition_by or []),
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
        if cluster_by is not None:
            # delta-spark's ClusteringMetadataDomain shape: each column
            # is an array of PHYSICAL name parts (physical == logical on
            # a fresh non-mapped table)
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {
                                "clusteringColumns": [
                                    [c] for c in cluster_by
                                ]
                            }
                        ),
                        "removed": False,
                    }
                }
            )
    meta_to_ship = evolved_meta
    if idents:
        # identity allocation state lives in the schema field metadata:
        # an assigning (or mark-advancing explicit) write ships a
        # metaData action with the bumped highWaterMark in this commit
        ident_marks = _identity_marks_from_adds(
            adds,
            idents,
            phys_of=(
                {f.name: _physical_name(f) for f in cm_schema.fields}
                if cm_schema is not None
                else None
            ),
        )
        if ident_marks:
            meta_to_ship = _identity_stamped_meta(
                meta_to_ship if meta_to_ship is not None else meta,
                ident_marks,
            )
    if meta_to_ship is not None:
        actions.append({"metaData": meta_to_ship})
    cdc_actions: list[dict[str, Any]] = []
    if mode == "overwrite" and version > 0:
        prior_active, _, _, _ = _replay(path, versions[-1])
        for rel, prior_add in prior_active.items():
            actions.append(_remove_action(rel, prior_add, now_ms))
        if _cdf_enabled(config):
            # CDF write contract (round-10): an overwrite commit carries
            # BOTH dataChange adds and removes, which no CDF reader can
            # derive — the change rows (every prior row as delete, every
            # new row as insert) must ride in _change_data files
            # referenced by cdc actions. Costs one extra pass over old +
            # new rows; appends stay cdc-free (derived as inserts).
            from pyspark.sql import functions as F

            out_schema = cm_schema if cm_schema is not None else df.schema
            prior_rows = read_delta(df.sparkSession, path, version=versions[-1])
            for f in out_schema.fields:
                if f.name not in prior_rows.columns:
                    prior_rows = prior_rows.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            names = [f.name for f in out_schema.fields]
            change_df = (
                prior_rows.select(*names)
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    df.select(*names).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            )
            cdc_actions = _stage_cdc_actions(
                path, change_df, out_schema, list(partition_by or []), cm_mode
            )
    tail: list[dict[str, Any]] = list(extra_actions or []) + cdc_actions
    tail.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    )
    extra_feats = set()
    if cm_mode in ("name", "id"):
        # this write renamed its columns to the table's physical names,
        # so it upholds the columnMapping writer requirement (the DML
        # verbs pass it too since round 9 — their rewrite paths read
        # physical parquet and present logical)
        extra_feats.add("columnMapping")
    if version > 0:
        # changeDataFeed is upheld by construction: appends are add-only
        # commits (CDF readers derive them as inserts, no cdc action
        # required by the spec) and overwrites emitted cdc actions above
        # when the feed is enabled
        extra_feats.add("changeDataFeed")
        # generatedColumns is upheld by the staged-data validation above
        extra_feats.add("generatedColumns")
    if idents:
        # upheld: values assigned from (and mark advanced past) the
        # schema's high-water mark in this very commit
        extra_feats.add("identityColumns")
    if row_tracking:
        extra_feats.update({"rowTracking", "domainMetadata"})
        return _commit_row_tracking(
            path, actions, adds, tail, mode, max_retries, frozenset(extra_feats)
        )
    return _commit_with_retry(
        path,
        version,
        actions + adds + tail,
        max_retries=max_retries,
        # blind appends qualify for the append-only protocol relaxation
        # (deletionVectors tables accept them); everything else mutates
        commit_operation="append" if mode == "append" else "mutate",
        # version>0 means this write enforced the snapshot's schema,
        # CHECK constraints, and appendOnly gate — a rival metaData/
        # protocol commit invalidates that derivation
        read_metadata=version > 0,
        extra_features=frozenset(extra_feats),
    )


def _commit_row_tracking(
    path: str,
    head: list[dict[str, Any]],
    adds: list[dict[str, Any]],
    tail: list[dict[str, Any]],
    mode: str,
    max_retries: int,
    extra_feats: frozenset[str],
) -> int:
    """Commit a write into a rowTracking table (round-9 late — the
    feature newer delta-spark runtimes enable BY DEFAULT): every add
    gets fresh ``baseRowId``/``defaultRowCommitVersion`` and the commit
    bumps the ``delta.rowTracking`` high-water mark domainMetadata.

    Both stamps are functions of the COMMIT VERSION and the CURRENT
    high-water mark, so a lost version race cannot re-commit verbatim
    (reused row ids would collide, a stale defaultRowCommitVersion
    would lie): this loop re-reads the mark and re-stamps per attempt,
    with the rival analysis _commit_with_retry would have done —
    metaData/protocol rivals, remove-set conflicts and rival
    SetTransactions for our own appId (the zombie-writer double-commit
    guard) raise for re-derivation; disjoint appends just re-stamp and
    land."""
    our_removes = {a["remove"]["path"] for a in head if "remove" in a}
    own_txn_apps = {a["txn"]["appId"] for a in tail if "txn" in a}
    for attempt in range(max_retries + 1):
        versions = _list_versions(path)
        target = versions[-1] + 1
        hwm = _row_id_high_water_mark(path, versions[-1])
        next_base = (hwm if hwm is not None else -1) + 1
        stamped: list[dict[str, Any]] = []
        for act in adds:
            a = dict(act["add"])
            stats = a.get("stats")
            n = json.loads(stats).get("numRecords") if stats else None
            if n is None:
                raise ValueError(
                    f"cannot assign baseRowId for {a['path']}: staged "
                    "file has no numRecords stats"
                )
            a["baseRowId"] = next_base
            a["defaultRowCommitVersion"] = target
            next_base += int(n)
            stamped.append({"add": a})
        dm = {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": next_base - 1}
                ),
                "removed": False,
            }
        }
        try:
            return _commit_with_retry(
                path,
                target,
                head + stamped + [dm] + tail,
                max_retries=0,
                commit_operation="append" if mode == "append" else "mutate",
                extra_features=extra_feats,
            )
        except FileExistsError:
            if attempt == max_retries:
                raise
            latest = _list_versions(path)[-1]
            for v in range(target, latest + 1):
                try:
                    rival = _read_actions(path, v)
                except OSError:
                    continue
                for a in rival:
                    if "metaData" in a or "protocol" in a:
                        raise DeltaConcurrentModification(
                            f"concurrent metaData/protocol commit at "
                            f"version {v} invalidates this write's "
                            "snapshot-derived schema/config — re-derive"
                        ) from None
                    if (
                        "remove" in a
                        and a["remove"]["path"] in our_removes
                    ):
                        raise DeltaConcurrentModification(
                            f"concurrent commit at version {v} removed "
                            "files this overwrite also removes — stale "
                            "snapshot, re-derive"
                        ) from None
                    if "txn" in a and a["txn"].get("appId") in own_txn_apps:
                        raise DeltaConcurrentModification(
                            f"concurrent txn commit for appId "
                            f"{a['txn'].get('appId')!r} at version {v}: "
                            "idempotence state is stale — re-check "
                            "last_txn_version and retry"
                        ) from None
    raise AssertionError("unreachable")


class DeltaConcurrentModification(Exception):
    """A rival commit invalidated this transaction (it removed files the
    transaction read or also rewrote) — the caller must re-read the table
    and re-derive its writes; a blind retry would lose the rival's work."""


def _prev_commit_timestamp(path: str, version: int) -> int:
    """The effective timestamp of commit ``version`` for ICT
    monotonicity: its ``inCommitTimestamp`` when present, else
    ``commitInfo.timestamp``, else the commit file's mtime (the spec's
    fallback clock for pre-enablement commits). -1 when there is no
    such commit (table creation)."""
    if version < 0:
        return -1
    try:
        acts = _read_actions(path, version)
    except OSError:
        return -1
    info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
    ts = info.get("inCommitTimestamp")
    if ts is None:  # explicit None check: a legitimate clock of 0 counts
        ts = info.get("timestamp")
    if ts is None:
        try:
            ts = int(os.path.getmtime(_commit_file(path, version)) * 1000)
        except OSError:
            return -1
    return int(ts)


def _stamp_in_commit_timestamp(
    path: str, version: int, actions: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """The inCommitTimestamp writer obligation (round-10, default-on in
    newer delta-spark runtimes), applied at the commit choke point so
    EVERY write path upholds it: when the table (or this commit's own
    metaData) enables delta.enableInCommitTimestamps, commitInfo becomes
    the FIRST action and carries a STRICTLY MONOTONIC
    ``inCommitTimestamp`` = max(now, previous commit's timestamp + 1).
    Re-invoked per retry attempt — after losing a version race the
    previous commit changed, so the stamp must be recomputed (a verbatim
    re-commit could go backwards in time). A caller-preset
    ``inCommitTimestamp`` that is still monotonic is preserved (the
    enablement commit pins its own value so the
    delta.inCommitTimestampEnablement* keys can equal it exactly).
    The CALLER decides enablement (one metadata probe shared with the
    write gate — see _commit_with_retry's ict_on) so plain tables pay
    zero extra log scans per commit."""
    info_action = next((a for a in actions if "commitInfo" in a), None)
    rest = [a for a in actions if "commitInfo" not in a]
    info = dict(info_action["commitInfo"]) if info_action else {
        "timestamp": int(time.time() * 1000),
        "operation": "WRITE",
        "operationParameters": {},
    }
    prev = _prev_commit_timestamp(path, version - 1)
    preset = info.get("inCommitTimestamp")
    if preset is not None and int(preset) > prev:
        ict = int(preset)
    else:
        ict = max(int(time.time() * 1000), prev + 1)
    info["inCommitTimestamp"] = ict
    return [{"commitInfo": info}] + rest


def _commit(path: str, version: int, actions: list[dict[str, Any]]) -> None:
    """Durability THEN visibility: the payload is fully written and
    fsynced to a temp file first, and os.link publishes it as an atomic
    put-if-absent (EEXIST = a rival committed this version first). A
    writer killed mid-write leaves only an invisible temp file — a
    reader can never observe an empty/truncated commit, which creating
    the final file with O_EXCL and writing afterwards could not promise.

    On success, auto-checkpoints every ``CHECKPOINT_INTERVAL`` versions;
    a checkpoint failure never fails the (already durable) commit."""
    payload = "".join(json.dumps(a) + "\n" for a in actions)
    tmp = os.path.join(_log_dir(path), f".{version:020d}-{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload.encode())
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _commit_file(path, version))
    finally:
        os.remove(tmp)
    interval = CHECKPOINT_INTERVAL
    cp = _latest_checkpoint_version(path, at_or_below=version)
    behind = version - (cp if cp is not None else 0)
    if behind > CHECKSUM_MAX_REPLAY_COMMITS:
        # ADVICE r11: checksum emission replays table state per commit;
        # with no checkpoint within a bounded distance (persistently
        # failing checkpoints, or a very large delta.checkpointInterval)
        # each commit's replay grows O(V) — an O(V²) aggregate with no
        # visible signal. Checksums are a consistency AID (delta-spark
        # tolerates their absence), so skip emission and SAY SO once
        # per table instead of silently degrading every commit.
        _warn_once(
            path,
            "checksum-paused",
            f"Delta table at {path}: no checkpoint within "
            f"{CHECKSUM_MAX_REPLAY_COMMITS} commits of version {version} "
            "— skipping per-commit .crc checksum emission until one "
            "lands (checkpoints may be failing; see earlier warnings)",
        )
        try:
            cfg = _latest_metadata(path, version).get("configuration", {})
            interval = int(cfg.get("delta.checkpointInterval", interval) or 0)
        except Exception:
            pass
    else:
        try:
            # version checksums are a consistency aid, never a
            # durability dependency — same posture as checkpoints
            # below. The checksum replay already resolved the governing
            # metadata, so the per-table delta.checkpointInterval
            # (delta-spark's property) rides along for free instead of
            # costing a second log walk.
            crc = _compute_version_checksum(path, version)
            _publish_version_checksum(path, version, crc)
            cfg = crc["metadata"].get("configuration", {})
            interval = int(cfg.get("delta.checkpointInterval", interval) or 0)
        except Exception as e:
            _warn_once(
                path,
                "checksum-failed",
                f"Delta table at {path}: version-checksum emission "
                f"failed at version {version} ({type(e).__name__}: {e}) "
                "— commits stay durable; .crc files will be missing",
            )
    if interval and version > 0 and version % interval == 0:
        try:
            write_checkpoint(path, version)
        except Exception as e:
            # checkpoints are a read optimization — the commit is already
            # durable and the next interval boundary will retry
            _warn_once(
                path,
                "checkpoint-failed",
                f"Delta table at {path}: checkpoint write failed at "
                f"version {version} ({type(e).__name__}: {e}) — reads "
                "stay correct but log replay lengthens until one succeeds",
            )


def _checksum_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.crc")


def _compute_version_checksum(path: str, version: int) -> dict[str, Any]:
    """Recompute the VersionChecksum payload for ``version`` from the
    log itself — the reference values a ``.crc`` file must carry.
    Field names follow delta-spark's VersionChecksum record (the file
    is a delta-spark implementation artifact, not PROTOCOL.md, but the
    format is public via the delta-io repo): tableSizeBytes / numFiles
    count ACTIVE adds, numMetadata/numProtocol are 1 for any
    materialized snapshot, and the optional fields appear only when
    the table state carries them — mirroring how delta-spark omits
    absent Options from the JSON."""
    active, _schema, _pcols, meta = _replay(path, version)
    # ONE supplementary pass for txn marks, domain metadata, and the
    # governing protocol (instead of _collect_txns +
    # _collect_domain_metadata + _latest_protocol each re-walking the
    # same checkpoint-accelerated range): checksum emission runs on
    # EVERY commit, so its per-commit cost is two walks, not five —
    # and the commit JSONs themselves come from the parsed-action cache
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    proto: dict[str, Any] = {"minReaderVersion": 1, "minWriterVersion": 2}
    cp = _latest_checkpoint_version(path, at_or_below=version)
    batches = []
    if cp is not None:
        batches.append(_read_checkpoint_actions(path, cp))
    for v in _list_versions(path):
        if (cp is not None and v <= cp) or v > version:
            continue
        batches.append(_read_actions(path, v))
    for batch in batches:
        for action in batch:
            t = action.get("txn")
            if t:
                txns[t["appId"]] = max(
                    txns.get(t["appId"], -1), int(t["version"])
                )
            dm = action.get("domainMetadata")
            if dm and dm.get("domain"):
                domains[dm["domain"]] = dm
            p = action.get("protocol")
            if p:
                proto = p
    crc: dict[str, Any] = {
        "tableSizeBytes": sum(int(a.get("size", 0)) for a in active.values()),
        "numFiles": len(active),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": meta,
        "protocol": proto,
    }
    dvs = [a["deletionVector"] for a in active.values() if a.get("deletionVector")]
    if dvs:
        crc["numDeletionVectorsOpt"] = len(dvs)
        crc["numDeletedRecordsOpt"] = sum(int(d.get("cardinality", 0)) for d in dvs)
    for action in _read_actions(path, version):
        info = action.get("commitInfo")
        if info and info.get("inCommitTimestamp") is not None:
            crc["inCommitTimestampOpt"] = int(info["inCommitTimestamp"])
            break
    if txns:
        crc["setTransactions"] = [
            {"appId": app, "version": v} for app, v in sorted(txns.items())
        ]
    doms = [dm for _, dm in sorted(domains.items()) if not dm.get("removed")]
    if doms:
        crc["domainMetadata"] = doms
    return crc


def write_version_checksum(path: str, version: int) -> str:
    """Write ``_delta_log/<version>.crc`` — the per-version state
    checksum delta-spark emits alongside every commit (VersionChecksum:
    active-file count and bytes, the governing metadata/protocol, DV
    totals, txn high-water marks, domain metadata, the commit's
    inCommitTimestamp). External delta-spark readers use it to
    short-circuit state reconstruction and to cross-check replay;
    :func:`verify_version_checksum` is this engine's read-side check.
    Racing writers of the SAME version compute identical content, so
    the temp + rename publish keeps concurrent re-writes harmless.
    Cost: one checkpoint-accelerated log replay per commit — the same
    bound as the auto-checkpoint cadence. Returns the file path."""
    return _publish_version_checksum(
        path, version, _compute_version_checksum(path, version)
    )


def _publish_version_checksum(
    path: str, version: int, crc: dict[str, Any]
) -> str:
    target = _checksum_file(path, version)
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(crc))
    os.replace(tmp, target)
    return target


def verify_version_checksum(path: str, version: int | None = None) -> dict[str, Any]:
    """Validate the stored ``<version>.crc`` against a fresh replay of
    the log (default: latest version). Compares every field the stored
    file CARRIES against the recomputed value — fields an external
    writer chose to omit (or extras like delta-spark's histogramOpt /
    allFiles, which this engine does not model) are ignored, matching
    delta-spark's tolerance for partial checksums. Raises
    FileNotFoundError when no ``.crc`` exists for the version and
    ValueError naming every mismatched field on corruption; returns
    the parsed stored checksum on success."""
    if version is None:
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        version = versions[-1]
    target = _checksum_file(path, version)
    if not os.path.exists(target):
        raise FileNotFoundError(f"no version checksum {os.path.basename(target)} at {path}")
    with open(target) as f:
        stored = json.loads(f.read())
    expected = _compute_version_checksum(path, version)
    # the comparison is over the stored file's OWN keys (restricted to
    # the fields this engine models): a stored optional the replay
    # omitted — e.g. numDeletedRecordsOpt on a DV-free table — compares
    # against the optional's natural empty value instead of being
    # skipped, so corruption in any modeled field is caught while
    # foreign fields (histogramOpt, allFiles) stay ignored
    empty_optionals: dict[str, Any] = {
        "numDeletionVectorsOpt": 0,
        "numDeletedRecordsOpt": 0,
        "setTransactions": [],
        "domainMetadata": [],
        "inCommitTimestampOpt": None,
    }
    modeled = set(expected) | set(empty_optionals)
    mismatches = []
    for key in stored:
        if key not in modeled:
            continue
        want = expected.get(key, empty_optionals.get(key))
        if stored[key] != want:
            mismatches.append(f"{key}: stored {stored[key]!r} != replayed {want!r}")
    if mismatches:
        raise ValueError(
            f"version checksum mismatch at {path} version {version}: "
            + "; ".join(mismatches)
        )
    return stored


def _commit_with_retry(
    path: str,
    version: int,
    actions: list[dict[str, Any]],
    depends_on: frozenset[str] | set[str] = frozenset(),
    max_retries: int = 5,
    read_metadata: bool = False,
    full_table: bool = False,
    commit_operation: str = "mutate",
    extra_features: frozenset[str] = frozenset(),
) -> int:
    """Optimistic-concurrency loop around ``_commit`` — the part of
    Delta's writer protocol the raw O_EXCL primitive leaves to the
    caller. On losing a version race, examine every rival commit that
    landed since:

    - if a rival removed any file this transaction READ (``depends_on``)
      or any file this transaction also removes, the snapshot it was
      derived from is stale — raise ``DeltaConcurrentModification``
      (the caller must re-derive);
    - if a rival committed a metaData/protocol action AND this
      transaction either carries its own metaData/protocol action or
      derived its behavior from the snapshot's metadata
      (``read_metadata=True``: schema enforcement/evolution, CHECK
      constraints, appendOnly), retrying verbatim would silently drop
      the rival's schema/config change (e.g. two racing schema-evolving
      writers: the loser's stale metaData erases the winner's new
      column) or skip a concurrently-added constraint — raise, matching
      real Delta's MetadataChangedException/ProtocolChangedException;
    - ``full_table=True`` (RESTORE): the action list IS a function of
      the latest version, so ANY rival commit — even a blind append —
      invalidates it; raise without scanning.

    If the rivals are disjoint blind appends, re-commit the same actions
    at the next free version — both writers land. Returns the committed
    version."""
    our_removes = {
        a["remove"]["path"] for a in actions if "remove" in a
    }
    own_meta = any("metaData" in a or "protocol" in a for a in actions)
    own_txn_apps = {a["txn"]["appId"] for a in actions if "txn" in a}
    read_set = set(depends_on) | our_removes
    # inCommitTimestamp enablement: the commit's OWN metaData (creation /
    # ALTER / enablement commits) wins, else the snapshot's — probed
    # below only when the protocol can possibly carry the feature, so
    # plain tables pay no extra log scan per commit
    own_meta_payload = next(
        (a["metaData"] for a in actions if "metaData" in a), None
    )
    ict_on = (own_meta_payload or {}).get("configuration", {}).get(
        "delta.enableInCommitTimestamps"
    ) == "true"
    if version > 0 and not any("protocol" in a for a in actions):
        # spec-mandated writer gate: refuse to commit into a table whose
        # protocol demands capabilities this writer lacks. Transactions
        # that carry their own protocol action (constraint installs,
        # table creation) are the upgrade mechanism itself and exempt.
        proto_now = _latest_protocol(path, version - 1)
        need_meta = int(proto_now.get("minWriterVersion", 2)) in (
            4, 5, 6,
        ) or "inCommitTimestamp" in set(
            proto_now.get("writerFeatures") or []
        )
        # metadata rides along only when something consumes it: the
        # legacy v4-6 capability arm or the ICT stamp (v7 feature)
        snap_meta = (
            _latest_metadata(path, version - 1) if need_meta else None
        )
        if not ict_on and snap_meta is not None:
            ict_on = snap_meta.get("configuration", {}).get(
                "delta.enableInCommitTimestamps"
            ) == "true"
        _check_write_protocol(
            proto_now, path, commit_operation, extra_features, snap_meta
        )
        _check_column_invariants_enforceable(path, version - 1)
    elif version > 0 and not ict_on and own_meta_payload is None:
        # ADVICE r10: a commit carrying a protocol action but NO
        # metaData on an ICT-enabled table must still stamp an
        # inCommitTimestamp (every-commit-after-enablement obligation) —
        # probe the snapshot's configuration whenever any relevant
        # protocol (prior or carried) lists the feature
        feats = set(
            _latest_protocol(path, version - 1).get("writerFeatures") or []
        )
        for a in actions:
            if "protocol" in a:
                feats |= set(a["protocol"].get("writerFeatures") or [])
        if "inCommitTimestamp" in feats:
            ict_on = _latest_metadata(path, version - 1).get(
                "configuration", {}
            ).get("delta.enableInCommitTimestamps") == "true"
    for attempt in range(max_retries + 1):
        try:
            _commit(
                path,
                version,
                _stamp_in_commit_timestamp(path, version, actions)
                if ict_on
                else actions,
            )
            return version
        except FileExistsError:
            if attempt == max_retries:
                raise  # retries exhausted (or disabled): the raw primitive
            latest = _list_versions(path)[-1]
            if full_table:
                raise DeltaConcurrentModification(
                    f"full-table transaction at version {version} lost the "
                    f"race to version {latest}: its action list was derived "
                    "from the pre-race snapshot — re-derive and retry"
                ) from None
            rival_removed: set[str] = set()
            rival_meta = False
            for v in range(version, latest + 1):
                try:
                    rival_actions = _read_actions(path, v)
                except OSError:
                    continue  # rival mid-publish; its version still blocks ours
                for a in rival_actions:
                    if "remove" in a:
                        rival_removed.add(a["remove"]["path"])
                    if "metaData" in a or "protocol" in a:
                        rival_meta = True
                    if "txn" in a and a["txn"].get("appId") in own_txn_apps:
                        # a rival SetTransaction for the same appId: this
                        # transaction's idempotence check (last_txn_version,
                        # read pre-race) is stale — retrying as a blind
                        # append would commit the same batch twice. Real
                        # Delta: ConcurrentTransactionException.
                        raise DeltaConcurrentModification(
                            f"concurrent txn commit for appId "
                            f"{a['txn'].get('appId')!r} at version {v}: "
                            "idempotence state is stale — re-check "
                            "last_txn_version and retry"
                        ) from None
            if rival_meta and (own_meta or read_metadata):
                raise DeltaConcurrentModification(
                    f"concurrent metaData/protocol commit(s) up to version "
                    f"{latest} invalidate this transaction's snapshot-derived "
                    "metadata (schema/constraints/configuration) — re-read "
                    "the table and re-derive"
                ) from None
            conflict = read_set & rival_removed
            if conflict:
                raise DeltaConcurrentModification(
                    f"concurrent commit(s) up to version {latest} removed "
                    f"files this transaction depends on: {sorted(conflict)[:5]}"
                ) from None
            if rival_meta:
                # a rival may have UPGRADED the protocol mid-retry — a
                # blind append must re-gate before re-committing, or it
                # would write into a table it no longer understands
                # (and may have ENABLED inCommitTimestamps: re-probe)
                latest_meta = _latest_metadata(path, latest)
                _check_write_protocol(
                    _latest_protocol(path, latest),
                    path,
                    commit_operation,
                    extra_features,
                    latest_meta,
                )
                _check_column_invariants_enforceable(path, latest)
                ict_on = ict_on or latest_meta.get("configuration", {}).get(
                    "delta.enableInCommitTimestamps"
                ) == "true"
            version = latest + 1
    raise AssertionError("unreachable")


_SKIP_OPS = {
    "==": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


def _may_satisfy(add: dict, where: tuple[str, str, Any]) -> bool:
    """File-level data skipping on the add action's ``stats``: False only
    when the file's [min, max] range PROVABLY cannot satisfy the
    predicate. Missing/unparseable stats keep the file (skipping is an
    optimization, never a correctness gate).

    A predicate column that is a PARTITION column never appears in
    footer stats (partition values live in the hive path, not the data
    file) — it is checked against the add's ``partitionValues`` instead:
    the stored logical string parses to the probe value's type and the
    file's "range" is that single point. This is Delta's partition
    pruning, and it makes DELETE/MERGE on a partition key touch only the
    matching partitions' files."""
    col, op, val = where
    pvals = add.get("partitionValues") or {}
    if col in pvals:
        if op not in _SKIP_OPS:
            return True
        raw = pvals[col]
        if raw is None:
            return False  # NULL never satisfies a comparison (SQL)
        try:
            if isinstance(val, bool):
                point: Any = raw == "true"
            elif isinstance(val, int):
                point = int(raw)
            elif isinstance(val, float):
                point = float(raw)
            else:
                point = raw  # strings / ISO dates compare lexicographically
            return _SKIP_OPS[op](point, point, val)
        except (TypeError, ValueError):
            return True
    stats = add.get("stats")
    if not stats:
        return True
    try:
        s = json.loads(stats)
        if s.get("numRecords") == 0:
            return False  # an empty file cannot satisfy ANY row predicate
        if op not in _SKIP_OPS:
            return True
        lo, hi = s["minValues"][col], s["maxValues"][col]
        return _SKIP_OPS[op](lo, hi, val)
    except (KeyError, TypeError, ValueError):
        return True


_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def _parse_interval_ms(s: str | None) -> int | None:
    """Milliseconds from a Delta CalendarInterval retention string —
    one or more "<N> <unit>" terms after the "interval" keyword
    ("interval 30 days", "interval 1 week 2 days", case-insensitive,
    plural optional), summed. None (or an unparseable value) returns
    None — retention callers treat that as "property not set" rather
    than guessing."""
    if not s:
        return None
    term = r"(\d+)\s+(millisecond|second|minute|hour|day|week)s?"
    if not re.fullmatch(
        rf"\s*interval(\s+{term})+\s*", str(s), re.IGNORECASE
    ):
        return None
    return sum(
        int(n) * _INTERVAL_UNIT_MS[unit.lower()]
        for n, unit in re.findall(term, str(s), re.IGNORECASE)
    )


def _ts_ms(ts: int | float | str) -> int:
    """Epoch milliseconds from an int/float (already ms), a NUMERIC
    string (data-source options arrive stringified — "1723800000000"
    is epoch ms, not a date), or an ISO-8601 string (naive = UTC,
    Delta's convention)."""
    if isinstance(ts, (int, float)):
        return int(ts)
    from datetime import datetime, timezone

    # ISO-8601 first: compact forms like "20240816" are valid dates AND
    # valid floats — the date reading preserves the pre-round-11
    # behavior of every timestamp API; only non-date numerals (epoch ms
    # arriving stringified through data-source options) fall through
    try:
        dt = datetime.fromisoformat(str(ts))
    except ValueError:
        try:
            return int(float(str(ts)))
        except (ValueError, OverflowError):
            raise ValueError(f"unparseable timestamp {ts!r}") from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _adjusted_commit_timestamps(
    path: str, versions: list[int]
) -> dict[int, int]:
    """delta-spark's MONOTONIZED commit clocks (round-11, ADVICE r10):
    per version, ``max(own clock, predecessor's adjusted clock + 1)``.
    Pre-ICT clocks can regress (multi-writer wall-clock skew, the
    commit-file-mtime fallback); searching raw clocks could then resolve
    a timestamp PAST a commit newer than the target, or make a
    since_timestamp window silently skip commits. delta-spark adjusts
    before every timestamp search — match it. A version with no
    resolvable clock at all (-1) inherits predecessor+1 once any
    predecessor had one."""
    adj: dict[int, int] = {}
    prev = -1
    for v in versions:
        t = _prev_commit_timestamp(path, v)
        if prev >= 0:
            t = max(t, prev + 1)
        adj[v] = t
        if t >= 0:
            prev = t
    return adj


def version_before_timestamp(
    path: str, ts: int | float | str, label: str = "since_timestamp"
) -> int:
    """The exclusive version lower bound for a timestamp-addressed
    change window: the version just BEFORE the first commit whose
    monotonized clock is >= the target, so a (start, end] window begins
    AT that commit. The single resolution rule behind
    ``table_changes(since_timestamp=...)`` and the data source's
    ``startingTimestamp`` — a target past the latest commit raises like
    delta-spark (an empty window would read as "no changes" and let a
    mistyped cursor silently skip real ones)."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    target = _ts_ms(ts)
    adj = _adjusted_commit_timestamps(path, versions)
    latest_clock = adj[versions[-1]]
    if latest_clock >= 0 and target > latest_clock:
        raise ValueError(
            f"{label} {target} is after the latest commit of {path} "
            f"(version {versions[-1]} at {latest_clock})"
        )
    prior = [v for v in versions if 0 <= adj[v] < target]
    return prior[-1] if prior else versions[0] - 1


def version_at_timestamp(path: str, ts: int | float | str) -> int:
    """Delta's ``timestampAsOf`` resolution (round-10): the LATEST
    retained version whose commit clock is ≤ the target — per commit,
    ``inCommitTimestamp`` > ``commitInfo.timestamp`` > commit-file
    mtime, the same precedence ``table_changes`` uses, monotonized
    across versions exactly like delta-spark (see
    ``_adjusted_commit_timestamps``). Raises when the target predates
    the first retained commit (delta-spark's before-earliest error)."""
    target = _ts_ms(ts)
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    adj = _adjusted_commit_timestamps(path, versions)
    best: int | None = None
    for v in versions:
        if 0 <= adj[v] <= target:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {target} predates the first retained commit of "
            f"{path} (version {versions[0]} at {adj[versions[0]]}) — "
            "nothing to read"
        )
    return best


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict[str, Any] | None = None,
    where: tuple[str, str, Any] | None = None,
    timestamp_as_of: int | float | str | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Snapshot read as of ``version`` (default latest). The file list
    comes from the log, never from directory listing — uncommitted
    part files (a crashed writer's leftovers) are invisible, exactly
    Delta's isolation guarantee. ``timestamp_as_of`` (round-10,
    delta-spark's timestampAsOf: epoch ms or ISO-8601 string, mutually
    exclusive with ``version``) pins the snapshot to the latest commit
    at-or-before that instant via ``version_at_timestamp``.

    Two log-level pruning levers, applied before Spark sees a single
    path (the 100 TB read shape — the scan plan only ever contains the
    surviving files):
    - ``partition_filter``: equality on partitionValues ({"lang": "en"})
      — partition pruning;
    - ``where``: one (col, op, value) predicate checked against each
      file's footer-stats min/max — data skipping. Both conservative:
      files without the needed metadata are kept. The same predicate
      should still be applied to the returned DataFrame; pruning bounds
      IO, it does not implement the filter.

    ``with_row_ids=True`` (round-10, rowTracking READ surface —
    delta-spark's ``_metadata.row_id``): appends a ``_row_id`` long
    column — the file's MATERIALIZED row-id value when the reserved
    hidden column exists, else the spec's fresh derivation
    ``baseRowId + row_index``. One broadcast map join (≤ one row per
    file) over the scan; refuses when any active file lacks a
    baseRowId stamp (not a rowTracking table, or partial enablement).
    """
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError(
                "pass version OR timestamp_as_of, not both (delta-spark "
                "raises the same way)"
            )
        version = version_at_timestamp(path, timestamp_as_of)
    active, schema, partition_cols, meta = _replay(path, version)
    collated_parts = sorted(
        f.name
        for f in schema.fields
        if f.name in set(partition_cols) and _is_collated_string(f.dataType)
    )
    if collated_parts:
        # Spark cannot cast hive partition-dir values to a collated
        # string type (INVALID_PARTITION_VALUE), and binary matching of
        # the stored values would be wrong anyway — refuse the whole
        # read. Spark/delta-spark refuse to CREATE such tables, so this
        # only fires on a hand-built external log.
        raise DeltaUnsupportedProtocol(
            f"Delta table at {path} partitions by collated column(s) "
            f"{collated_parts} — unreadable: hive partition values "
            "cannot carry a collation"
        )
    # column mapping (reader v2/v3): the log's partitionValues keys,
    # per-file stats keys and hive dir names are all PHYSICAL; the
    # logical names live only in the schemaString. Resolve at the log
    # layer so pruning still works, read with the physical schema, and
    # present logical names at the end. In id-mode the parquet column
    # names are not even the physical names — resolution is by parquet
    # field id, which Spark does natively once the requested schema
    # carries parquet.field.id metadata and the fieldId.read conf is on
    # (set below and left on: the read is LAZY, and the conf only
    # affects schemas that carry field-id metadata).
    cm_mode = _column_mapping_mode(meta)
    cm = cm_mode in ("name", "id")
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    phys_of = {f.name: (_physical_name(f) if cm else f.name) for f in schema.fields}
    if partition_filter:
        unknown = set(partition_filter) - set(partition_cols)
        if unknown:
            raise ValueError(
                f"not partition columns of this table: {sorted(unknown)}"
            )
        # partitionValues hold LOGICAL values (unescaped strings, None
        # for null) — compare against the caller's value stringified the
        # same way the hive layout did, None matching null partitions
        active = {
            rel: a
            for rel, a in active.items()
            if all(
                a.get("partitionValues", {}).get(phys_of.get(k, k))
                == (None if v is None else str(v))
                for k, v in partition_filter.items()
            )
        }
    if where:
        col, op, val = where
        by_name = {f.name: f for f in schema.fields}
        if col in by_name and _is_collated_string(by_name[col].dataType):
            # binary footer bounds cannot prune collated comparisons
            # (e.g. 'A' == 'a' under UNICODE_CI falls outside a file's
            # binary ['a','m'] range) — keep every file; the row filter
            # the caller applies is collation-aware through Spark
            pass
        else:
            phys_where = (phys_of.get(col, col), op, val)
            active = {
                rel: a
                for rel, a in active.items()
                if _may_satisfy(a, phys_where)
            }
    from pyspark.sql import functions as F

    if not active:
        empty = spark.createDataFrame([], schema)
        if with_row_ids:
            empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
        return empty
    dv_by_rel = {
        rel: a["deletionVector"]
        for rel, a in active.items()
        if a.get("deletionVector")
    }
    read_schema = _reader_schema(schema, cm_mode)
    mat_col = None
    if with_row_ids:
        missing = sorted(
            rel for rel, a in active.items() if a.get("baseRowId") is None
        )
        if missing:
            raise ValueError(
                f"with_row_ids: active files of {path} carry no "
                f"baseRowId stamp ({missing[:5]}) — not a rowTracking "
                "table, or enablement never backfilled them"
            )
        mat_col = dict(meta.get("configuration", {})).get(
            "delta.rowTracking.materializedRowIdColumnName"
        )
        if mat_col:
            # the hidden column may exist in SOME files: request it,
            # absent files fill with null and fall back to derivation
            read_schema = T.StructType(
                list(read_schema.fields)
                + [T.StructField(mat_col, T.LongType(), True)]
            )
    # hive-layout partition columns materialize from the dir names
    # (basePath) or, for shallow-clone absolute paths, from the actions'
    # partitionValues (_partitioned_scan). Spark appends partition
    # columns AFTER the data columns — the projection below reorders to
    # the metaData schemaString's column order, which is what a Delta
    # reader must present (externally-written tables commonly declare
    # partition columns first)
    rels = sorted(active)
    df, pv_finish = _partitioned_scan(
        spark,
        path,
        read_schema,
        rels,
        {r: active[r].get("partitionValues") or {} for r in rels},
        schema,
        partition_cols,
        cm_mode,
    )
    if with_row_ids:
        # materialize the file key + physical row index BEFORE any join
        # (the _metadata pseudo-column is undefined after one); same
        # suffix-keyed matching the DV machinery uses
        depth = _rt_suffix_depth(rels, path)
        df = _rt_capture(df, depth)
    if dv_by_rel:
        df = _apply_deletion_vectors(
            spark, path, df, dv_by_rel, all_rels=list(active)
        )
    df = pv_finish(df)
    if with_row_ids:
        base_map = spark.createDataFrame(
            [
                (_dv_path_key(rel, depth), int(active[rel]["baseRowId"]))
                for rel in rels
            ],
            "_rt_fname string, _rt_base long",
        )
        df = df.join(F.broadcast(base_map), "_rt_fname")
        derived = F.col("_rt_base") + F.col("_rt_ridx")
        df = df.withColumn(
            "_row_id",
            F.coalesce(F.col(mat_col), derived) if mat_col else derived,
        )
        out = _present_logical(df, schema, cm_mode, extras=("_row_id",))
        return out
    if cm:
        return _to_logical_columns(df, schema)
    return df.select(*schema.fieldNames())


def merge_delta(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> int:
    """UPSERT (MERGE): rows in ``updates`` replace same-``key`` rows and
    new keys append — Delta's ``MERGE WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT`` for whole-row updates.

    Scale shape — file-targeted rewrite, the real Delta optimization:
    the updates' [min, max] key range (one tiny driver aggregate) is
    checked against each active file's footer-stats range, and ONLY
    intersecting files are read, anti-joined and rewritten; everything
    else is untouched log-wise and data-wise. A merge touching 1% of
    the key space rewrites ~1% of the table instead of all of it.
    Commit = remove(affected) + add(rewritten ∪ updates), atomic like
    any other commit. Returns the committed version.

    Partitioned tables (round-9): affected files are found the same way
    — and when ``key`` IS a partition column, ``_may_satisfy`` prunes on
    ``partitionValues`` instead of footer stats, so only matching
    partitions' files are read. Rewrites and inserted rows land back in
    hive layout via ``partitionBy``; untouched partitions never appear
    in the commit.

    Identity columns (round-12): an updates frame that OMITS the
    identity column(s) merges cleanly — matched rows inherit the target
    row's value, WHEN-NOT-MATCHED inserts are assigned fresh
    lattice-aligned values from the high-water mark, and the mark
    advances in the same commit (``_merge_attach_identity`` /
    ``_identity_marks_from_adds``). GENERATED ALWAYS columns refuse
    explicit values (delta-spark parity); BY DEFAULT columns supplied
    explicitly pass through with the mark advancing past them."""
    versions = _list_versions(path)
    if not versions:
        return write_delta(updates, path, mode="append")
    active, schema, partition_cols, _meta = _replay(path, versions[-1])
    cm_mode = _column_mapping_mode(_meta)
    cm = cm_mode in ("name", "id")
    proto = _latest_protocol(path, versions[-1])
    cm_feats = frozenset({"columnMapping"}) if cm else frozenset()
    rt_feats = _row_tracking_dml_features(proto)
    # generatedColumns: the staged output (kept rows verbatim + update
    # rows supplied whole) is validated against the generation
    # expressions before commit. identityColumns (round-12): inserts
    # are assigned from the high-water mark and the mark advances in
    # this commit — the same obligations write_delta upholds.
    grants = cm_feats | rt_feats | frozenset(
        {"changeDataFeed", "generatedColumns", "identityColumns"}
    )
    idents = _identity_fields(schema)
    upd_cols = set(updates.columns)
    explicit_always = sorted(
        n for n, _s, _st, _h, allow in idents
        if n in upd_cols and not allow
    )
    if explicit_always:
        # spec: GENERATED ALWAYS AS IDENTITY refuses explicit values on
        # every write path, MERGE included (delta-spark raises the same
        # way for its INSERT/UPDATE clauses)
        raise ValueError(
            f"column(s) {explicit_always} of Delta table at {path} are "
            "GENERATED ALWAYS AS IDENTITY: MERGE updates must omit them "
            "— matched rows keep the target's values, inserted rows are "
            "assigned fresh ones"
        )
    # identity columns the updates frame OMITS (round-12): matched rows
    # INHERIT the target row's value (identity is the row's identity —
    # an upsert must not re-key it), unmatched rows get ASSIGNED values
    # from the same base + step·monotonic-id block allocation
    # write_delta uses, and the high-water mark advances from the
    # staged footer stats in this very commit. BY DEFAULT columns
    # supplied explicitly pass through verbatim (mark still advances
    # past them).
    omitted_idents = [i for i in idents if i[0] not in upd_cols]
    if any(n == key for n, *_ in omitted_idents):
        raise ValueError(
            f"MERGE key {key!r} is an identity column the updates frame "
            "omits — supply it (BY DEFAULT tables) or key on another "
            "column"
        )
    ident_expect = T.StructType(
        [
            f
            for f in schema.fields
            if f.name not in {n for n, *_ in omitted_idents}
        ]
    )
    # fail fast: the commit gate re-checks after staging, but staging a
    # MERGE against a feature-gated table is pure wasted IO
    _check_write_protocol(proto, path, extra_features=grants, meta=_meta)
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    phys_of = {f.name: (_physical_name(f) if cm else f.name) for f in schema.fields}
    # the same name+type enforcement write_delta applies: an updates
    # frame whose schema drifts would otherwise be staged and committed
    # VERBATIM (the no-affected-files arm writes it directly), leaving a
    # metaData that disagrees with the new parquet — every later
    # schema'd read then fails on type conversion. MERGE does not evolve
    # schemas (align the frame first, or write_delta(merge_schema=True)).
    if [(f.name, _plain_type(f.dataType)) for f in updates.schema.fields] != [
        (f.name, _plain_type(f.dataType)) for f in ident_expect.fields
    ]:
        raise ValueError(
            f"schema mismatch vs Delta table at {path}: "
            f"table={ident_expect.simpleString()} "
            f"updates={updates.schema.simpleString()} "
            "(MERGE enforces the table schema; evolve via "
            "write_delta(merge_schema=True) first)"
        )
    if any(_is_collated_string(f.dataType) for f in schema.fields):
        # cast the source to the table's declared (collated) types —
        # joining a plain string against a collated column is an
        # INDETERMINATE_COLLATION analysis error; delta-spark casts the
        # source to the target schema the same way
        from pyspark.sql import functions as F

        updates = updates.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    from pyspark.sql import functions as F

    n_upd, n_keyed, n_distinct, lo, hi = updates.agg(
        F.count(F.lit(1)),
        F.count(key),
        F.countDistinct(key),
        F.min(key),
        F.max(key),
    ).first()
    # Delta MERGE raises when several source rows match one target row;
    # here duplicate non-null keys would all survive the anti-join and
    # land together — silent duplication, not replacement. Null keys are
    # exempt (they never match; each is a WHEN NOT MATCHED insert).
    if n_keyed != n_distinct:
        raise ValueError(
            f"updates contain duplicate values of merge key {key!r}: "
            "each key must appear once (Delta's multiple-source-rows-"
            "matched error) — pre-aggregate the updates frame"
        )
    if n_upd == 0:
        # genuinely empty updates: nothing can match or insert — no-op,
        # no spurious version
        return versions[-1]
    if lo is None:
        # non-empty but ALL keys null: per Delta MERGE semantics a null
        # key never matches an existing row, so every update row is a
        # WHEN NOT MATCHED insert — no files affected, rows still land.
        # (Without this arm the None range would either be treated as a
        # no-op — silently dropping the rows, inconsistently with a
        # mixed null/non-null batch whose null rows DO insert via the
        # union below — or make _may_satisfy's TypeError handler mark
        # every file affected.)
        affected: dict[str, dict] = {}
    elif any(
        f.name == key and _is_collated_string(f.dataType)
        for f in schema.fields
    ):
        # a collated merge key: binary [lo, hi] bounds cannot target
        # files (collated equality crosses binary ranges) — every file
        # is a candidate; the collation-aware equi-join below still
        # rewrites only true matches' files
        affected = dict(active)
    else:
        phys_key = phys_of.get(key, key)
        affected = {
            rel: a
            for rel, a in active.items()
            if _may_satisfy(a, (phys_key, ">=", lo))
            and _may_satisfy(a, (phys_key, "<=", hi))
        }

    config = dict(
        _latest_metadata(path, versions[-1]).get("configuration", {})
    )
    if affected and config.get("delta.appendOnly") == "true":
        raise ValueError(
            f"Delta table at {path} is delta.appendOnly=true: MERGE "
            "would rewrite files holding matched keys; only pure-insert "
            "merges (no key overlap) are allowed"
        )

    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [
        _remove_action(rel, a, now_ms) for rel, a in affected.items()
    ]
    rt_mat = (
        _row_tracking_rewrite_mode(path, config, set(affected), "MERGE")
        if (rt_feats and affected)
        else None
    )
    rt_extras: tuple = ()
    if affected:
        rels_sorted = sorted(affected)
        old_schema = _reader_schema(schema, cm_mode)
        if rt_mat:
            old_schema = _rt_read_schema(old_schema, rt_mat)
        old, pv_finish = _partitioned_scan(
            spark,
            path,
            old_schema,
            rels_sorted,
            {r: affected[r].get("partitionValues") or {} for r in rels_sorted},
            schema,
            partition_cols,
            cm_mode,
        )
        if rt_mat:
            rt_depth = _rt_suffix_depth(rels_sorted, path)
            old = _rt_capture(old, rt_depth)
        # apply-and-rewrite: a DV-bearing affected file is read WITHOUT
        # its deleted rows and rewritten DV-free — rewriting the raw
        # parquet would resurrect them
        dv_affected = {
            rel: a["deletionVector"]
            for rel, a in affected.items()
            if a.get("deletionVector")
        }
        if dv_affected:
            old = _apply_deletion_vectors(
                spark, path, old, dv_affected, all_rels=sorted(affected)
            )
        if rt_mat:
            old = _rt_stamp_stable(
                spark, old, rels_sorted, affected, rt_mat, rt_depth
            )
            rt_extras = rt_mat
        old = pv_finish(old)
        old = _present_logical(old, schema, cm_mode, extras=rt_extras)
        if omitted_idents:
            updates = _merge_attach_identity(
                updates, old, key, omitted_idents, schema
            )
        kept = old.join(updates.select(key), on=key, how="left_anti")
        if rt_mat:
            # identity across the upsert: a matched source row REPLACES
            # its target row(s) and inherits the stable row id (min() of
            # the replaced set — deterministic when a key legally repeats
            # in the target); its commit version nulls out so the new
            # add's defaultRowCommitVersion (this commit) applies.
            # Unmatched source rows are true inserts: both null → fresh.
            mid_c, mcv_c = rt_mat
            surv_ids = old.groupBy(key).agg(
                F.min(F.col(f"`{mid_c}`")).alias(mid_c)
            )
            upd = (
                updates.select(*schema.fieldNames())
                .join(surv_ids, on=key, how="left")
                .withColumn(mcv_c, F.lit(None).cast("long"))
            )
            new_data = kept.unionByName(
                upd.select(
                    *schema.fieldNames(),
                    F.col(f"`{mid_c}`"),
                    F.col(f"`{mcv_c}`"),
                )
            )
        else:
            new_data = kept.unionByName(updates.select(*schema.fieldNames()))
    else:
        if omitted_idents:
            # no files affected = every update row is an insert: all
            # identity values are fresh assignments
            updates = _merge_attach_identity(
                updates, None, key, omitted_idents, schema
            )
        new_data = updates

    # stage+move exactly like write_delta, then commit removes+adds in one
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    writer = _physical_frame(
        new_data, schema, cm_mode, extras=rt_extras
    ).write.mode("errorifexists")
    if partition_cols:
        writer = writer.partitionBy(*[phys_of[p] for p in partition_cols])
    writer.parquet(staging)
    viol = _violated_constraint(spark, staging, schema, config, cm_mode)
    if viol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"{viol[0]} ({viol[1]}) violated by MERGE "
            f"into Delta table at {path}"
        )
    gviol = _violated_generated(
        spark, staging, schema, cm_mode, _generated_exprs(schema)
    )
    if gviol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"generated column {gviol[0]} must equal ({gviol[1]}) on "
            f"every row MERGEd into Delta table at {path}"
        )
    cdc_actions: list[dict[str, Any]] = []
    if _cdf_enabled(config):
        # CDF write contract: matched keys render as an update_preimage/
        # update_postimage pair (every replaced target row is a
        # preimage; the one source row its key maps to is the
        # postimage), unmatched source rows as inserts — exactly the
        # change classes delta-spark's MERGE emits; cost ∝ changed rows
        names = schema.fieldNames()
        if affected:
            old_keys = old.select(key).distinct()
            change_df = (
                old.join(updates.select(key), on=key, how="left_semi")
                .select(*names)
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    updates.join(old_keys, on=key, how="left_semi")
                    .select(*names)
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                .unionByName(
                    updates.join(old_keys, on=key, how="left_anti")
                    .select(*names)
                    .withColumn("_change_type", F.lit("insert"))
                )
            )
        else:
            change_df = updates.select(*names).withColumn(
                "_change_type", F.lit("insert")
            )
        cdc_actions = _stage_cdc_actions(
            path, change_df, schema, partition_cols, cm_mode
        )
    adds = _move_staged_adds(
        staging,
        path,
        now_ms,
        skip_minmax=_collated_top_columns(schema, cm_mode),
        stats_cols=_indexed_stats_columns(schema, config, cm_mode),
    )
    tail = cdc_actions + [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {"key": key},
            }
        }
    ]
    if idents:
        # identity allocation state lives in the schema field metadata:
        # a mark-advancing MERGE ships a metaData action with the bumped
        # highWaterMark in the same commit, exactly as write_delta does
        # (kept rows' values are ≤ the prior mark, so the staged-stats
        # max only moves when inserts or explicit BY DEFAULT values do)
        ident_marks = _identity_marks_from_adds(
            adds,
            idents,
            phys_of=(
                {f.name: _physical_name(f) for f in schema.fields}
                if cm
                else None
            ),
        )
        if ident_marks:
            tail.append(
                {"metaData": _identity_stamped_meta(_meta, ident_marks)}
            )
    if rt_feats:
        # adds get fresh baseRowId/defaultRowCommitVersion above the
        # bumped high-water mark; with materialized columns reserved,
        # kept rows carry preserved id+version, updated rows a preserved
        # id (version defaults to this commit), inserts derive fresh
        return _commit_row_tracking(
            path, actions, adds, tail, "mutate", 5, grants
        )
    # depends_on = the files this merge READ (affected set): a rival
    # removing any of them means our rewrite was derived from a stale
    # snapshot → DeltaConcurrentModification; disjoint rivals (appends,
    # merges over other key ranges) retry cleanly
    return _commit_with_retry(
        path,
        versions[-1] + 1,
        actions + adds + tail,
        depends_on=set(affected),
        read_metadata=True,  # merge derived schema + constraints from its snapshot
        extra_features=grants,
    )


def table_configuration(path: str, version: int | None = None) -> dict[str, str]:
    """The table's configuration map (TBLPROPERTIES) at ``version``
    (default latest) — where Delta keeps CHECK constraints
    (``delta.constraints.<name>``) and behavior gates
    (``delta.appendOnly``)."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    return dict(
        _latest_metadata(path, versions[-1] if version is None else version).get(
            "configuration", {}
        )
    )


def set_table_properties(
    path: str, props: dict[str, str | None], operation: str = "SET TBLPROPERTIES"
) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES: commit a metaData-only
    update merging ``props`` into the configuration (a None value
    UNSETs the key). A lost version race RE-DERIVES the merge from the
    rival's latest configuration instead of re-committing the stale
    metaData verbatim (which would silently erase the rival's change —
    the round-5 advice finding); both racers' property sets survive.
    Returns the version.

    ``delta.constraints.*`` keys are rejected: they would bypass
    ``add_constraint``'s existing-data validation and its
    minWriterVersion-3 protocol upgrade, installing a constraint that
    existing rows may already violate. Unsetting (None) stays allowed —
    that IS ``drop_constraint``'s path."""
    bad_keys = [
        k
        for k, v in props.items()
        if k.startswith(_CONSTRAINT_PREFIX) and v is not None
    ]
    if bad_keys:
        raise ValueError(
            f"cannot SET {bad_keys} via table properties: CHECK "
            "constraints must go through add_constraint (validates "
            "existing data and raises the writer-protocol gate); use "
            "drop_constraint to remove one"
        )
    if props.get("delta.enableInCommitTimestamps") == "true":
        # enabling ICT needs the protocol feature + the spec's
        # enablement-version/-timestamp keys in the SAME commit — the
        # dedicated helper does all three atomically
        raise ValueError(
            "cannot SET delta.enableInCommitTimestamps via table "
            "properties: the spec requires the inCommitTimestamp writer "
            "feature and the enablement keys to land in the same commit "
            "— use enable_in_commit_timestamps(path)"
        )
    if props.get("delta.checkpointPolicy") == "v2":
        # V2-format checkpoints are only legal once the protocol lists
        # the v2Checkpoint feature on BOTH sides (ADVICE r10): the key
        # alone would make write_checkpoint fall back to classic, but
        # accepting it here would leave the table claiming a policy its
        # protocol cannot honor — the dedicated helper lands the
        # protocol upgrade and the key in one commit
        vs = _list_versions(path)
        proto = _latest_protocol(path, vs[-1]) if vs else {}
        if "v2Checkpoint" not in (
            set(proto.get("readerFeatures") or [])
            & set(proto.get("writerFeatures") or [])
        ):
            raise ValueError(
                "cannot SET delta.checkpointPolicy=v2 via table "
                "properties: the spec requires the v2Checkpoint reader+"
                "writer feature before V2-format checkpoints are "
                "written — use enable_v2_checkpoints(path)"
            )
    for _attempt in range(6):
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        meta = _latest_metadata(path, versions[-1])
        config = dict(meta.get("configuration", {}))
        for k, v in props.items():
            if v is None:
                config.pop(k, None)
            else:
                config[k] = str(v)
        meta["configuration"] = config
        actions: list[dict[str, Any]] = [
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": operation,
                    "operationParameters": {
                        "properties": {
                            k: v for k, v in props.items() if v is not None
                        }
                    },
                }
            },
        ]
        try:
            # max_retries=0: any race falls through to re-derivation.
            # columnMapping, rowTracking/domainMetadata and
            # changeDataFeed are all vacuous for a metadata-only commit
            # (no files added or removed: nothing to rename, stamp, or
            # render as change rows), so ALTER works on modern-defaults
            # tables.
            return _commit_with_retry(
                path,
                versions[-1] + 1,
                actions,
                max_retries=0,
                extra_features=frozenset(
                    {
                        "columnMapping",
                        "rowTracking",
                        "domainMetadata",
                        "changeDataFeed",
                        "generatedColumns",
                    }
                ),
            )
        except FileExistsError:
            continue
    raise DeltaConcurrentModification(
        f"set_table_properties on {path}: lost {6} consecutive version races"
    )


def enable_in_commit_timestamps(path: str) -> int:
    """ALTER TABLE ... SET delta.enableInCommitTimestamps=true, the
    spec-complete way (round-10): ONE commit that (1) upgrades the
    protocol to writer v7 + ``inCommitTimestamp`` (existing features and
    reader version preserved — the explicit upgrade mechanism, like
    ``add_constraint``'s v3 raise), (2) sets the config key, and (3)
    records ``delta.inCommitTimestampEnablementVersion`` /
    ``-Timestamp`` so external readers can map the pre-enablement clock.
    The enablement commit pins its own ``inCommitTimestamp`` equal to
    the enablement-timestamp key; later commits stamp monotonically at
    the commit choke point. No-op if already enabled."""
    for _attempt in range(6):
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        meta = dict(_latest_metadata(path, versions[-1]))
        config = dict(meta.get("configuration", {}))
        if config.get("delta.enableInCommitTimestamps") == "true":
            return versions[-1]
        target = versions[-1] + 1
        ict = max(
            int(time.time() * 1000),
            _prev_commit_timestamp(path, versions[-1]) + 1,
        )
        config["delta.enableInCommitTimestamps"] = "true"
        config["delta.inCommitTimestampEnablementVersion"] = str(target)
        config["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        meta["configuration"] = config
        proto = dict(_latest_protocol(path, versions[-1]))
        feats = set(proto.get("writerFeatures") or [])
        v_now = int(proto.get("minWriterVersion", 2))
        if v_now < 7:
            # v7 requires EVERY capability the legacy version implied to
            # be spelled out, cumulatively (spec's legacy→feature map) —
            # dropping, say, a v5 table's columnMapping from the new
            # writerFeatures would let a feature-aware writer corrupt it
            legacy_by_version = [
                (2, {"appendOnly", "invariants"}),
                (3, {"checkConstraints"}),
                (4, {"changeDataFeed", "generatedColumns"}),
                (5, {"columnMapping"}),
                (6, {"identityColumns"}),
            ]
            for lv, lf in legacy_by_version:
                if v_now >= lv:
                    feats |= lf
        feats.add("inCommitTimestamp")
        proto["minWriterVersion"] = 7
        proto["writerFeatures"] = sorted(feats)
        actions: list[dict[str, Any]] = [
            {"protocol": proto},
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": ict,
                    "inCommitTimestamp": ict,
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": {
                            "delta.enableInCommitTimestamps": "true"
                        }
                    },
                }
            },
        ]
        try:
            return _commit_with_retry(path, target, actions, max_retries=0)
        except FileExistsError:
            continue
    raise DeltaConcurrentModification(
        f"enable_in_commit_timestamps on {path}: lost 6 consecutive "
        "version races"
    )


def enable_v2_checkpoints(path: str) -> int:
    """ALTER TABLE ... SET delta.checkpointPolicy=v2 the spec-complete
    way (round-11, ADVICE r10): ONE commit that (1) upgrades the
    protocol to reader v3 / writer v7 with ``v2Checkpoint`` in BOTH
    feature lists (legacy-implied capabilities spelled out cumulatively,
    same map as ``enable_in_commit_timestamps``) and (2) sets the
    config key — so ``write_checkpoint`` starts emitting uuid-named
    V2-format checkpoints only once every reader is guaranteed to
    understand them. No-op if already enabled."""
    for _attempt in range(6):
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        meta = dict(_latest_metadata(path, versions[-1]))
        config = dict(meta.get("configuration", {}))
        proto = dict(_latest_protocol(path, versions[-1]))
        rfeats = set(proto.get("readerFeatures") or [])
        wfeats = set(proto.get("writerFeatures") or [])
        if (
            config.get("delta.checkpointPolicy") == "v2"
            and "v2Checkpoint" in (rfeats & wfeats)
        ):
            return versions[-1]
        config["delta.checkpointPolicy"] = "v2"
        meta["configuration"] = config
        r_now = int(proto.get("minReaderVersion", 1))
        w_now = int(proto.get("minWriterVersion", 2))
        if r_now < 3 and r_now >= 2:
            # legacy reader v2 implied columnMapping — spell it out
            rfeats.add("columnMapping")
        if w_now < 7:
            legacy_by_version = [
                (2, {"appendOnly", "invariants"}),
                (3, {"checkConstraints"}),
                (4, {"changeDataFeed", "generatedColumns"}),
                (5, {"columnMapping"}),
                (6, {"identityColumns"}),
            ]
            for lv, lf in legacy_by_version:
                if w_now >= lv:
                    wfeats |= lf
        rfeats.add("v2Checkpoint")
        wfeats.add("v2Checkpoint")
        proto["minReaderVersion"] = 3
        proto["minWriterVersion"] = 7
        proto["readerFeatures"] = sorted(rfeats)
        proto["writerFeatures"] = sorted(wfeats)
        actions: list[dict[str, Any]] = [
            {"protocol": proto},
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": {"delta.checkpointPolicy": "v2"}
                    },
                }
            },
        ]
        try:
            return _commit_with_retry(path, versions[-1] + 1, actions, max_retries=0)
        except FileExistsError:
            continue
    raise DeltaConcurrentModification(
        f"enable_v2_checkpoints on {path}: lost 6 consecutive version races"
    )


def _clustering_columns(
    path: str,
    version: int,
    schema: T.StructType | None = None,
    cm_mode: str = "none",
    strict: bool = False,
) -> list[str]:
    """LOGICAL clustering column names from the live ``delta.clustering``
    domain at ``version`` ([] when absent/removed/empty). The domain
    stores each column as an array of PHYSICAL name parts
    (delta-spark's ClusteringMetadataDomain); top-level physical names
    map back to logical through ``schema`` under column mapping.
    ``strict`` (the OPTIMIZE pickup) refuses nested clustering columns
    by name instead of guessing — pass ``zorder_by`` explicitly there;
    non-strict (DESCRIBE DETAIL) dot-joins them for display."""
    dom = _collect_domain_metadata(path, version).get("delta.clustering")
    if not dom or dom.get("removed"):
        return []
    try:
        cols = json.loads(dom.get("configuration") or "{}").get(
            "clusteringColumns", []
        )
    except (ValueError, AttributeError):
        return []
    by_phys = (
        {_physical_name(f): f.name for f in schema.fields}
        if schema is not None and cm_mode in ("name", "id")
        else {}
    )
    out: list[str] = []
    for c in cols:
        parts = list(c) if isinstance(c, list) else [c]
        if len(parts) != 1:
            if strict:
                raise DeltaUnsupportedProtocol(
                    f"Delta table at {path} clusters on the NESTED "
                    f"column {'.'.join(parts)!r}, which this OPTIMIZE "
                    "cannot derive — pass zorder_by explicitly"
                )
            out.append(".".join(parts))
            continue
        out.append(by_phys.get(parts[0], parts[0]))
    return out


def set_clustering_columns(path: str, columns: list[str]) -> int:
    """ALTER TABLE ... CLUSTER BY (columns) / CLUSTER BY NONE
    (``columns=[]``), the spec-complete way (round-12): ONE commit that
    (1) upgrades the protocol to writer v7 with ``clustering`` +
    ``domainMetadata`` (legacy-implied capabilities spelled out
    cumulatively, same map as ``enable_in_commit_timestamps``) and
    (2) lands the ``delta.clustering`` domainMetadata with the new
    column list — data is NOT rewritten (delta-spark's contract: the
    next OPTIMIZE applies the new clustering; ``optimize_delta`` picks
    the columns up automatically). Columns must be existing TOP-LEVEL
    schema columns and the table must not be hive-partitioned.
    No-op (returns the current version) when the live domain already
    lists exactly these columns."""
    for _attempt in range(6):
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        latest = versions[-1]
        meta = _latest_metadata(path, latest)
        if meta.get("partitionColumns"):
            raise ValueError(
                f"Delta table at {path} is hive-partitioned — a table "
                "cannot be both partitioned and clustered"
            )
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cm_mode = _column_mapping_mode(meta)
        missing = [c for c in columns if c not in set(schema.fieldNames())]
        if missing:
            raise ValueError(
                f"clustering columns {missing} not in the schema of the "
                f"Delta table at {path} (nested columns unsupported)"
            )
        if (
            _clustering_columns(path, latest, schema, cm_mode)
            == list(columns)
        ):
            return latest
        phys_of = {f.name: _physical_name(f) for f in schema.fields}
        proto = dict(_latest_protocol(path, latest))
        wfeats = set(proto.get("writerFeatures") or [])
        w_now = int(proto.get("minWriterVersion", 2))
        actions: list[dict[str, Any]] = []
        if w_now < 7 or not {"clustering", "domainMetadata"} <= wfeats:
            if w_now < 7:
                legacy_by_version = [
                    (2, {"appendOnly", "invariants"}),
                    (3, {"checkConstraints"}),
                    (4, {"changeDataFeed", "generatedColumns"}),
                    (5, {"columnMapping"}),
                    (6, {"identityColumns"}),
                ]
                for lv, lf in legacy_by_version:
                    if w_now >= lv:
                        wfeats |= lf
            wfeats |= {"clustering", "domainMetadata"}
            proto["minWriterVersion"] = 7
            proto["writerFeatures"] = sorted(wfeats)
            actions.append({"protocol": proto})
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {
                            "clusteringColumns": [
                                [phys_of[c]] for c in columns
                            ]
                        }
                    ),
                    "removed": False,
                }
            }
        )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "CLUSTER BY",
                    "operationParameters": {
                        "clusteringColumns": json.dumps(list(columns))
                    },
                }
            }
        )
        try:
            return _commit_with_retry(
                path, latest + 1, actions, max_retries=0
            )
        except FileExistsError:
            continue
    raise DeltaConcurrentModification(
        f"set_clustering_columns on {path}: lost 6 consecutive version races"
    )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — stored as the
    ``delta.constraints.<name>`` table property exactly where real Delta
    keeps it, enforced by every subsequent write/MERGE in this module.
    Existing data is validated first (one pushdown-friendly scan; SQL
    CHECK semantics — NULL passes, only FALSE violates), and the commit
    raises the protocol gate to minWriterVersion 3, the feature's
    writer-version requirement in the spec, so a non-constraint-aware
    writer refuses the table rather than silently violating it."""
    from pyspark.sql import functions as F

    key = _CONSTRAINT_PREFIX + name
    for _attempt in range(3):
        versions = _list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no Delta log at {path}")
        meta = _latest_metadata(path, versions[-1])
        config = dict(meta.get("configuration", {}))
        if key in config:
            raise ValueError(f"constraint {name} already exists: {config[key]}")
        # validate against THIS snapshot; a lost race loops back and
        # re-validates against the rival's rows too (retrying the stale
        # commit verbatim would skip data a racing writer just added)
        bad = (
            read_delta(spark, path, version=versions[-1])
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot ADD CONSTRAINT {name} ({expr}): existing rows violate it"
            )
        config[key] = expr
        meta["configuration"] = config
        proto = _latest_protocol(path, versions[-1])
        # ALTER is not the upgrade mechanism for foreign features: this
        # writer must already be allowed to commit into the table (the
        # carried-protocol commit path is exempt from the commit gate,
        # so check here), and the re-emitted protocol must preserve any
        # readerFeatures/writerFeatures VERBATIM — dropping them would
        # silently strip requirements this writer cannot maintain
        # (round-7 advice finding). columnMapping is vacuous for a
        # metadata-only commit (no data files are created), so CM
        # tables may carry constraints.
        _check_write_protocol(
            proto, path, extra_features=frozenset({"columnMapping"}), meta=meta
        )
        new_proto: dict[str, Any] = {
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": max(int(proto.get("minWriterVersion", 2)), 3),
        }
        for feat_key in ("readerFeatures", "writerFeatures"):
            if proto.get(feat_key) is not None:
                new_proto[feat_key] = list(proto[feat_key])
        if new_proto["minWriterVersion"] >= 7:
            # v7 tables carry requirements as features: the constraint
            # must be declared or a feature-aware writer would not see it
            feats = list(new_proto.get("writerFeatures") or [])
            if "checkConstraints" not in feats:
                feats.append("checkConstraints")
            new_proto["writerFeatures"] = feats
        actions: list[dict[str, Any]] = [
            {"protocol": new_proto},
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "ADD CONSTRAINT",
                    "operationParameters": {"name": name, "expr": expr},
                }
            },
        ]
        try:
            return _commit_with_retry(path, versions[-1] + 1, actions, max_retries=0)
        except FileExistsError:
            continue
    raise DeltaConcurrentModification(
        f"add_constraint {name} on {path}: lost 3 consecutive version races"
    )


def drop_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — UNSET the property; later writes
    stop enforcing it."""
    return set_table_properties(
        path, {_CONSTRAINT_PREFIX + name: None}, operation="DROP CONSTRAINT"
    )


# Largest DELETE (matched rows + existing bitmap cardinalities) that
# commits as a deletion vector; past it delete_delta(use_dv=True) falls
# back to the rewrite path — a bitmap covering millions of rows stops
# being the cheap representation, the same size heuristic real engines
# apply. Aligned with DV_DRIVER_DECODE_MAX: the union is built on the
# driver.
DV_WRITE_MAX = 1_000_000


def _delete_emit_dv(
    spark: SparkSession,
    path: str,
    latest: int,
    cand: dict[str, dict],
    phase1: DataFrame,
    pred,
    condition: str,
    config: dict[str, str],
    proto: dict[str, Any],
    extra_features: frozenset[str] = frozenset(),
    cdc_actions: list[dict[str, Any]] | None = None,
) -> int | None:
    """DELETE as a copy-on-write deletion vector (see delete_delta's
    ``use_dv``). Returns the committed version, or None when the match
    volume exceeds DV_WRITE_MAX and the caller should rewrite.
    ``extra_features`` forwards the caller's already-validated feature
    grants (columnMapping on CM tables) so the commit-time write gate
    agrees with the entry gate — without it a CM+DV table passed entry
    but failed at commit, after the DV .bin was already written.
    ``cdc_actions`` (round-10) are the caller's pre-staged change-data
    actions on a CDF-enabled table — the deleted-row set is identical
    for the DV and rewrite paths, so delete_delta stages once and both
    commits carry them. rowTracking note: the re-add below copies the
    prior add verbatim, so baseRowId/defaultRowCommitVersion (and any
    materialized row-id columns in the untouched data file) are
    PRESERVED — a DV delete never re-stamps ids or bumps the mark."""
    import numpy as np
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
        deleted_row_indexes,
        write_dv_file,
    )

    feats_w = set(proto.get("writerFeatures") or [])
    feats_r = set(proto.get("readerFeatures") or [])
    if (
        "deletionVectors" not in feats_w
        or "deletionVectors" not in feats_r
        or config.get("delta.enableDeletionVectors") != "true"
    ):
        raise ValueError(
            f"use_dv=True needs the Delta table at {path} to already "
            "carry the deletionVectors feature on BOTH protocol sides "
            "and delta.enableDeletionVectors=true — this writer never "
            "upgrades a table's protocol implicitly; run the default "
            "rewrite DELETE instead"
        )
    matches = (
        phase1.filter(pred)
        .select("_f", "_ridx")
        .limit(DV_WRITE_MAX + 1)
        .collect()
    )
    if len(matches) > DV_WRITE_MAX:
        return None
    key_of = _scanned_key_map(path, cand)
    by_rel: dict[str, list[int]] = {}
    for r in matches:
        rel = key_of[os.path.abspath(unquote(urlparse(r["_f"]).path))]
        by_rel.setdefault(rel, []).append(int(r["_ridx"]))
    rels = sorted(by_rel)
    if (
        sum(
            int((cand[rel].get("deletionVector") or {}).get("cardinality", 0))
            for rel in rels
        )
        + len(matches)
        > DV_WRITE_MAX
    ):
        return None  # the UNION would exceed the bitmap budget
    bitmaps: list[np.ndarray] = []
    for rel in rels:
        old = cand[rel].get("deletionVector")
        prev = (
            deleted_row_indexes(path, old)
            if old
            else np.empty(0, dtype=np.int64)
        )
        bitmaps.append(
            np.union1d(prev, np.asarray(by_rel[rel], dtype=np.int64))
        )
    descs = write_dv_file(path, bitmaps)
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    for rel, bm, desc in zip(rels, bitmaps, descs):
        actions.append(_remove_action(rel, cand[rel], now_ms))
        num_records = None
        stats = cand[rel].get("stats")
        if stats:
            try:
                num_records = json.loads(stats).get("numRecords")
            except (ValueError, TypeError):
                pass
        if num_records is not None and len(bm) >= int(num_records):
            continue  # bitmap covers the whole file — drop it outright
        add = dict(cand[rel])
        add["deletionVector"] = desc
        add["dataChange"] = True
        add["modificationTime"] = now_ms
        actions.append({"add": add})
    actions.extend(cdc_actions or [])
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {
                    "predicate": condition,
                    "deletionVector": True,
                },
            }
        }
    )
    return _commit_with_retry(
        path,
        latest + 1,
        actions,
        depends_on=set(rels),
        read_metadata=True,
        extra_features=extra_features,
    )


def delete_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    prune: tuple[str, str, Any] | None = None,
    use_dv: bool = False,
) -> int:
    """DELETE FROM table WHERE ``condition`` (a Spark SQL boolean
    expression; NULL keeps the row, SQL WHERE semantics).

    Scale shape — the two-phase file-targeted rewrite real Delta runs:
    phase 1 scans candidate files WITH ``input_file_name()`` and keeps
    only files that actually contain a matching row (the predicate is
    pushed into the parquet scan; the collect is ≤ one row per file);
    phase 2 reads ONLY those files and rewrites them without the
    matching rows. A delete touching 1% of files rewrites 1% of the
    table. ``prune`` — an optional (col, op, value) the condition
    implies — drops files by footer stats before phase 1 ever scans
    them, same lever as ``read_delta(where=...)``. No matching rows →
    no-op, no spurious version. Returns the committed version.

    ``use_dv=True`` (round-9, the spec's copy-on-write deletion-vector
    posture): instead of rewriting hit files, EMIT a deletion vector —
    the matched row indexes union the file's existing bitmap, one .bin
    holds every file's frame, and the commit is remove(old add, old DV)
    + add(same path, new DV). Zero data-file IO: a small DELETE on a
    100 TB table moves kilobytes of bitmap, which is why modern engines
    default to it. Only allowed when the table ALREADY carries the
    deletionVectors feature on both protocol sides and
    delta.enableDeletionVectors=true (this writer never upgrades a
    protocol implicitly); deletes matching more than ``DV_WRITE_MAX``
    rows fall back to the rewrite path automatically — past that size a
    bitmap stops being the cheap representation, the same heuristic
    real engines apply. A file whose bitmap would cover every physical
    row is dropped outright (remove, no re-add).

    Partitioned tables (round-9): supported end-to-end. A ``prune`` on a
    partition column prunes by ``partitionValues`` (partition pruning —
    a DELETE keyed on the partition column touches only that
    partition's files); survivors rewrite back into hive layout, and
    the DV path re-adds the same partitioned path unchanged."""
    from pyspark.sql import functions as F
    from urllib.parse import urlparse

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    active, schema, partition_cols, _meta = _replay(path, versions[-1])
    cm_mode = _column_mapping_mode(_meta)
    cm = cm_mode in ("name", "id")
    config = dict(_meta.get("configuration", {}))
    proto = _latest_protocol(path, versions[-1])
    cm_feats = frozenset({"columnMapping"}) if cm else frozenset()
    rt_feats = _row_tracking_dml_features(proto)
    # changeDataFeed is upheld by construction: when the feed is enabled
    # this DELETE emits cdc actions below; when merely listed but off,
    # nothing is required of the writer. generatedColumns and
    # identityColumns are vacuous for DELETE: surviving rows are copied
    # verbatim, so generated values still satisfy their expressions and
    # identity values (and the high-water mark) are untouched.
    grants = cm_feats | rt_feats | frozenset(
        {"changeDataFeed", "generatedColumns", "identityColumns"}
    )
    _check_write_protocol(proto, path, extra_features=grants, meta=_meta)
    if config.get("delta.appendOnly") == "true":
        raise ValueError(
            f"Delta table at {path} is delta.appendOnly=true: DELETE is blocked"
        )
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    phys_of = {f.name: (_physical_name(f) if cm else f.name) for f in schema.fields}
    pred = F.coalesce(F.expr(condition), F.lit(False))
    if prune and any(
        f.name == prune[0] and _is_collated_string(f.dataType)
        for f in schema.fields
    ):
        # binary footer bounds cannot prune collated comparisons —
        # scan all candidates; the row predicate stays collation-aware
        prune = None
    phys_prune = (
        (phys_of.get(prune[0], prune[0]), prune[1], prune[2]) if prune else None
    )
    cand = {
        rel: a
        for rel, a in active.items()
        if phys_prune is None or _may_satisfy(a, phys_prune)
    }
    if not cand:
        return versions[-1]
    cand_pvals = {
        rel: a.get("partitionValues") or {} for rel, a in cand.items()
    }
    dv_cand = {
        rel: a["deletionVector"]
        for rel, a in cand.items()
        if a.get("deletionVector")
    }
    # phase 1 must see the LOGICAL content: a predicate matching only
    # DV-deleted rows must not flag the file (the rewrite would be a
    # no-op that still resurrects nothing, but the version bump and IO
    # are pure waste). `_metadata.file_path` instead of
    # input_file_name() because the DV anti-join sits between the scan
    # and the projection, and input_file_name is undefined after a join.
    # Partition columns (hive dirs or, for shallow-clone absolute
    # paths, action partitionValues) are present so the predicate may
    # reference them — _may_satisfy already pruned non-matching
    # partitions when `prune` names one.
    phase1, pv_finish1 = _partitioned_scan(
        spark,
        path,
        _reader_schema(schema, cm_mode),
        sorted(cand),
        cand_pvals,
        schema,
        partition_cols,
        cm_mode,
    )
    phase1 = phase1.withColumn(
        "_f", F.col("_metadata.file_path")
    ).withColumn("_ridx", F.col("_metadata.row_index"))
    if dv_cand:
        phase1 = _apply_deletion_vectors(
            spark, path, phase1, dv_cand, all_rels=list(cand)
        )
    phase1 = pv_finish1(phase1)
    phase1 = _present_logical(phase1, schema, cm_mode, extras=("_f", "_ridx"))
    hit_rows = (
        phase1.filter(pred)
        .select("_f")
        .distinct()
        .collect()  # bounded: ≤ one row per candidate file
    )
    key_of = _scanned_key_map(path, cand)
    hit_files = {
        key_of[os.path.abspath(unquote(urlparse(r["_f"]).path))] for r in hit_rows
    }
    if not hit_files:
        return versions[-1]

    cdc_actions: list[dict[str, Any]] = []
    if _cdf_enabled(config):
        # CDF write contract: the deleted rows (identical for the DV and
        # rewrite paths — phase1 already excludes rows prior DVs hide)
        # ride in _change_data files; cost ∝ matched rows only
        cdc_actions = _stage_cdc_actions(
            path,
            phase1.filter(pred)
            .select(*schema.fieldNames())
            .withColumn("_change_type", F.lit("delete")),
            schema,
            partition_cols,
            cm_mode,
        )

    if use_dv:
        try:
            committed = _delete_emit_dv(
                spark,
                path,
                versions[-1],
                cand,
                phase1,
                pred,
                condition,
                config,
                proto,
                extra_features=grants,
                cdc_actions=cdc_actions,
            )
        except Exception:
            _discard_cdc_files(path, cdc_actions)
            raise
        if committed is not None:
            return committed
        # fell through: too many matched rows for a bitmap — rewrite

    rt_mat: tuple[str, str] | None = None
    if rt_feats:
        # rewrite-path only: the DV path above preserves each re-added
        # file's baseRowId verbatim, so materialized row ids survive it
        try:
            rt_mat = _row_tracking_rewrite_mode(
                path, config, hit_files, "DELETE"
            )
        except Exception:
            _discard_cdc_files(path, cdc_actions)
            raise
    rels_sorted = sorted(hit_files)
    keep_schema = _reader_schema(schema, cm_mode)
    if rt_mat:
        keep_schema = _rt_read_schema(keep_schema, rt_mat)
    keep, pv_finish2 = _partitioned_scan(
        spark,
        path,
        keep_schema,
        rels_sorted,
        cand_pvals,
        schema,
        partition_cols,
        cm_mode,
    )
    if rt_mat:
        rt_depth = _rt_suffix_depth(rels_sorted, path)
        keep = _rt_capture(keep, rt_depth)
    dv_hit = {rel: dv_cand[rel] for rel in hit_files if rel in dv_cand}
    if dv_hit:
        # apply-and-rewrite: survivors of a DV-bearing file exclude its
        # bitmap's rows; the rewritten file carries NO deletion vector
        keep = _apply_deletion_vectors(
            spark, path, keep, dv_hit, all_rels=sorted(hit_files)
        )
    rt_extras: tuple = ()
    if rt_mat:
        # DELETE survivors are unmodified copies: preserve BOTH the
        # stable row id and the stable commit version
        keep = _rt_stamp_stable(
            spark, keep, rels_sorted, cand, rt_mat, rt_depth
        )
        rt_extras = rt_mat
    keep = pv_finish2(keep)
    keep = _present_logical(
        keep, schema, cm_mode, extras=rt_extras
    ).filter(~pred)
    keep = _physical_frame(keep, schema, cm_mode, extras=rt_extras)
    now_ms = int(time.time() * 1000)
    removes: list[dict[str, Any]] = [
        _remove_action(rel, cand[rel], now_ms) for rel in sorted(hit_files)
    ]
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    keep_writer = keep.write.mode("errorifexists")
    if partition_cols:
        keep_writer = keep_writer.partitionBy(
            *[phys_of[p] for p in partition_cols]
        )
    keep_writer.parquet(staging)
    adds = _move_staged_adds(
        staging,
        path,
        now_ms,
        skip_minmax=_collated_top_columns(schema, cm_mode),
        stats_cols=_indexed_stats_columns(schema, config, cm_mode),
    )
    tail = cdc_actions + [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {"predicate": condition},
            }
        }
    ]
    if rt_feats:
        # the new files still get fresh baseRowId/defaultRowCommitVersion
        # (delta-spark does the same) — but when the table reserves the
        # materialized columns, every surviving row carries its PRESERVED
        # stable id/commit version in them, which coalesce-wins on read
        return _commit_row_tracking(
            path, removes, adds, tail, "mutate", 5, grants
        )
    return _commit_with_retry(
        path,
        versions[-1] + 1,
        removes + adds + tail,
        depends_on=set(hit_files),
        read_metadata=True,  # delete enforced appendOnly/constraints from its snapshot
        extra_features=grants,
    )


def update_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    set_exprs: dict[str, str],
    prune: tuple[str, str, Any] | None = None,
) -> int:
    """UPDATE table SET col = expr, ... WHERE ``condition`` — the last
    Delta DML verb (DELETE and MERGE live above). ``set_exprs`` maps
    column name → Spark SQL expression (may reference any row columns,
    e.g. ``{"v": "v * 1.1", "status": "'adjusted'"}``); assigned values
    cast to the column's declared type so the table schema never drifts.
    NULL condition keeps the row unchanged (SQL WHERE semantics).

    Scale shape — the same two-phase file-targeted rewrite as
    ``delete_delta``: phase 1 scans candidate files (``prune`` skips
    files by footer stats or partitionValues first) and keeps only
    files holding matched rows; phase 2 rewrites ONLY those files with
    the assignment applied to matching rows and everything else copied
    verbatim. An update touching 1% of files rewrites 1% of the table.

    Partitioned tables: fully supported, including updating a PARTITION
    column — rewritten rows land in their new hive partition (Delta's
    behavior; the row "moves" because the whole hit file rewrites).
    DV-bearing hit files apply-and-rewrite (bitmap applied, re-add is
    DV-free). CHECK constraints are enforced on the staged output, and
    ``delta.appendOnly`` blocks UPDATE like every file-rewriting op.
    Returns the committed version (unchanged when nothing matches)."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    active, schema, partition_cols, _meta = _replay(path, versions[-1])
    cm_mode = _column_mapping_mode(_meta)
    cm = cm_mode in ("name", "id")
    config = dict(_meta.get("configuration", {}))
    proto = _latest_protocol(path, versions[-1])
    cm_feats = frozenset({"columnMapping"}) if cm else frozenset()
    rt_feats = _row_tracking_dml_features(proto)
    # generatedColumns: UPDATE recomputes generated columns the SET list
    # leaves untouched (delta-spark behavior) and validates the staged
    # output, so the grant is earned, not assumed. identityColumns: the
    # SET-target check below refuses assignments to identity columns,
    # so surviving values copy verbatim and the mark is untouched.
    grants = cm_feats | rt_feats | frozenset(
        {"changeDataFeed", "generatedColumns", "identityColumns"}
    )
    _check_write_protocol(proto, path, extra_features=grants, meta=_meta)
    if config.get("delta.appendOnly") == "true":
        raise ValueError(
            f"Delta table at {path} is delta.appendOnly=true: UPDATE is blocked"
        )
    unknown = set(set_exprs) - set(schema.fieldNames())
    if unknown:
        raise ValueError(
            f"UPDATE SET targets not in table schema: {sorted(unknown)}"
        )
    ident_targets = {n for n, *_ in _identity_fields(schema)} & set(set_exprs)
    if ident_targets:
        raise ValueError(
            f"UPDATE cannot SET identity column(s) {sorted(ident_targets)} "
            "— identity values are writer-assigned (delta-spark raises "
            "the same way)"
        )
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    phys_of = {f.name: (_physical_name(f) if cm else f.name) for f in schema.fields}
    pred = F.coalesce(F.expr(condition), F.lit(False))
    if prune and any(
        f.name == prune[0] and _is_collated_string(f.dataType)
        for f in schema.fields
    ):
        # binary footer bounds cannot prune collated comparisons —
        # scan all candidates; the row predicate stays collation-aware
        prune = None
    phys_prune = (
        (phys_of.get(prune[0], prune[0]), prune[1], prune[2]) if prune else None
    )
    cand = {
        rel: a
        for rel, a in active.items()
        if phys_prune is None or _may_satisfy(a, phys_prune)
    }
    if not cand:
        return versions[-1]
    cand_pvals = {
        rel: a.get("partitionValues") or {} for rel, a in cand.items()
    }
    dv_cand = {
        rel: a["deletionVector"]
        for rel, a in cand.items()
        if a.get("deletionVector")
    }
    phase1, pv_finish1 = _partitioned_scan(
        spark,
        path,
        _reader_schema(schema, cm_mode),
        sorted(cand),
        cand_pvals,
        schema,
        partition_cols,
        cm_mode,
    )
    phase1 = phase1.withColumn("_f", F.col("_metadata.file_path"))
    if dv_cand:
        phase1 = _apply_deletion_vectors(
            spark, path, phase1, dv_cand, all_rels=list(cand)
        )
    phase1 = pv_finish1(phase1)
    phase1 = _present_logical(phase1, schema, cm_mode, extras=("_f",))
    hit_rows = phase1.filter(pred).select("_f").distinct().collect()
    key_of = _scanned_key_map(path, cand)
    hit_files = {
        key_of[os.path.abspath(unquote(urlparse(r["_f"]).path))] for r in hit_rows
    }
    if not hit_files:
        return versions[-1]

    rt_mat = (
        _row_tracking_rewrite_mode(path, config, hit_files, "UPDATE")
        if rt_feats
        else None
    )
    rels_sorted = sorted(hit_files)
    rows_schema = _reader_schema(schema, cm_mode)
    if rt_mat:
        rows_schema = _rt_read_schema(rows_schema, rt_mat)
    rows, pv_finish2 = _partitioned_scan(
        spark,
        path,
        rows_schema,
        rels_sorted,
        cand_pvals,
        schema,
        partition_cols,
        cm_mode,
    )
    if rt_mat:
        rt_depth = _rt_suffix_depth(rels_sorted, path)
        rows = _rt_capture(rows, rt_depth)
    dv_hit = {rel: dv_cand[rel] for rel in hit_files if rel in dv_cand}
    if dv_hit:
        rows = _apply_deletion_vectors(
            spark, path, rows, dv_hit, all_rels=sorted(hit_files)
        )
    rt_extras: tuple = ()
    if rt_mat:
        rows = _rt_stamp_stable(spark, rows, rels_sorted, cand, rt_mat, rt_depth)
        rt_extras = rt_mat
    rows = pv_finish2(rows)
    rows = _present_logical(rows, schema, cm_mode, extras=rt_extras)
    by_field = {f.name: f for f in schema.fields}
    rt_cols = []
    if rt_mat:
        # preservation split: EVERY surviving row keeps its stable row
        # id; only unmodified copies keep the stable commit version —
        # updated rows null it out so the new add's
        # defaultRowCommitVersion (the updating commit) applies, exactly
        # delta-spark's rewrite semantics
        mid_c, mcv_c = rt_mat
        rt_cols = [
            F.col(f"`{mid_c}`").alias(mid_c),
            F.when(pred, F.lit(None).cast("long"))
            .otherwise(F.col(f"`{mcv_c}`"))
            .alias(mcv_c),
        ]
    rewritten = rows.select(
        *[
            F.when(pred, F.expr(set_exprs[c]).cast(by_field[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in schema.fieldNames()
        ],
        *rt_cols,
    )
    # generated columns the SET list leaves untouched recompute from the
    # POST-SET values (delta-spark behavior) — identity for unmatched
    # rows, whose bases did not change
    regen = {
        g: e for g, e in _generated_exprs(schema) if g not in set_exprs
    }

    def _apply_regen(frame: DataFrame, extras: tuple = ()) -> DataFrame:
        if not regen:
            return frame
        return frame.select(
            *[
                F.expr(regen[c]).cast(by_field[c].dataType).alias(c)
                if c in regen
                else F.col(c)
                for c in schema.fieldNames()
            ],
            *[F.col(f"`{e}`") for e in extras],
        )

    rewritten = _apply_regen(rewritten, extras=rt_extras)
    rewritten = _physical_frame(rewritten, schema, cm_mode, extras=rt_extras)
    now_ms = int(time.time() * 1000)
    removes: list[dict[str, Any]] = [
        _remove_action(rel, cand[rel], now_ms) for rel in sorted(hit_files)
    ]
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    writer = rewritten.write.mode("errorifexists")
    if partition_cols:
        writer = writer.partitionBy(*[phys_of[p] for p in partition_cols])
    writer.parquet(staging)
    viol = _violated_constraint(spark, staging, schema, config, cm_mode)
    if viol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"{viol[0]} ({viol[1]}) violated by UPDATE "
            f"of Delta table at {path}"
        )
    gviol = _violated_generated(
        spark, staging, schema, cm_mode, _generated_exprs(schema)
    )
    if gviol:
        import shutil

        shutil.rmtree(staging)
        raise ValueError(
            f"generated column {gviol[0]} must equal ({gviol[1]}): the "
            f"UPDATE's SET list breaks it on Delta table at {path}"
        )
    cdc_actions: list[dict[str, Any]] = []
    if _cdf_enabled(config):
        # CDF write contract: the matched rows ride in _change_data as
        # an update_preimage/update_postimage pair — the rendering a
        # file-granular derivation cannot produce; cost ∝ matched rows
        matched = rows.filter(pred)
        post = _apply_regen(
            matched.select(
                *[
                    F.expr(set_exprs[c]).cast(by_field[c].dataType).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in schema.fieldNames()
                ]
            )
        )
        cdc_actions = _stage_cdc_actions(
            path,
            matched.select(*schema.fieldNames())
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.withColumn("_change_type", F.lit("update_postimage"))
            ),
            schema,
            partition_cols,
            cm_mode,
        )
    adds = _move_staged_adds(
        staging,
        path,
        now_ms,
        skip_minmax=_collated_top_columns(schema, cm_mode),
        stats_cols=_indexed_stats_columns(schema, config, cm_mode),
    )
    tail = cdc_actions + [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UPDATE",
                "operationParameters": {
                    "predicate": condition,
                    "set": dict(sorted(set_exprs.items())),
                },
            }
        }
    ]
    if rt_feats:
        # new adds get fresh baseRowId/defaultRowCommitVersion; when the
        # table reserves materialized columns the rows carry PRESERVED
        # ids (and, for unmodified copies, commit versions) that
        # coalesce-win over the fresh defaults on read
        return _commit_row_tracking(
            path, removes, adds, tail, "mutate", 5, grants
        )
    return _commit_with_retry(
        path,
        versions[-1] + 1,
        removes + adds + tail,
        depends_on=set(hit_files),
        read_metadata=True,  # update enforced appendOnly/constraints from its snapshot
        extra_features=grants,
    )


def clone_delta(src: str, dst: str) -> int:
    """SHALLOW CLONE (delta-spark's ``CREATE TABLE dst SHALLOW CLONE
    src``): a zero-copy fork — the clone's version-0 commit lists the
    source's ACTIVE files by ABSOLUTE path (stats/sizes copied from the
    source log, no data IO at all), under a fresh table id with the
    source's schema, properties, and protocol. Writes and DML against
    the clone are copy-on-write into the clone's own directory; the
    source never changes. Reading follows the spec's absolute-path
    allowance via ``_data_file`` — external shallow clones with
    file:// URIs read too.

    Partitioned sources clone too (round-12): the add actions carry
    the spec's authoritative per-file ``partitionValues``, and every
    scan resolves partition columns from them when paths are absolute
    (``_partitioned_scan``) — the clone never needs the source's hive
    directory layout. Log-level partition pruning is unchanged (it
    always keyed on partitionValues).

    Sources with ACTIVE deletion vectors clone too (round-12): each
    relative (``u``) DV descriptor is rewritten to the spec's
    absolute-path form (``p`` storageType) resolving into the SOURCE
    directory, so the clone reads deletes without copying a byte; the
    clone's own DML that touches such a file applies-and-rewrites it
    DV-free into the clone's directory, like any DV rewrite.

    VACUUM caveat (same hazard delta-spark documents for its shallow
    clones): the clone's VACUUM walks only the clone's directory and
    can never reclaim source files — but the SOURCE does not know the
    clone exists. If the source later deletes/overwrites data and then
    vacuums, files (or DV ``.bin`` sidecars) that only the CLONE still
    references are reclaimed and the clone silently breaks. Treat a
    shallow clone as valid only while the source retains the cloned
    snapshot's files.

    Refusal (explicit, with the workaround named): rowTracking sources
    (fresh row ids would violate preservation — deep-copy instead).
    Returns the clone's version (always 0)."""
    versions = _list_versions(src)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {src}")
    latest = versions[-1]
    active, _schema, pcols, meta = _replay(src, latest)
    proto = _latest_protocol(src, latest)
    if "rowTracking" in set(proto.get("writerFeatures") or []):
        raise ValueError(
            f"shallow clone of rowTracking table {src} is not supported "
            "— cloned rows would need fresh ids, violating preservation; "
            "deep-copy instead"
        )
    if _list_versions(dst):
        raise ValueError(f"clone destination {dst} is already a Delta table")
    # the clone's first commit must uphold every writer obligation the
    # copied protocol claims — this is the one write path that creates
    # a table from another's protocol, so the same gate every DML verb
    # passes runs here (icebergCompat, unknown future features refuse)
    _check_write_protocol(
        proto,
        src,
        "shallow clone",
        extra_features=frozenset(
            {
                "columnMapping",
                "domainMetadata",
                "changeDataFeed",
                "generatedColumns",
                "identityColumns",
                "clustering",
                "clusteredTable",
            }
        ),
        meta=meta,
    )
    now = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["id"] = str(uuid.uuid4())
    new_meta["createdTime"] = now
    cfg = dict(new_meta.get("configuration", {}))
    # the source's ICT enablement provenance names a version in the
    # SOURCE's history; on the clone, ICT holds from version 0, which
    # the spec expresses by OMITTING the enablement keys
    cfg.pop("delta.inCommitTimestampEnablementVersion", None)
    cfg.pop("delta.inCommitTimestampEnablementTimestamp", None)
    new_meta["configuration"] = cfg
    src_abs = os.path.abspath(src)
    adds = []
    for rel, a in sorted(active.items()):
        a2 = dict(a)
        if not os.path.isabs(rel) and "://" not in rel:
            a2["path"] = os.path.join(src_abs, rel)  # clone-of-clone keeps abs
        dv = a2.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            # relative descriptors resolve against the TABLE root, which
            # for the clone is the wrong directory — rewrite to the
            # spec's absolute-path form ('p': pathOrInlineDv is the
            # .bin path itself), pointing into the source. offset/size/
            # cardinality are path-independent and copy verbatim.
            from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
                dv_file_path,
            )

            a2["deletionVector"] = dict(
                dv,
                storageType="p",
                pathOrInlineDv=dv_file_path(src_abs, dv["pathOrInlineDv"]),
            )
        a2["dataChange"] = True
        adds.append({"add": a2})
    # table-level domain metadata travels with the clone (delta-spark's
    # CLONE preserves clustering); removed tombstones stay behind
    domains = [
        {"domainMetadata": dm}
        for _, dm in sorted(_collect_domain_metadata(src, latest).items())
        if not dm.get("removed")
    ]
    actions = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_abs,
                    "sourceVersion": latest,
                },
            }
        },
        {"protocol": proto},
        {"metaData": new_meta},
        *domains,
        *adds,
    ]
    os.makedirs(_log_dir(dst), exist_ok=True)
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        # the clone inherits the source's ICT obligation: its very
        # first commit must carry an inCommitTimestamp
        actions = _stamp_in_commit_timestamp(dst, 0, actions)
    _commit(dst, 0, actions)
    return 0


def convert_to_delta(
    path: str, partition_by: dict[str, str] | None = None
) -> int:
    """CONVERT TO DELTA (delta-spark's ``CONVERT TO DELTA
    parquet.`path` [PARTITIONED BY (...)]``): retrofit a Delta log onto
    an EXISTING parquet directory IN PLACE — log-only, zero data IO
    beyond one footer read per file (schema + min/max stats, the same
    footer walk every staged write performs). After conversion the
    directory is a full Delta table: snapshot reads, time travel from
    v0, stats-targeted DML, OPTIMIZE, VACUUM.

    ``partition_by`` maps partition column name → Spark SQL type
    string ({"lang": "string"}) for hive-layout directories —
    delta-spark likewise requires the partition schema spelled out
    (``PARTITIONED BY (lang STRING)``): dir names alone cannot type
    the values. Hive-escaped dir values percent-decode and
    ``__HIVE_DEFAULT_PARTITION__`` becomes null, exactly as staged
    writes record them.

    Strictness (refusals over guesses): an existing ``_delta_log``
    refuses (already a Delta table); files whose hive depth/keys
    disagree with ``partition_by`` refuse (mixed layouts need a real
    migration); footers with differing schemas refuse (schema
    evolution is a post-conversion ``write_delta(merge_schema=True)``
    job). Zero-row files are skipped like staged writes — VACUUM may
    later reclaim them, losing nothing. Files the walk does not
    reference (non-parquet debris) become VACUUM candidates: the same
    contract delta-spark documents for its CONVERT. Returns 0 (the
    created version)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if _list_versions(path):
        raise ValueError(
            f"{path} is already a Delta table — CONVERT is for plain "
            "parquet directories"
        )
    part_names = list(partition_by or {})
    rels: list[str] = []
    for root, dirs, files_ in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in sorted(files_):
            if name.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, name), path)
                rels.append(rel)
    if not rels:
        raise FileNotFoundError(f"no parquet files under {path}")
    data_schema: T.StructType | None = None
    now_ms = int(time.time() * 1000)
    adds: list[dict[str, Any]] = []
    for rel in sorted(rels):
        pvals = {
            k: (None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw))
            for k, raw in (
                part.split("=", 1)
                for part in rel.split(os.sep)[:-1]
                if "=" in part
            )
        }
        if sorted(pvals) != sorted(part_names):
            raise ValueError(
                f"file {rel} sits under hive keys {sorted(pvals)} but "
                f"partition_by declares {sorted(part_names)} — convert "
                "needs a uniform layout (delta-spark's PARTITIONED BY "
                "must match the directories)"
            )
        src = os.path.join(path, rel)
        file_schema = T.StructType(
            [
                f
                for f in from_arrow_schema(pq.read_schema(src)).fields
                if f.name not in set(part_names)
            ]
        )
        if data_schema is None:
            data_schema = file_schema
        elif [(f.name, f.dataType) for f in file_schema.fields] != [
            (f.name, f.dataType) for f in data_schema.fields
        ]:
            raise ValueError(
                f"parquet schemas differ under {path}: {rel} has "
                f"{file_schema.simpleString()}, expected "
                f"{data_schema.simpleString()} — align the files first "
                "(evolution is a post-conversion mergeSchema write)"
            )
        stats = _file_stats(src)
        if stats and json.loads(stats).get("numRecords") == 0:
            continue
        add: dict[str, Any] = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": pvals,
            "size": os.path.getsize(src),
            "modificationTime": int(os.path.getmtime(src) * 1000),
            "dataChange": True,
        }
        if stats:
            add["stats"] = stats
        adds.append({"add": add})
    if not adds:
        raise ValueError(f"every parquet file under {path} is zero-row")
    full_schema = T.StructType(
        list(data_schema.fields)
        + [
            T.StructField(
                n, _parse_sql_type(t), True
            )
            for n, t in (partition_by or {}).items()
        ]
    )
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT",
                "operationParameters": {
                    "partitionedBy": part_names,
                    "numFiles": len(adds),
                },
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": full_schema.json(),
                "partitionColumns": part_names,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
        *adds,
    ]
    os.makedirs(_log_dir(path), exist_ok=True)
    _commit(path, 0, actions)
    return 0


def _parse_sql_type(t: str) -> T.DataType:
    """A Spark SQL type string ('int', 'string', 'timestamp', …) to its
    DataType — the PARTITIONED BY type spellings convert accepts."""
    return T._parse_datatype_string(t)


def restore_delta(
    path: str,
    to_version: int | None = None,
    to_timestamp: int | float | str | None = None,
) -> int:
    """RESTORE TABLE TO VERSION AS OF ``to_version`` (or TO TIMESTAMP
    AS OF ``to_timestamp`` — epoch ms or ISO-8601, resolved through
    ``version_at_timestamp``, round-10) — a new commit that
    re-activates the old snapshot's files and removes the ones added
    since, so the restore is itself versioned history (time travel to
    the pre-restore state still works; nothing is rewritten, only log
    actions move). Files the old snapshot needs must still exist —
    VACUUM may have reclaimed them, in which case this raises instead of
    committing a snapshot that cannot be read (real Delta's behavior).
    Returns the committed version (unchanged if already identical)."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    if (to_version is None) == (to_timestamp is None):
        raise ValueError("pass exactly one of to_version / to_timestamp")
    if to_timestamp is not None:
        to_version = version_at_timestamp(path, to_timestamp)
    current = versions[-1]
    old_active, _old_schema, old_pcols, _ = _replay(path, to_version)
    cur_active, _cur_schema, cur_pcols, _ = _replay(path, current)
    config = dict(_latest_metadata(path, current).get("configuration", {}))
    if config.get("delta.appendOnly") == "true" and (
        cur_active.keys() - old_active.keys()
    ):
        raise ValueError(
            f"Delta table at {path} is delta.appendOnly=true: RESTORE "
            "would remove files added since the target version"
        )
    missing = sorted(
        rel
        for rel in old_active.keys() - cur_active.keys()
        if not os.path.exists(_data_file(path, rel))
    )
    if missing:
        raise ValueError(
            f"cannot RESTORE {path} to version {to_version}: data files "
            f"missing (vacuumed?): {missing[:5]}"
        )
    # a re-activated add may reference a DV .bin that vacuum reclaimed
    # once the CURRENT snapshot stopped referencing it — same refusal
    # as missing data files, or the restored snapshot would be unreadable
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
        dv_file_path,
    )

    missing_bins = sorted(
        {
            dv_file_path(path, dv["pathOrInlineDv"])
            if dv.get("storageType") == "u"
            else dv["pathOrInlineDv"]
            for rel in old_active.keys() - cur_active.keys()
            if (dv := old_active[rel].get("deletionVector"))
            and dv.get("storageType") in ("u", "p")
        }
    )
    missing_bins = [p for p in missing_bins if not os.path.exists(p)]
    if missing_bins:
        raise ValueError(
            f"cannot RESTORE {path} to version {to_version}: deletion-"
            f"vector files missing (vacuumed?): {missing_bins[:5]}"
        )
    old_meta = _latest_metadata(path, to_version)
    cur_meta = _latest_metadata(path, current)
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    if (
        old_meta["schemaString"] != cur_meta["schemaString"]
        or old_pcols != cur_pcols
    ):
        restored_meta = dict(old_meta)
        # table properties are NOT restored (matching real Delta:
        # RESTORE moves data, configuration survives)
        restored_meta["configuration"] = config
        actions.append({"metaData": restored_meta})
    for rel in sorted(cur_active.keys() - old_active.keys()):
        actions.append(_remove_action(rel, cur_active[rel], now_ms))
    for rel in sorted(old_active.keys() - cur_active.keys()):
        add = dict(old_active[rel])
        add["dataChange"] = True
        actions.append({"add": add})
    if not actions:
        return current  # snapshots identical — nothing to restore
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": to_version},
            }
        }
    )
    # generatedColumns is vacuous for RESTORE: every re-activated file
    # satisfied the expressions when it was committed
    grants = {"columnMapping", "generatedColumns"}
    proto = _latest_protocol(path, current)
    if "rowTracking" in set(proto.get("writerFeatures") or []):
        # RESTORE re-activates old adds VERBATIM, so their baseRowId /
        # defaultRowCommitVersion stamps (and any materialized row-id
        # columns in the untouched files) are preserved and the
        # high-water mark stays monotonic — unless a re-activated add
        # predates rowTracking and has no stamp while the feed of ids is
        # live, in which case the restored snapshot would violate the
        # enabled-feature contract: refuse.
        unstamped = sorted(
            rel
            for rel in old_active.keys() - cur_active.keys()
            if old_active[rel].get("baseRowId") is None
        )
        if unstamped and config.get("delta.enableRowTracking") == "true":
            raise DeltaUnsupportedProtocol(
                f"cannot RESTORE {path} to version {to_version}: "
                f"re-activated files {unstamped[:5]} carry no baseRowId "
                "but delta.enableRowTracking=true — the restored "
                "snapshot would break row-id derivation"
            )
        grants |= {"rowTracking", "domainMetadata"}
    if not _cdf_enabled(config):
        # with the feed OFF nothing is required of a writer; an ENABLED
        # feed would demand change rows for this add+remove commit,
        # which RESTORE does not emit — the gate refuses then
        grants.add("changeDataFeed")
    return _commit_with_retry(
        path,
        current + 1,
        actions,
        depends_on=set(old_active) & set(cur_active),
        # RESTORE's remove/add list is a function of the LATEST version:
        # a rival blind append landing first would otherwise survive the
        # restore (post-RESTORE state = target + rival's files) — any
        # race raises instead (round-5 advice finding)
        full_table=True,
        extra_features=frozenset(grants),
    )


def last_txn_version(path: str, app_id: str) -> int:
    """Highest committed ``txn`` version for ``app_id`` (-1 if none) —
    the Delta protocol's idempotent-writer bookkeeping: a streaming
    sink records {txn: {appId, version=batchId}} with each commit and
    skips batches at or below this watermark on retry. Checkpoint-
    accelerated: only post-checkpoint commits are parsed, so a long-lived
    stream's per-batch watermark probe stays O(CHECKPOINT_INTERVAL)."""
    versions = _list_versions(path)
    if not versions:
        return -1
    return _collect_txns(path, versions[-1]).get(app_id, -1)


def reorg_delta(spark: SparkSession, path: str) -> int | None:
    """REORG TABLE ... APPLY (PURGE) (round-12): rewrite ONLY the files
    carrying deletion vectors, materializing their soft deletes into
    DV-free files — delta-spark's maintenance verb for draining DVs
    ahead of VACUUM. Thin, documented composition of the byte-aware
    OPTIMIZE: a ``min_file_size`` floor of 0 makes the candidate set
    exactly the DV carriers (no file is smaller than 0), the round-11
    lone-DV rule qualifies even a single-file partition, and
    ``zorder_by=[]`` pins plain bin-packing so a clustered table's
    OPTIMIZE pickup cannot widen the rewrite beyond the DV files
    (delta-spark's PURGE does not re-cluster either). DV-free files are
    untouched log- and data-wise. Returns the commit version, or None
    when no active file carries a deletion vector."""
    return optimize_delta(spark, path, min_file_size=0, zorder_by=[])


def write_delta_txn(
    df: DataFrame, path: str, app_id: str, txn_version: int, mode: str = "append"
) -> int | None:
    """Idempotent transactional write — the Delta streaming-sink
    primitive: the commit carries a ``txn`` action binding (app_id,
    txn_version), and a replayed batch (txn_version ≤ the table's last
    recorded version for app_id) is a no-op. Structured Streaming's
    foreachBatch may re-deliver a batch after a failure; this is
    exactly-once at the table level without any sink-side state.

    Returns the committed Delta version, or None when skipped. The txn
    action rides IN the data commit (one atomic log entry), so a crash
    can never record data without its idempotence marker or vice versa.

    Zombie-writer race: when a stale attempt and its restarted
    replacement both pass the pre-commit idempotence check, the loser's
    retry loop sees the winner's txn action for this appId and raises
    (``_commit_with_retry``'s ConcurrentTransaction arm) instead of
    re-committing the batch as a blind append — the re-check below then
    resolves to the idempotent no-op, preserving exactly-once."""
    if txn_version <= last_txn_version(path, app_id):
        return None
    try:
        return write_delta(
            df,
            path,
            mode=mode,
            extra_actions=[{"txn": {"appId": app_id, "version": int(txn_version)}}],
        )
    except DeltaConcurrentModification:
        if txn_version <= last_txn_version(path, app_id):
            return None  # the rival WAS this batch — already committed once
        raise


def stream_to_delta(stream_df: DataFrame, path: str, app_id: str, **options: Any):
    """Structured Streaming → Delta table: foreachBatch with the txn
    idempotence above (each micro-batch commits once even if Spark
    replays it). Returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_delta_txn(batch_df, path, app_id, batch_id, mode="append")

    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .options(**options)
        .start()
    )


def vacuum_delta(
    path: str,
    retain_hours: float | None = None,
    force: bool = False,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM: delete data files no longer referenced by the CURRENT
    snapshot and older than the retention window — removed-by-overwrite
    files, crashed-writer orphans, abandoned staging. Like Delta's,
    this breaks time travel to versions whose files it deletes; the
    default 7-day retention is Delta's. Returns deleted paths.
    ``dry_run`` (round-12, VACUUM ... DRY RUN): list what WOULD be
    reclaimed without touching a byte — same walk, same keep-set, same
    retention clock, no unlink and no empty-dir pruning.
    ``retain_hours=None`` (round-12) resolves delta-spark's default
    chain: the table's ``delta.deletedFileRetentionDuration``
    CalendarInterval when set, else the 7-day (168 h) spec default —
    an explicit argument always wins, and the 1 h safety floor applies
    to whatever value resolves.

    The keep-set is the current snapshot only, so a retention shorter
    than the longest in-flight write is UNSAFE: a concurrent writer's
    part files are moved into the table root before its commit publishes,
    and a zero-retention vacuum in that window deletes them — the commit
    then references missing files. Mirroring Delta's
    retentionDurationCheck, retentions under 1 h are refused unless
    ``force=True`` (tests / single-writer maintenance windows only)."""
    if retain_hours is None:
        versions_probe = _list_versions(path)
        dur_ms = None
        if versions_probe:
            dur_ms = _parse_interval_ms(
                _latest_metadata(path, versions_probe[-1])
                .get("configuration", {})
                .get("delta.deletedFileRetentionDuration")
            )
        retain_hours = (
            dur_ms / 3600000.0 if dur_ms is not None else 168.0
        )
    if retain_hours < 1.0 and not force:
        raise ValueError(
            f"retain_hours={retain_hours} is below the 1 h safety floor: "
            "files of a not-yet-committed concurrent write would be "
            "deleted, corrupting its commit. Pass force=True only when "
            "no writer can be in flight."
        )
    # the vacuumProtocolCheck contract: VACUUM must re-check the
    # protocol gates before deleting anything — a table carrying a
    # feature this implementation does not understand may reference
    # data files in ways the replay below cannot see (the exact failure
    # the feature exists to prevent), so refuse instead of deleting
    versions = _list_versions(path)
    if versions:
        # VACUUM deletes only files NO snapshot references: column
        # mapping (names), rowTracking (ids ride in adds), the
        # domainMetadata log vocabulary and changeDataFeed (_change_data
        # files age out under the same retention clock, delta-spark's
        # own VACUUM behavior) are all vacuous for it — allow those
        # tables so routine maintenance works on modern defaults
        _check_write_protocol(
            _latest_protocol(path, versions[-1]),
            path,
            "vacuum",
            extra_features=frozenset(
                {
                    "columnMapping",
                    "rowTracking",
                    "domainMetadata",
                    "changeDataFeed",
                    "generatedColumns",
                }
            ),
            meta=_latest_metadata(path, versions[-1]),
        )
    active, _, _, _ = _replay(path, None)
    # keep-set in RESOLVED absolute form: an add may legally point at a
    # file via an absolute path or file:// URI (shallow clones, external
    # writers) — including INSIDE this very table dir, where the raw
    # stored string would never match the walk's relative names and
    # vacuum would delete an actively referenced file
    keep = {os.path.abspath(_data_file(path, rel)) for rel in active}
    # DV .bin sidecars referenced by the CURRENT snapshot must survive;
    # once apply-and-rewrite (DELETE/MERGE/OPTIMIZE) materializes the
    # deletes, the orphaned .bin becomes reclaimable like any other
    # unreferenced file. One .bin can hold frames for SEVERAL adds —
    # any surviving reference keeps the whole file.
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
        dv_file_path,
    )

    for a in active.values():
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            p = (
                dv_file_path(path, dv["pathOrInlineDv"])
                if dv["storageType"] == "u"
                else dv["pathOrInlineDv"]
            )
            keep.add(
                os.path.abspath(p if os.path.isabs(p) else os.path.join(path, p))
            )
    cutoff = time.time() - retain_hours * 3600.0
    deleted: list[str] = []
    for root, dirs, files in os.walk(path, topdown=True):
        dirs[:] = [d for d in dirs if d != _LOG_DIR]
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.normpath(os.path.relpath(full, path))
            reclaimable = name.endswith(".parquet") or (
                name.startswith("deletion_vector_") and name.endswith(".bin")
            )
            if os.path.abspath(full) in keep or not reclaimable:
                continue
            if os.path.getmtime(full) <= cutoff:
                if not dry_run:
                    os.remove(full)
                deleted.append(rel)
    # prune now-empty partition dirs (bottom-up)
    if not dry_run:
        for root, dirs, files in os.walk(path, topdown=False):
            if root != path and not dirs and not files:
                os.rmdir(root)
    return sorted(deleted)


def fsck_repair_delta(path: str, dry_run: bool = False) -> list[str]:
    """FSCK REPAIR TABLE (round-12): drop snapshot references to data
    files that are MISSING on disk — the repair verb for tables whose
    files were lost out-of-band (manual deletes, storage faults, a
    source-side VACUUM invalidating a shallow clone). One commit of
    ``remove`` actions (dataChange=true, delta-spark's semantics) so
    reads stop failing; the data loss already happened, FSCK just makes
    the log agree with the disk. An add is dropped when its parquet is
    missing OR its on-disk deletion-vector sidecar ('u'/'p' storage) is
    — a file whose delete-mask is gone cannot be read faithfully.
    ``dry_run`` lists the broken references without committing. Returns
    the dropped relative paths ([] = healthy, nothing committed).

    Deliberate postures: runs on appendOnly tables (refusing would
    leave the table permanently unreadable, and the rows were lost, not
    logically deleted); no ``cdc`` actions are emitted (the rows cannot
    be rendered — CDF windows crossing a repaired commit reflect the
    removes only, as with delta-spark's FSCK)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deletion_vectors import (
        dv_file_path,
    )

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    latest = versions[-1]
    _check_write_protocol(
        _latest_protocol(path, latest),
        path,
        "fsck",
        extra_features=frozenset(
            {
                "columnMapping",
                "rowTracking",
                "domainMetadata",
                "changeDataFeed",
                "generatedColumns",
                "identityColumns",
            }
        ),
        meta=_latest_metadata(path, latest),
    )
    active, _schema, _pcols, _meta = _replay(path, latest)
    broken: list[str] = []
    for rel, a in active.items():
        if not os.path.exists(_data_file(path, rel)):
            broken.append(rel)
            continue
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            p = (
                dv_file_path(path, dv["pathOrInlineDv"])
                if dv["storageType"] == "u"
                else dv["pathOrInlineDv"]
            )
            if not os.path.exists(
                p if os.path.isabs(p) else os.path.join(path, p)
            ):
                broken.append(rel)
    broken.sort()
    if not broken or dry_run:
        return broken
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [
        _remove_action(rel, active[rel], now_ms) for rel in broken
    ]
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "FSCK",
                "operationParameters": {
                    "numRemovedFiles": len(broken)
                },
            }
        }
    )
    _commit_with_retry(path, latest + 1, actions)
    return broken


def cleanup_log(path: str, retain_versions: int = 30) -> list[str]:
    """Delta log retention: delete JSON commits (and superseded
    checkpoint parquets) STRICTLY BELOW the newest checkpoint, keeping
    at least ``retain_versions`` trailing commits — the metadata
    counterpart of VACUUM. A 10⁵-commit streaming table's _delta_log
    stays O(retain_versions + 1 checkpoint) instead of growing forever.

    Safety invariants (test-asserted):
    - never deletes at or above the newest checkpoint version — every
      surviving read has a checkpoint base, so snapshots/time travel
      inside the retention window are byte-identical;
    - reads BELOW the cleaned boundary raise a descriptive error
      (see ``_replay``'s truncation guard) rather than returning a
      silently incomplete snapshot;
    - a log with no checkpoint is never cleaned (nothing to replay
      from). Like Delta, history/CDF windows older than retention are
      gone — consume change feeds before cleaning. Returns deleted
      file names.

    ``delta.logRetentionDuration`` (round-11): when the table sets it,
    commits younger than the duration are protected from the
    count-based boundary — strictly conservative (never deletes more).
    An ABSENT property keeps pure count semantics; callers wanting
    delta-spark's 30-day default pass retain_versions sized for their
    commit cadence or set the property explicitly."""
    cp = _latest_checkpoint_version(path)
    if cp is None:
        return []
    versions = _list_versions(path)
    boundary = min(cp, (versions[-1] - retain_versions + 1) if versions else cp)
    # delta.logRetentionDuration (delta-spark's TIME-based retention,
    # round-11) acts as a protective FLOOR on top of the version count:
    # a commit younger than the duration is never deleted even when the
    # count-based boundary has passed it — strictly conservative, so an
    # external expectation of "30 days of history" survives an
    # aggressive retain_versions. Unparseable values are ignored.
    try:
        cfg = _latest_metadata(path, versions[-1]).get("configuration", {})
        dur_ms = _parse_interval_ms(cfg.get("delta.logRetentionDuration"))
    except Exception:
        dur_ms = None
    if dur_ms is not None:
        cutoff = int(time.time() * 1000) - dur_ms
        clocks = _adjusted_commit_timestamps(path, versions)
        young = [v for v in versions if clocks[v] >= 0 and clocks[v] > cutoff]
        if young:
            boundary = min(boundary, young[0])
    # every retained version must stay REPLAYABLE: version w replays
    # from the newest checkpoint ≤ w plus the JSON commits after it, so
    # the deletion floor is the newest checkpoint AT OR BELOW the
    # boundary (`base`), not the boundary itself — deleting base's
    # checkpoint (or the JSONs in (base, boundary)) would make every
    # version in [boundary, next checkpoint) raise the truncation guard
    # even though it sits inside the retention window.
    d = _log_dir(path)

    def _cp_version(name: str) -> int | None:
        m = _CP_NAME_RE.match(name)  # single-file AND multi-part forms
        if m:
            return int(m.group(1))
        m = _CP_V2_NAME_RE.match(name)  # uuid-named v2 form (round-10)
        return int(m.group(1)) if m else None

    cp_versions = sorted(
        {
            v
            for name in os.listdir(d)
            if (v := _cp_version(name)) is not None
        }
    )
    bases = [v for v in cp_versions if v <= boundary]
    if not bases:
        return []  # no checkpoint at/below the boundary: nothing deletable
    base = bases[-1]
    deleted: list[str] = []
    for v in versions:
        # replay of any retained version starts at base's checkpoint, so
        # JSONs at-or-below base are redundant — but never delete inside
        # the retention window itself (v >= boundary keeps the version
        # listing / history / CDF of retained commits intact)
        if v <= base and v < boundary:
            os.remove(_commit_file(path, v))
            deleted.append(os.path.basename(_commit_file(path, v)))
            # the version checksum describes a commit that no longer
            # replays — it goes with its JSON
            try:
                os.remove(_checksum_file(path, v))
                deleted.append(os.path.basename(_checksum_file(path, v)))
            except OSError:
                pass

    def _sidecar_refs(fpath: str) -> set[str]:
        """Bare names of the _sidecars/ files a v2 checkpoint references
        (empty for classic files, whose schema has no sidecar column)."""
        import pyarrow.parquet as pq

        try:
            if "sidecar" not in set(pq.read_schema(fpath).names):
                return set()
            col = pq.read_table(fpath, columns=["sidecar"]).to_pylist()
        except OSError:
            return set()
        return {
            os.path.basename(r["sidecar"]["path"])
            for r in col
            if r.get("sidecar") and r["sidecar"].get("path")
        }

    # superseded checkpoint files (classic parts AND v2 uuid files) go;
    # a _sidecars/ parquet goes only when EVERY checkpoint referencing
    # it is being deleted — the spec allows checkpoints to SHARE
    # sidecars, and a concurrent checkpointer's fresh (not-yet-
    # referenced) sidecars are never touched.
    dead_refs: set[str] = set()
    live_refs: set[str] = set()
    for name in sorted(os.listdir(d)):
        v = _cp_version(name)
        if v is None:
            continue
        if v < base:
            dead_refs |= _sidecar_refs(os.path.join(d, name))
            os.remove(os.path.join(d, name))
            deleted.append(name)
        else:
            live_refs |= _sidecar_refs(os.path.join(d, name))
    side_dir = os.path.join(d, "_sidecars")
    if os.path.isdir(side_dir):
        for name in sorted(dead_refs - live_refs):
            try:
                os.remove(os.path.join(side_dir, name))
                deleted.append(os.path.join("_sidecars", name))
            except OSError:
                pass
    return deleted


def _zorder_value(df: DataFrame, columns: list[str], bits: int = 4):
    """Z-value column: interleave the bits of each column's quantile-bucket
    rank. Bucketing uses sampled quantile boundaries (approxQuantile — the
    same sampled-range mechanism repartitionByRange uses), so skew cannot
    collapse the clustering; numeric columns keep range locality, string
    columns are xxhash64'd first (equality skipping only — a documented
    Z-ORDER property for high-cardinality strings in real lakehouses).
    ``bits`` per column: 2^bits buckets — enough to separate
    ``target_files`` files on every dimension."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    work = df
    tmp_cols = []
    for ci, c in enumerate(columns):
        dt = dict(df.dtypes)[c]
        key = f"_zk_{ci}"
        tmp_cols.append(key)
        if dt in ("string", "binary"):
            work = work.withColumn(key, F.xxhash64(F.col(c)).cast("double"))
        elif dt == "date":
            # Spark forbids date→double casts: epoch days keeps range
            # locality for date clustering keys
            work = work.withColumn(
                key, F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
            )
        elif dt.startswith("timestamp"):
            work = work.withColumn(
                key, F.unix_timestamp(F.col(c)).cast("double")
            )
        else:
            work = work.withColumn(key, F.col(c).cast("double"))
    # ONE sampling pass for every column's boundaries (approxQuantile
    # takes a column list) — per-column calls would each re-scan the
    # snapshot just for bucketing
    all_bnds = work.approxQuantile(tmp_cols, qs, 0.001)
    z = F.lit(0).cast("long")
    for ci, key in enumerate(tmp_cols):
        bnds = all_bnds[ci]
        if not bnds:
            # degenerate column (all null → approxQuantile returns no
            # boundaries, and F.lit([]) of an empty Python list cannot
            # even be typed): every row gets the constant bucket 0 —
            # the column contributes no clustering but ZORDER BY on it
            # still succeeds instead of failing opaquely
            continue
        # bucket = number of boundaries <= value (0..n_buckets-1);
        # nulls sort into bucket 0
        bucket = F.size(
            F.filter(
                F.lit(bnds).cast("array<double>"),
                lambda b: b <= F.coalesce(F.col(key), F.lit(float("-inf"))),
            )
        ).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(bucket, bit).bitwiseAND(F.lit(1)),
                    bit * len(columns) + ci,
                )
            )
    return work.withColumn("_zval", z).drop(*tmp_cols)


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    zorder_by: list[str] | None = None,
    min_file_size: int | None = None,
    target_file_size: int | None = None,
    where: str | None = None,
) -> int | None:
    """OPTIMIZE (bin-packing compaction): rewrite the current snapshot's
    many small files into ``target_files`` larger ones. The commit's
    adds/removes carry ``dataChange: false`` per the Delta spec — the
    table's CONTENT is unchanged, so streaming readers skip the commit.
    Returns the committed version, or None when there is nothing to do.

    Partitioned tables (round-9) bin-pack WITHIN each hive partition —
    Delta's contract: data never migrates across partitions, and ONLY
    partitions holding more than ``target_files`` files (or any, under
    zorder) are rewritten; an already-compact partition contributes no
    actions, so compacting one hot partition of a 100 TB table moves
    just that partition's bytes. The single rewrite job hash-partitions
    on the partition columns (one Spark task per hive partition at
    target 1), never one job per partition.

    ``zorder_by`` additionally CLUSTERS the rewrite on the interleaved
    quantile-rank bits of the given columns (OPTIMIZE ... ZORDER BY):
    each output file then covers a narrow [min, max] range on EVERY
    z-ordered column, so the footer-stats data skipping in ``read_delta``
    prunes on any of them — a lexicographic sort only serves its leading
    column. The z-value is range-partitioned then dropped; it never
    reaches the data files. With zorder_by the rewrite proceeds even when
    the file count is already at target (re-clustering is the point); on
    a partitioned table the range runs over (partition cols, z-value) so
    clustering stays partition-local.

    ``min_file_size`` / ``target_file_size`` (round-11, delta-spark's
    minFileSize/maxFileSize semantics): with ``min_file_size`` set,
    only files SMALLER than it (plus any file carrying a deletion
    vector — compaction materializes its deletes) are compaction
    candidates, and a partition qualifies with >= 2 candidates —
    already-compacted large files are never rewritten, which is the
    100 TB contract: re-OPTIMIZE of a hot table moves only the small
    tail, not the terabytes it already packed. With
    ``target_file_size`` set, each partition's candidates are packed
    into ceil(bytes / target) bins (first-fit-decreasing on the log's
    add.size, driver-side and bounded by file count) and the rewrite
    range-partitions on the bin id — output file sizes approximate the
    target instead of one file per partition. Both knobs are ignored
    under ``zorder_by`` (re-clustering rewrites every selected file by
    design, and the z-range already controls output count).

    ``where`` (round-12, OPTIMIZE ... WHERE 'predicate'): a Spark SQL
    predicate over the PARTITION columns only, pruning whole hive
    partitions before any candidate selection — compacting one hot
    partition of a 100 TB table touches exactly that partition's
    bytes. Evaluated with Spark's own expression semantics on a tiny
    typed frame of distinct partition tuples (driver-bounded by
    partition count); unpartitioned tables and predicates reaching
    non-partition columns refuse by name."""
    import heapq
    import math

    from pyspark.sql import functions as F

    versions = _list_versions(path)
    if not versions:
        return None
    active, schema, partition_cols, _meta = _replay(path, versions[-1])
    cm_mode = _column_mapping_mode(_meta)
    if zorder_by is None:
        # clustered table (round-12): a plain OPTIMIZE of a table with a
        # live delta.clustering domain RE-CLUSTERS on those columns —
        # delta-spark's OPTIMIZE-means-clustering contract (full
        # rewrite; incremental clustering is a future refinement)
        cluster_cols = _clustering_columns(
            path, versions[-1], schema, cm_mode, strict=True
        )
        if cluster_cols:
            zorder_by = cluster_cols
    cm = cm_mode in ("name", "id")
    config = dict(_meta.get("configuration", {}))
    proto = _latest_protocol(path, versions[-1])
    cm_feats = frozenset({"columnMapping"}) if cm else frozenset()
    rt_feats = _row_tracking_dml_features(proto)
    # changeDataFeed is vacuous for OPTIMIZE (dataChange=false commits
    # are skipped by CDF readers), and so are generatedColumns and
    # identityColumns (pure copy — values and the identity high-water
    # mark are untouched)
    grants = cm_feats | rt_feats | frozenset(
        {"changeDataFeed", "generatedColumns", "identityColumns"}
    )
    _check_write_protocol(proto, path, extra_features=grants, meta=_meta)
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    phys_of = {f.name: (_physical_name(f) if cm else f.name) for f in schema.fields}
    groups: dict[tuple, dict[str, dict]] = {}
    for rel, a in active.items():
        gkey = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups.setdefault(gkey, {})[rel] = a
    if where is not None:
        # OPTIMIZE ... WHERE 'partition predicate' (round-12,
        # delta-spark semantics: the predicate may reference PARTITION
        # columns only and prunes whole hive partitions before any file
        # is considered). Evaluated with Spark's OWN expression
        # semantics over one tiny frame of typed distinct partition
        # tuples — driver-bounded by partition count, the same budget
        # as every other planning walk here; no data file is opened.
        if not partition_cols:
            raise ValueError(
                f"optimize where= on Delta table at {path}: the table "
                "is not partitioned — the predicate prunes hive "
                "partitions, there is nothing to prune"
            )
        by_field = {f.name: f for f in schema.fields}
        gkeys = sorted(groups)
        rows = [
            (i,)
            + tuple(dict(gk).get(phys_of[c]) for c in partition_cols)
            for i, gk in enumerate(gkeys)
        ]
        tiny = spark.createDataFrame(
            rows,
            T.StructType(
                [T.StructField("_gid", T.IntegerType())]
                + [
                    T.StructField(c, T.StringType())
                    for c in partition_cols
                ]
            ),
        ).select(
            "_gid",
            *[
                F.col(c).cast(by_field[c].dataType).alias(c)
                for c in partition_cols
            ],
        )
        try:
            allowed = {
                r["_gid"] for r in tiny.filter(F.expr(where)).collect()
            }
        except Exception as exc:  # noqa: BLE001 — name the contract
            raise ValueError(
                f"optimize where= must be a predicate over the "
                f"partition columns {partition_cols} only: {exc}"
            ) from exc
        groups = {
            gk: g
            for i, gk in enumerate(gkeys)
            if i in allowed
            for g in [groups[gk]]
        }
        if not groups:
            return None
    work: dict[tuple, dict[str, dict]] = {}
    for gkey, g in groups.items():
        if zorder_by:
            work[gkey] = g  # re-clustering rewrites everything selected
        elif min_file_size is not None:
            cand = {
                rel: a
                for rel, a in g.items()
                if int(a.get("size", 0)) < min_file_size
                or a.get("deletionVector")
            }
            # a lone DV-bearing file still qualifies: delta-spark's
            # OPTIMIZE purges deletion vectors even when there is
            # nothing to bin-pack — otherwise a partition whose single
            # file carries a DV never materializes its deletes
            if len(cand) >= 2 or any(
                a.get("deletionVector") for a in cand.values()
            ):
                work[gkey] = cand
        elif len(g) > target_files or (
            target_file_size is not None and len(g) > 1
        ):
            work[gkey] = g
    if not work:
        return None
    rewrite = {rel: a for g in work.values() for rel, a in g.items()}
    rt_mat = (
        _row_tracking_rewrite_mode(path, config, set(rewrite), "OPTIMIZE")
        if rt_feats
        else None
    )
    rels_sorted = sorted(rewrite)
    # byte-aware bin assignment: pack each partition's candidate files
    # into ceil(bytes / target) bins, largest-first onto the lightest
    # bin. Driver-side over the log's add.size values — bounded by the
    # rewritten file count, same budget as the DML planning walks. The
    # bin id reaches rows via the same uniform-depth path-suffix keying
    # the DV machinery uses, so hive-escaped names round-trip.
    bin_depth = _dv_suffix_depth(rels_sorted) if rels_sorted else None
    use_bins = (
        target_file_size is not None
        and not zorder_by
        and bin_depth is not None
    )
    bin_of_rel: dict[str, int] = {}
    if use_bins:
        next_bin = 0
        for gkey, g in work.items():
            total = sum(int(a.get("size", 0)) for a in g.values())
            n_bins = max(1, math.ceil(total / target_file_size))
            loads = [(0, next_bin + i) for i in range(n_bins)]
            heapq.heapify(loads)
            for rel in sorted(g, key=lambda r: -int(g[r].get("size", 0))):
                load, bid = heapq.heappop(loads)
                bin_of_rel[rel] = bid
                heapq.heappush(loads, (load + int(g[rel].get("size", 0)), bid))
            next_bin += n_bins
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [
        _remove_action(rel, a, now_ms, data_change=False)
        for rel, a in rewrite.items()
    ]
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    snap_schema = _reader_schema(schema, cm_mode)
    if rt_mat:
        snap_schema = _rt_read_schema(snap_schema, rt_mat)
    snapshot, pv_finish = _partitioned_scan(
        spark,
        path,
        snap_schema,
        rels_sorted,
        {r: rewrite[r].get("partitionValues") or {} for r in rels_sorted},
        schema,
        partition_cols,
        cm_mode,
    )
    if use_bins:
        if len(rels_sorted) <= 2048:
            # literal map: ≤2048 keys stays inside the analyzer comfort
            # bound (same trade as dedup's ≤4096 label attach)
            _bin_map = F.create_map(
                *[
                    F.lit(x)
                    for rel in rels_sorted
                    for x in (_dv_path_key(rel, bin_depth), bin_of_rel[rel])
                ]
            )
            snapshot = snapshot.withColumn(
                "_optbin", _bin_map[_dv_file_key_col(bin_depth)]
            )
        else:
            # many small files is exactly the byte-aware target case —
            # above the literal bound, attach via a broadcast hash join
            # keyed the same way (the _rt_stamp_stable pattern)
            bmap = spark.createDataFrame(
                [(_dv_path_key(rel, bin_depth), bin_of_rel[rel]) for rel in rels_sorted],
                "_optkey string, _optbin int",
            )
            snapshot = (
                snapshot.withColumn("_optkey", _dv_file_key_col(bin_depth))
                .join(F.broadcast(bmap), "_optkey")
                .drop("_optkey")
            )
    if rt_mat:
        rt_depth = _rt_suffix_depth(rels_sorted, path)
        snapshot = _rt_capture(snapshot, rt_depth)
    dv_active = {
        rel: a["deletionVector"]
        for rel, a in rewrite.items()
        if a.get("deletionVector")
    }
    if dv_active:
        # apply-and-rewrite: compaction materializes the DV deletes —
        # logical content is unchanged (dataChange stays False), the
        # bitmaps just stop existing
        snapshot = _apply_deletion_vectors(
            spark, path, snapshot, dv_active, all_rels=list(rewrite)
        )
    rt_extras: tuple = ()
    if rt_mat:
        # compaction copies every row unmodified: preserve BOTH stable
        # values — the spec's core rowTracking promise (OPTIMIZE must
        # never change row identity)
        snapshot = _rt_stamp_stable(
            spark, snapshot, rels_sorted, rewrite, rt_mat, rt_depth
        )
        rt_extras = rt_mat
    snapshot = pv_finish(snapshot)
    snapshot = _present_logical(
        snapshot,
        schema,
        cm_mode,
        extras=(*rt_extras, "_optbin") if use_bins else rt_extras,
    )
    n_out = max(1, target_files) * len(work)
    if zorder_by:
        missing = set(zorder_by) - set(snapshot.columns)
        if missing:
            raise ValueError(f"zorder_by columns not in table: {sorted(missing)}")
        clustered = (
            _zorder_value(snapshot, list(zorder_by))
            .repartitionByRange(n_out, *partition_cols, "_zval")
            .sortWithinPartitions(*partition_cols, "_zval")
            .drop("_zval")
        )
    elif use_bins:
        # one task per size-packed bin: range partitioning on the
        # globally-unique bin id separates bins exactly (a hash
        # repartition would merge ~1/e of them by collision); _optbin
        # is projection-dropped by _physical_frame below
        n_bins = len(set(bin_of_rel.values()))
        clustered = snapshot.repartitionByRange(n_bins, "_optbin")
    elif partition_cols:
        # hash on the partition columns: every row of one hive partition
        # lands in ONE task → exactly one output file per partition at
        # target 1; target>1 adds a task-local salt. Over-provisioned
        # empty parts are dropped by the staging walk.
        if target_files > 1:
            clustered = snapshot.repartition(
                n_out,
                *partition_cols,
                F.pmod(F.monotonically_increasing_id(), F.lit(target_files)),
            )
        else:
            clustered = snapshot.repartition(len(work), *partition_cols)
    else:
        clustered = snapshot.coalesce(target_files)
    writer = _physical_frame(
        clustered, schema, cm_mode, extras=rt_extras
    ).write.mode("errorifexists")
    if partition_cols:
        writer = writer.partitionBy(*[phys_of[p] for p in partition_cols])
    writer.parquet(staging)
    adds = _move_staged_adds(
        staging,
        path,
        now_ms,
        data_change=False,
        skip_minmax=_collated_top_columns(schema, cm_mode),
        stats_cols=_indexed_stats_columns(schema, config, cm_mode),
    )
    tail = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetFiles": target_files,
                    "zOrderBy": list(zorder_by or []),
                    **(
                        {"minFileSize": min_file_size}
                        if min_file_size is not None
                        else {}
                    ),
                    **(
                        {"targetFileSize": target_file_size}
                        if target_file_size is not None
                        else {}
                    ),
                },
            }
        }
    ]
    if rt_feats:
        # compacted adds get fresh defaults, but with materialized
        # columns reserved every copied row carries its PRESERVED stable
        # id+commit version (coalesce-wins on read); dataChange stays
        # false on the stamped adds — _commit_row_tracking copies it
        return _commit_row_tracking(
            path, actions, adds, tail, "mutate", 5, grants
        )
    # OPTIMIZE reads the files it rewrites, so a rival removing any of
    # them conflicts; rival appends (and rewrites of untouched
    # partitions) retry cleanly — their files simply stay un-compacted
    return _commit_with_retry(
        path,
        versions[-1] + 1,
        actions + adds + tail,
        depends_on=set(rewrite),
        extra_features=grants,
    )


def delta_changes(
    spark: SparkSession, path: str, since_version: int, to_version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Change-feed-lite between snapshots: ``(added_rows, removed_rows)``
    across versions in ``(since_version, to_version]``. File-granular —
    rows come from add/remove actions' files, so an updated row appears
    in BOTH frames (its old file removed, its new file added), exactly
    the +/- delta an incremental aggregate consumer needs. Actions with
    ``dataChange: false`` (OPTIMIZE rewrites) are skipped per the Delta
    CDF contract: they move bytes, not content.

    Scale shape: reading only the commits' file lists, never replaying
    table content — the cost is proportional to the CHANGED data, which
    is the entire point of incremental maintenance at 100 TB. Files
    removed by the window must not have been vacuumed yet (same
    constraint as real CDF reads past retention).

    Deletion-vector windows (round-9): a DV commit changes the CONTENT
    of an existing path, which file-granular netting cannot see. When
    the window touches a DV table, the feed switches to a CONTENT-state
    diff: simulate only the window's dataChange actions from the
    replayed start snapshot, then per path emit (a) full survivor sets
    for appearing/disappearing files and (b) row-level diffs of the old
    vs new bitmap for in-place DV updates — rows in (newDV − oldDV) are
    deletes, (oldDV − newDV) are re-inserts (RESTORE). Cost stays
    proportional to the changed rows: bitmaps are decoded per the
    DV_DRIVER_DECODE_MAX locality gate and only the diffed files are
    ever read."""
    from pyspark.sql import functions as F

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    if to_version is None:
        to_version = versions[-1]
    if since_version + 1 < versions[0] and since_version != to_version:
        # the window reaches below log retention (cleanup_log deleted
        # those commits) — partial change feeds must error, not
        # silently under-report, same contract as real CDF past retention
        raise ValueError(
            f"change window ({since_version}, {to_version}] predates the "
            f"retained log (oldest commit {versions[0]}) at {path}"
        )
    _, schema, cdf_pcols, cdf_meta = _replay(path, to_version)
    window: list[list[dict[str, Any]]] = []
    has_dv_action = False
    for v in versions:
        if v <= since_version or v > to_version:
            continue
        acts = _read_actions(path, v)
        window.append(acts)
        for action in acts:
            payload = action.get("add") or action.get("remove")
            if payload and payload.get("deletionVector"):
                has_dv_action = True

    cm_mode = _column_mapping_mode(cdf_meta)
    cm = cm_mode in ("name", "id")
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    def _load_survivors(
        files_dv: dict[str, dict | None], pvals_of: dict[str, dict]
    ) -> DataFrame:
        """Full logical content of the given files: each file minus its
        deletion vector (None = whole file). Partition columns come from
        the hive dir names (basePath) or, for shallow-clone absolute
        paths, the actions' partitionValues (``pvals_of``)."""
        if not files_dv:
            return spark.createDataFrame([], schema)
        rels = sorted(files_dv)
        df, pv_finish = _partitioned_scan(
            spark,
            path,
            _reader_schema(schema, cm_mode),
            rels,
            pvals_of,
            schema,
            cdf_pcols,
            cm_mode,
        )
        dv_by_rel = {r: d for r, d in files_dv.items() if d}
        if dv_by_rel:
            df = _apply_deletion_vectors(spark, path, df, dv_by_rel, all_rels=rels)
        df = pv_finish(df)
        return _to_logical_columns(df, schema) if cm else df.select(
            *schema.fieldNames()
        )

    proto_feats = set(
        _latest_protocol(path, to_version).get("readerFeatures") or []
    )
    if not has_dv_action and "deletionVectors" not in proto_feats:
        # NET add/remove count per path (not set intersection):
        # Delta-legal logs can remove then RE-ADD the same path
        # (RESTORE, stats-refresh commits), which set-cancellation
        # would wrongly net to "no change", and an idempotent duplicate
        # add must not double-read the file. A path's file content is
        # immutable in Delta, so net > 0 ⇒ its rows were added once;
        # net < 0 ⇒ removed once; net 0 ⇒ no content change.
        from collections import Counter

        net: Counter = Counter()
        pvals_of: dict[str, dict] = {}
        for acts in window:
            for action in acts:
                if "add" in action and action["add"].get("dataChange", True):
                    net[action["add"]["path"]] += 1
                    pvals_of[action["add"]["path"]] = (
                        action["add"].get("partitionValues") or {}
                    )
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    net[action["remove"]["path"]] -= 1
                    # spec marks remove.partitionValues optional; this
                    # engine (and real writers) copy it from the add —
                    # only needed for absolute-path (clone) layouts
                    pv = action["remove"].get("partitionValues")
                    if pv is not None:
                        pvals_of[action["remove"]["path"]] = pv
        return (
            _load_survivors(
                {p: None for p, n in net.items() if n > 0}, pvals_of
            ),
            _load_survivors(
                {p: None for p, n in net.items() if n < 0}, pvals_of
            ),
        )

    # --- DV-aware content-state diff ---
    # Start from the replayed snapshot at since_version and fold ONLY
    # the window's dataChange actions (dataChange:false moves bytes,
    # not content — an OPTIMIZE that compacts or materializes a DV
    # must read as "no change", which a raw end-snapshot replay could
    # not distinguish). Removes before adds, same reconciliation rule
    # as _replay.
    if since_version < 0:
        start_active: dict[str, dict] = {}
    else:
        try:
            start_active, _, _, _ = _replay(path, since_version)
        except ValueError as e:
            raise ValueError(
                f"DV-aware change feed needs the start snapshot at "
                f"version {since_version} of {path}: {e}"
            ) from e
    end_active: dict[str, dict] = dict(start_active)
    for acts in window:
        for action in acts:
            if "remove" in action and action["remove"].get("dataChange", True):
                end_active.pop(action["remove"]["path"], None)
        for action in acts:
            if "add" in action and action["add"].get("dataChange", True):
                end_active[action["add"]["path"]] = action["add"]

    added_full: dict[str, dict | None] = {}
    removed_full: dict[str, dict | None] = {}
    dv_pairs: dict[str, tuple[dict | None, dict | None]] = {}
    snapshot_pvals = {
        rel: a.get("partitionValues") or {}
        for active_map in (start_active, end_active)
        for rel, a in active_map.items()
    }
    for rel in set(start_active) | set(end_active):
        a0, a1 = start_active.get(rel), end_active.get(rel)
        d0 = a0.get("deletionVector") if a0 else None
        d1 = a1.get("deletionVector") if a1 else None
        if a0 is not None and a1 is not None:
            if _dv_key(d0) != _dv_key(d1):
                dv_pairs[rel] = (d0, d1)
        elif a1 is not None:
            added_full[rel] = d1
        else:
            removed_full[rel] = d0

    def _diff_rows(
        grow: dict[str, dict], shrink: dict[str, dict]
    ) -> DataFrame | None:
        """Rows of each file whose index is in its ``grow`` DV but not
        its ``shrink`` DV (bitmap set difference, joined back to the
        file's rows by (path suffix, _metadata.row_index) — same keying
        as _apply_deletion_vectors, so partitioned tables that repeat a
        part basename across hive dirs match unambiguously)."""
        if not grow:
            return None
        rels = sorted(grow)
        depth = _dv_suffix_depth(rels)
        if depth is None:
            depth = 1
            basenames = [os.path.basename(r) for r in rels]
            if len(set(basenames)) != len(basenames):
                raise ValueError(
                    f"files of {path} share a basename across "
                    "directories at mixed depths in a DV change window "
                    "— row matching would be ambiguous; refusing "
                    "rather than misreport changes"
                )
        idx = _deleted_rows_frame(spark, path, grow, depth)
        shrink = {r: d for r, d in shrink.items() if d and r in grow}
        if shrink:
            idx = idx.join(
                _deleted_rows_frame(spark, path, shrink, depth),
                ["dv_fname", "dv_ridx"],
                "left_anti",
            )
        df, pv_finish = _partitioned_scan(
            spark,
            path,
            _reader_schema(schema, cm_mode),
            rels,
            snapshot_pvals,
            schema,
            cdf_pcols,
            cm_mode,
        )
        keyed = df.withColumn(
            "dv_fname", _dv_file_key_col(depth)
        ).withColumn("dv_ridx", F.col("_metadata.row_index"))
        hit = keyed.join(idx, ["dv_fname", "dv_ridx"], "inner")
        hit = pv_finish(hit)
        return _to_logical_columns(hit, schema) if cm else hit.select(
            *schema.fieldNames()
        )

    deletes_rows = _diff_rows(
        {r: d1 for r, (d0, d1) in dv_pairs.items() if d1},
        {r: d0 for r, (d0, d1) in dv_pairs.items() if d0},
    )
    inserts_rows = _diff_rows(
        {r: d0 for r, (d0, d1) in dv_pairs.items() if d0},
        {r: d1 for r, (d0, d1) in dv_pairs.items() if d1},
    )
    added_df = _load_survivors(added_full, snapshot_pvals)
    removed_df = _load_survivors(removed_full, snapshot_pvals)
    if inserts_rows is not None:
        added_df = added_df.unionByName(inserts_rows)
    if deletes_rows is not None:
        removed_df = removed_df.unionByName(deletes_rows)
    return added_df, removed_df


def _load_cdc_files(
    spark: SparkSession,
    path: str,
    cdc_actions: list[dict[str, Any]],
    schema: T.StructType,
    partition_cols: list[str],
    cm_mode: str = "none",
) -> DataFrame:
    """Rows of a commit's ``cdc`` actions (delta-spark's ``_change_data``
    files): data columns + ``_change_type`` live in the files, partition
    values come from each action's ``partitionValues`` (authoritative
    per the spec — the files are not required to sit in hive dirs).
    Column mapping applies to change data files exactly as to data
    files (round-10): the files carry PHYSICAL names (and field ids in
    id mode) and are presented logically; action partitionValues are
    keyed by physical partition-column name, with a logical-key
    fallback for lenient external writers."""
    from functools import reduce

    from pyspark.sql import functions as F

    cm = cm_mode in ("name", "id")
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in partition_cols]
    )
    file_schema = T.StructType(
        list(_reader_schema(data_schema, cm_mode).fields)
        + [T.StructField("_change_type", T.StringType(), True)]
    )
    by_field = {f.name: f for f in schema.fields}
    phys_of = {
        f.name: (_physical_name(f) if cm else f.name) for f in schema.fields
    }
    groups: dict[tuple, list[str]] = {}
    for a in cdc_actions:
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append(_data_file(path, a["path"]))
    frames = []
    for key, files in sorted(groups.items()):
        df = spark.read.schema(file_schema).parquet(*sorted(files))
        df = _present_logical(
            df, data_schema, cm_mode, extras=("_change_type",)
        )
        pv = dict(key)
        for col in partition_cols:
            raw = pv.get(phys_of[col], pv.get(col))
            df = df.withColumn(col, F.lit(raw).cast(by_field[col].dataType))
        frames.append(df.select(*schema.fieldNames(), "_change_type"))
    return reduce(lambda a, b: a.unionByName(b), frames)


def table_changes(
    spark: SparkSession,
    path: str,
    since_version: int | None = None,
    to_version: int | None = None,
    since_timestamp: int | float | str | None = None,
    to_timestamp: int | float | str | None = None,
) -> DataFrame:
    """delta-spark's ``table_changes`` surface: ONE frame of row-level
    changes across versions in ``(since_version, to_version]``, each row
    tagged ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
    — the exact columns delta-spark's CDF reader emits.

    Per-commit source of truth, per the CDF spec: a commit carrying ANY
    ``cdc`` action describes its changes EXCLUSIVELY through those
    actions (delta-spark writes them under ``_change_data/`` when
    ``delta.enableChangeDataFeed=true`` — including the
    ``update_preimage``/``update_postimage`` pairs a file-granular
    derivation cannot produce; using the commit's add/remove actions too
    would double-count). Commits without cdc actions derive through
    ``delta_changes``'s netting/DV machinery: adds → ``insert`` rows,
    removes → ``delete`` rows, an UPDATE appearing as its delete+insert
    pair — the honest file-granular rendering, and what delta-spark
    itself cannot provide at all without CDF enabled.

    ``_commit_timestamp`` prefers ``commitInfo.inCommitTimestamp`` (the
    authoritative clock on ICT tables) over ``commitInfo.timestamp``.
    Cost ∝ changed data: per-commit file lists and cdc files only, plus
    one log-only replay per DV-touching commit."""
    from functools import reduce

    from pyspark.sql import functions as F

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    if (since_version is None) == (since_timestamp is None):
        raise ValueError(
            "pass exactly one of since_version / since_timestamp"
        )
    if since_timestamp is not None:
        # delta-spark's startingTimestamp rule, shared with the data
        # source — see version_before_timestamp
        since_version = version_before_timestamp(path, since_timestamp)
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR to_timestamp, not both")
        to_version = version_at_timestamp(path, to_timestamp)
    if to_version is None:
        to_version = versions[-1]
    if since_version + 1 < versions[0] and since_version != to_version:
        raise ValueError(
            f"change window ({since_version}, {to_version}] predates the "
            f"retained log (oldest commit {versions[0]}) at {path}"
        )
    _, schema, pcols, _meta = _replay(path, to_version)
    frames: list[DataFrame] = []
    for v in versions:
        if v <= since_version or v > to_version:
            continue
        acts = _read_actions(path, v)
        # one shared clock (ICT > commitInfo.timestamp > file mtime):
        # _prev_commit_timestamp, the same precedence timestampAsOf and
        # the streaming CDF source resolve with; -1 = unavailable
        t = _prev_commit_timestamp(path, v)
        ts = t if t >= 0 else None
        cdc_actions = [a["cdc"] for a in acts if "cdc" in a]
        if cdc_actions:
            part = _load_cdc_files(
                spark, path, cdc_actions, schema, pcols,
                _column_mapping_mode(_meta),
            )
        else:
            added, removed = delta_changes(spark, path, v - 1, v)
            part = added.withColumn(
                "_change_type", F.lit("insert")
            ).unionByName(removed.withColumn("_change_type", F.lit("delete")))
        frames.append(
            part.withColumn("_commit_version", F.lit(v).cast("long"))
            .withColumn(
                "_commit_timestamp",
                F.timestamp_millis(F.lit(int(ts)))
                if ts is not None
                else F.lit(None).cast("timestamp"),
            )
        )
    if not frames:
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_version", T.LongType(), True),
                T.StructField("_commit_timestamp", T.TimestampType(), True),
            ]
        )
        return spark.createDataFrame([], out_schema)
    return reduce(lambda a, b: a.unionByName(b), frames)


def refresh_aggregate(
    spark: SparkSession,
    path: str,
    state: DataFrame | None,
    keys: list[str],
    sums: dict[str, str],
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incrementally maintain a SUM/COUNT group-by over a Delta table —
    materialized-view maintenance without recomputing the base table:
    ``new_state = state ⊕ agg(added) ⊖ agg(removed)`` using the change
    feed above. ``sums`` maps output column → source column to SUM
    (COUNT rides along as ``_n``); groups whose count reaches zero drop
    out. ``state=None`` starts from scratch (since_version=-1).

    Only the changed files are read and the combine shuffles the GROUP
    key space of the CHANGES, so a 1%-churn refresh costs ~1% of the
    full recompute — the incremental-view shape every warehouse ETL
    needs at scale. SUM/COUNT (and AVG as their ratio) are the
    self-maintainable aggregates; MIN/MAX need a full per-group rescan
    on deletes and are deliberately out of scope."""
    from pyspark.sql import functions as F

    added, removed = delta_changes(spark, path, since_version, to_version)
    signed = added.withColumn("_sign", F.lit(1)).unionByName(
        removed.withColumn("_sign", F.lit(-1))
    )
    delta = signed.groupBy(*keys).agg(
        *[F.sum(F.col(src) * F.col("_sign")).alias(out) for out, src in sums.items()],
        F.sum("_sign").alias("_n"),
    )
    if state is None:
        merged = delta
    else:
        merged = (
            state.unionByName(delta)
            .groupBy(*keys)
            .agg(
                *[F.sum(out).alias(out) for out in sums],
                F.sum("_n").alias("_n"),
            )
        )
    return merged.filter(F.col("_n") > 0)


def delta_detail(path: str) -> dict[str, Any]:
    """DESCRIBE DETAIL parity (round-11): the one-row table summary
    delta-spark emits — id/name/description from the metaData action,
    createdAt, lastModified (the latest commit's ICT-preferring clock),
    partitionColumns, clusteringColumns (from the delta.clustering
    domain metadata when present), numFiles/sizeInBytes from the active
    snapshot, table properties, and both protocol sides with their
    feature lists. One checkpoint-accelerated replay plus the
    supplementary state the checksum machinery already knows how to
    fold."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    latest = versions[-1]
    active, _schema, pcols, meta = _replay(path, latest)
    proto = _latest_protocol(path, latest)
    # LOGICAL names, delta-spark display shape (nested parts dot-joined)
    clustering = _clustering_columns(
        path, latest, _schema, _column_mapping_mode(meta)
    )
    clocks = _adjusted_commit_timestamps(path, versions)
    # the replayed metaData preserves createdTime through checkpoints —
    # re-reading commit 0 would return None after log cleanup
    created = meta.get("createdTime")
    return {
        "format": "delta",
        "id": meta.get("id"),
        "name": meta.get("name"),
        "description": meta.get("description"),
        "location": os.path.abspath(path),
        "createdAt": created,
        "lastModified": clocks[latest] if clocks[latest] >= 0 else None,
        "partitionColumns": list(pcols),
        "clusteringColumns": clustering,
        "numFiles": len(active),
        "sizeInBytes": sum(int(a.get("size", 0)) for a in active.values()),
        "properties": dict(meta.get("configuration", {})),
        "minReaderVersion": proto.get("minReaderVersion"),
        "minWriterVersion": proto.get("minWriterVersion"),
        "tableFeatures": sorted(
            set(proto.get("readerFeatures") or [])
            | set(proto.get("writerFeatures") or [])
        ),
    }


def delta_history(path: str) -> list[dict[str, Any]]:
    """DESCRIBE HISTORY parity: one entry per version with timestamp,
    operation, mode and ``operationMetrics``. History lists the
    retained JSON commits (log cleanup is out of scope, so that is
    every version); checkpoints accelerate snapshot READS and are
    invisible here, as in Delta. Metrics use delta-spark's
    string-valued map shape; a commitInfo that recorded its own
    operationMetrics wins verbatim, otherwise the file-level subset is
    DERIVED from the commit's actions (numAddedFiles/numRemovedFiles/
    numOutputBytes — identical to what a conforming writer would have
    recorded; row-level counts need the recording writer and are
    absent on derived entries)."""
    out = []
    for v in _list_versions(path):
        actions = _read_actions(path, v)
        info = next(
            (a["commitInfo"] for a in actions if "commitInfo" in a), {}
        )
        metrics = info.get("operationMetrics")
        if metrics is None:
            adds = removes = 0
            out_bytes = 0
            for a in actions:
                if "add" in a:
                    adds += 1
                    out_bytes += int(a["add"].get("size", 0))
                elif "remove" in a:
                    removes += 1
            metrics = {
                "numAddedFiles": str(adds),
                "numRemovedFiles": str(removes),
                "numOutputBytes": str(out_bytes),
            }
        out.append(
            {
                "version": v,
                "timestamp": info.get("timestamp"),
                "operation": info.get("operation"),
                "mode": (info.get("operationParameters") or {}).get("mode"),
                "operationMetrics": metrics,
            }
        )
    return out
