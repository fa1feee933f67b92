"""Minimal Delta Lake table support from the PUBLIC transaction-log
protocol — no ``delta-spark`` dependency.

The reference reads and writes Delta everywhere (its sync stage lands
JDBC extracts as Delta RAW, ``/root/reference/sync.py:112-114``, and the
ingest stage reads them back, ``/root/reference/ingest.py:644-650``).
The ``delta-spark`` package cannot be installed in this container (no
package index — recorded in COVERAGE.md), but the Delta transaction log
is an open, documented format (delta.io PROTOCOL.md): a ``_delta_log/``
directory of ordered JSON commits (plus optional parquet checkpoints)
whose ``add``/``remove`` actions name the active parquet data files.

So this module implements the protocol directly, Spark-first:

- READ = log replay (driver-side, small) + one plain ``spark.read
  .parquet`` over the active file set with the schema from ``metaData``.
  Partitioned tables whose files are hive-layout (everything this
  writer produces) read as ONE ``basePath``-discovered relation, so
  Spark's native partition pruning applies inside a single scan node
  and the plan does not grow with partition count; non-hive external
  logs fall back to a per-partition-group union whose branches
  constant-fold away under partition filters. Time travel = replay to
  ``version``.
- WRITE = stage parquet files, move them into the table, append one
  atomically-created JSON commit (``open(..., "x")`` — a concurrent
  writer loses with a clear error instead of corrupting the log).
  Tables written here are valid protocol v1 tables (reader 1 / writer 2)
  readable by any real Delta reader.

Deliberate limits (clear errors, not wrong answers):
- protocol reader versions 1 and 2 (column mapping: physical->logical
  name resolution for modes ``name``/``id``) read natively, as does
  version 3 when every readerFeature is supported (``v2Checkpoint``,
  ``columnMapping``, ``timestampNtz``, ``deletionVectors`` — roaring
  bitmaps parsed and cardinality-checked driver-side into containers,
  then expanded on executors with Spark built-ins (explode, sequence,
  bit tests) into a
  ``_metadata.row_index`` anti-join, broadcast below MAX_DV_POSITIONS
  total cardinality and shuffled above it — any cardinality reads
  correctly; ``variantType`` and ``typeWidening``
  via Spark's native parquet handling — each combination verified);
  unimplemented features refuse with the feature named;
- all three checkpoint layouts read (classic single-part, classic
  multi-part, v2 UUID-named parquet/json incl. ``sidecar`` files); the
  writer emits classic single-part — or, on tables listing the
  ``v2Checkpoint`` feature (see ``enable_v2_checkpoint``), the v2
  UUID-named manifest + add-action sidecar the feature's write rule
  mandates (r9);
- the writer is local-filesystem only; overwrite is single-writer, while
  append retries a lost version race at the next version (bounded
  optimistic concurrency — safe because append file sets are disjoint
  and carry no metadata change, per the public protocol's conflict
  rules).

When ``delta-spark`` IS importable, ``sources.read_delta`` and the
``delta_overwrite`` sink use it instead; this module is the fallback
that keeps Delta semantics runnable (and tested) here.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import struct
import urllib.parse
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from itertools import groupby

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.roaring_lite import (
    container_lows,
    container_payload,
    frame_roaring_bitmap_array,
    iter_roaring_containers,
    z85_decode,
    z85_encode,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_SINGLE = "{v:020d}.checkpoint.parquet"
# classic checkpoint data files: single-part and {v}.checkpoint.{i}.{n}
_CHECKPOINT_FILE_RE = re.compile(
    r"^\d{20}\.checkpoint(\.\d{10}\.\d{10})?\.parquet$"
)
# v2 checkpoints (public protocol "V2 spec"): UUID-named, parquet or json
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)$"
)
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class TableState:
    """Replayed log state: the active file set and table metadata."""

    version: int = -1  # last applied commit version; -1 = no table
    # relative (decoded) file path -> partitionValues map from its add
    files: dict[str, dict[str, str | None]] = field(default_factory=dict)
    # relative file path -> deletionVector descriptor (only for files
    # whose latest add carries one)
    dvs: dict[str, dict] = field(default_factory=dict)
    # relative file path -> OPTIONAL add-action fields beyond the core
    # set (stats, tags, rowTracking's baseRowId, ...): no effect on
    # scans, but checkpoint STATE — write_checkpoint re-emits the ones
    # its schema represents and REFUSES on any it cannot, instead of
    # silently dropping them relative to JSON-log replay
    adds: dict[str, dict] = field(default_factory=dict)
    metadata: dict | None = None
    protocol: dict | None = None
    # setTransaction watermarks (appId -> latest txn action) and
    # domainMetadata (domain -> latest action incl. tombstones): no
    # effect on scans, but checkpoint STATE — a checkpoint that dropped
    # them would un-idempotify streaming writers and erase domain config
    txns: dict[str, dict] = field(default_factory=dict)
    domains: dict[str, dict] = field(default_factory=dict)
    # every delta.columnMapping.physicalName declared by ANY metaData
    # version seen during replay — a file carrying one of these is this
    # table's own lineage (e.g. a DROPPED column's data), not a foreign
    # field-id writer (r12, unlocked by DROP/RENAME COLUMN)
    historical_physical_names: set[str] = field(default_factory=set)

    @property
    def schema(self) -> T.StructType:
        assert self.metadata is not None
        return T.StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        assert self.metadata is not None
        return list(self.metadata.get("partitionColumns") or [])


def _log_dir(path: str) -> str:
    return os.path.join(_local(path), "_delta_log")


def _local(path: str) -> str:
    """file: URIs -> plain paths (this module is local-fs by contract)."""
    return path[len("file:") :] if path.startswith("file:") else path


# Table features (minReaderVersion=3) this reader actually implements.
# Per the public protocol, a reader may open a version-3 table iff it
# supports EVERY listed readerFeature — anything else must refuse.
# - v2Checkpoint: UUID-named checkpoints (read in _read_checkpoint)
# - columnMapping: physical->logical name mapping (read_delta_lite)
# - timestampNtz: TIMESTAMP_NTZ columns — Spark's parquet reader and
#   StructType.fromJson ('timestamp_ntz') handle the type natively
# - deletionVectors: roaring-bitmap row masks applied via a
#   _metadata.row_index broadcast anti-join (roaring_lite.py)
# - variantType: Spark 4's native VariantType — StructType.fromJson
#   parses 'variant' and the parquet reader handles the physical
#   struct<metadata,value> encoding (verified on this Spark); the
#   -preview alias is what delta 4.0-preview writers declared
# - typeWidening: metaData declares the WIDE type, old files carry the
#   narrow physical type; Spark's parquet reader upcasts every widening
#   the delta spec allows (byte->short->int->long, int->long/double/
#   decimal, float->double, decimal precision, date->timestampNtz —
#   each verified empirically on this Spark before admitting)
# - vacuumProtocolCheck: constrains VACUUM implementations, requires no
#   reader behavior; delta_lite's own vacuum is orphan-only (strictly
#   more conservative than any retention rule)
_SUPPORTED_READER_FEATURES = frozenset(
    {
        "v2Checkpoint",
        "columnMapping",
        "timestampNtz",
        "deletionVectors",
        "variantType",
        "variantType-preview",
        "typeWidening",
        "typeWidening-preview",
        "vacuumProtocolCheck",
    }
)


def _check_protocol(protocol: dict | None) -> None:
    if not protocol:
        return
    reader = int(protocol.get("minReaderVersion", 1))
    if reader <= 1:
        return
    if reader == 2:
        return  # protocol v2 = column mapping, implemented in the reader
    features = set(protocol.get("readerFeatures") or [])
    if reader == 3 and features <= _SUPPORTED_READER_FEATURES:
        return
    raise NotImplementedError(
        "delta_lite implements protocol reader versions 1-2 (plus reader "
        f"features {sorted(_SUPPORTED_READER_FEATURES)}); this table "
        f"requires minReaderVersion={reader} with readerFeatures="
        f"{sorted(features) or None}. Install delta-spark to read tables "
        "using those features."
    )


def _dv_uid(dv: dict | None) -> str | None:
    """Identity of a deletionVector descriptor, mirroring delta-spark's
    uniqueId (storageType + pathOrInlineDv + offset): log reconciliation
    keys file actions by (path, DV identity), NOT path alone."""
    if not dv:
        return None
    return f"{dv.get('storageType')}:{dv.get('pathOrInlineDv')}@{dv.get('offset') or 0}"


# add-action fields TableState tracks structurally; everything else
# (stats, tags, baseRowId, ...) lands in TableState.adds for the
# checkpoint writer to re-emit or refuse on
_ADD_CORE = frozenset(
    {"path", "partitionValues", "size", "modificationTime", "dataChange",
     "deletionVector"}
)
# checkpoint-only DERIVED columns delta-spark materializes alongside the
# raw fields they duplicate (stats/partitionValues); dropping them is
# lossless ONLY while the duplicated raw field is present — see
# _drop_derived (a checkpoint written with writeStatsAsJson=false
# carries stats_parsed WITHOUT stats, and dropping it there would
# silently erase per-file statistics, the exact class the
# lossless-or-refuse gate refuses)
_ADD_DERIVED = frozenset({"stats_parsed", "partitionValues_parsed"})


def _derived_droppable(a: dict, k: str) -> bool:
    if k == "stats_parsed":
        return a.get("stats") is not None
    # partitionValues is a REQUIRED add field: its parsed twin is
    # always a duplicate
    return k == "partitionValues_parsed"


def _apply_action(state: TableState, action: dict) -> None:
    if "add" in action:
        a = action["add"]
        rel = urllib.parse.unquote(a["path"])
        # `or {}`: a checkpoint row's partitionValues struct field can
        # surface as an explicit null, not just an absent key
        state.files[rel] = a.get("partitionValues") or {}
        # a re-add REPLACES the file's deletion vector (or clears it):
        # the protocol's DV updates work by re-adding the same path with
        # a new descriptor
        dv = a.get("deletionVector")
        if dv:
            state.dvs[rel] = dv
        else:
            state.dvs.pop(rel, None)
        # optional add fields (stats, tags, ...) follow the same
        # latest-add-wins rule; explicit nulls from checkpoint structs
        # are absence
        extra = {
            k: v
            for k, v in a.items()
            if k not in _ADD_CORE
            and v is not None
            and not (k in _ADD_DERIVED and _derived_droppable(a, k))
        }
        if extra:
            state.adds[rel] = extra
        else:
            state.adds.pop(rel, None)
    elif "remove" in action:
        r = action["remove"]
        rel = urllib.parse.unquote(r["path"])
        # a DV update commits remove(path, oldDv) + add(path, newDv) for
        # the SAME path, in UNSPECIFIED order within the commit — so a
        # remove only retires the file when its DV identity matches the
        # currently-tracked one (delta-spark's InMemoryLogReplay keys by
        # the (path, dvUniqueId) tuple for exactly this reason); applied
        # after the add, a stale-DV remove must NOT erase the re-added
        # file
        if _dv_uid(r.get("deletionVector")) == _dv_uid(state.dvs.get(rel)):
            state.files.pop(rel, None)
            state.dvs.pop(rel, None)
            state.adds.pop(rel, None)
    elif "metaData" in action:
        state.metadata = action["metaData"]
        try:
            state.historical_physical_names |= _physical_name_set(
                T.StructType.fromJson(
                    json.loads(state.metadata["schemaString"])
                )
            )
        except Exception:
            pass  # unreadable schemaString surfaces at scan time
        # checkpoint-durable lineage (HISTORICAL_NAMES_KEY): a
        # checkpoint carries only the LATEST metaData, so names dropped
        # before it exist nowhere else after log cleanup
        hist = (state.metadata.get("configuration") or {}).get(
            "lcrspark.columnMapping.historicalPhysicalNames"
        )
        if hist:
            try:
                state.historical_physical_names |= set(json.loads(hist))
            except Exception:
                pass
    elif "protocol" in action:
        state.protocol = action["protocol"]
        _check_protocol(state.protocol)
    elif "txn" in action:
        t = action["txn"]
        if t.get("appId") is not None:
            state.txns[t["appId"]] = t
    elif "domainMetadata" in action:
        d = action["domainMetadata"]
        if d.get("domain") is not None:
            state.domains[d["domain"]] = d
    # commitInfo / cdc: transient, no effect on scan or checkpoint state


def _parquet_actions(
    spark: SparkSession, files: list[str], keys: tuple[str, ...]
) -> list[dict]:
    """Checkpoint-parquet rows -> action dicts (one non-null struct per
    row, restricted to ``keys``)."""
    actions: list[dict] = []
    for row in spark.read.parquet(*files).collect():
        d = row.asDict(recursive=True)
        for key in keys:
            if d.get(key) is not None:
                actions.append({key: d[key]})
    return actions


def _expand_sidecars(
    spark: SparkSession, log_dir: str, actions: list[dict]
) -> list[dict]:
    """Resolve v2-checkpoint ``sidecar`` actions: each names a parquet
    file of add/remove actions, relative paths under ``_sidecars/`` per
    the public protocol. Non-sidecar actions pass through in order."""
    out: list[dict] = []
    for a in actions:
        sc = a.get("sidecar")
        if sc is None:
            out.append(a)
            continue
        p = urllib.parse.unquote(sc["path"])
        full = p if os.path.isabs(p) else os.path.join(log_dir, "_sidecars", p)
        if not os.path.exists(full):
            raise ValueError(
                f"v2 checkpoint sidecar {sc['path']!r} missing from "
                f"{log_dir}/_sidecars"
            )
        out.extend(_parquet_actions(spark, [full], ("add", "remove")))
    return out


def _read_checkpoint(
    spark: SparkSession, log_dir: str, version: int, parts: int | None
) -> list[dict]:
    """Checkpoint -> action dicts, all three public layouts:

    - single-part classic (``{v}.checkpoint.parquet``);
    - multi-part classic (``{v}.checkpoint.{i}.{n}.parquet`` with the
      ``parts`` field of ``_last_checkpoint``);
    - v2 UUID-named (``{v}.checkpoint.{uuid}.parquet|json``), whose
      add/remove content may live inline or in ``sidecar`` parquet files
      under ``_delta_log/_sidecars/``. Any ONE complete v2 checkpoint
      for the version is valid; the lexically-last UUID is chosen."""
    keys = ("add", "remove", "metaData", "protocol", "txn",
            "domainMetadata")
    if parts:
        files = [
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
            )
            for i in range(1, parts + 1)
        ]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"multi-part checkpoint for version {version} is "
                f"incomplete ({missing[0]} missing)"
            )
        return _parquet_actions(spark, files, keys)
    single = os.path.join(log_dir, _CHECKPOINT_SINGLE.format(v=version))
    if os.path.exists(single):
        return _parquet_actions(spark, [single], keys)
    v2 = sorted(
        f
        for f in os.listdir(log_dir)
        if (m := _CHECKPOINT_V2_RE.match(f)) and int(m.group(1)) == version
    )
    if not v2:
        raise NotImplementedError(
            f"no checkpoint file found for version {version} in {log_dir} "
            "(looked for single-part, multi-part and v2 UUID-named "
            "layouts); unsupported layouts need delta-spark"
        )
    chosen = os.path.join(log_dir, v2[-1])
    if chosen.endswith(".json"):
        with open(chosen) as fh:
            actions = [
                json.loads(line) for line in fh if line.strip()
            ]
        actions = [
            a
            for a in actions
            if any(k in a for k in keys) or a.get("sidecar") is not None
        ]
    else:
        actions = _parquet_actions(spark, [chosen], keys + ("sidecar",))
    return _expand_sidecars(spark, log_dir, actions)


_CHECKPOINT_SINGLE_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_MULTI_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)


def _checkpoint_present(log_dir: str, version: int, parts: int | None) -> bool:
    """Do the files of this checkpoint actually exist (every part, for a
    multi-part set)? The ``_last_checkpoint`` hint may be stale — files
    deleted after the pointer was written."""
    if parts:
        return all(
            os.path.exists(
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint.{i:010d}.{parts:010d}"
                    ".parquet",
                )
            )
            for i in range(1, parts + 1)
        )
    if os.path.exists(os.path.join(log_dir, _CHECKPOINT_SINGLE.format(v=version))):
        return True
    return any(
        (m := _CHECKPOINT_V2_RE.match(f)) and int(m.group(1)) == version
        for f in os.listdir(log_dir)
    )


def _discover_checkpoint(
    log_dir: str, max_version: int | None
) -> tuple[int, int | None] | None:
    """Newest COMPLETE checkpoint ``(version, parts|None)`` found by
    listing the log directory — the protocol's fallback when the
    ``_last_checkpoint`` hint is absent, names a version past the
    requested one, or points at files that no longer exist. Multi-part
    sets count only when every part is present; v2 UUID-named files
    count like single-part (parts=None)."""
    singles: set[int] = set()
    multi: dict[tuple[int, int], set[int]] = {}
    for f in os.listdir(log_dir):
        if (m := _CHECKPOINT_SINGLE_RE.match(f)) or (
            m := _CHECKPOINT_V2_RE.match(f)
        ):
            singles.add(int(m.group(1)))
        elif m := _CHECKPOINT_MULTI_RE.match(f):
            key = (int(m.group(1)), int(m.group(3)))
            multi.setdefault(key, set()).add(int(m.group(2)))
    cands: list[tuple[int, int | None]] = [(v, None) for v in singles]
    cands += [
        (v, n)
        for (v, n), parts in multi.items()
        if parts == set(range(1, n + 1))
    ]
    cands = [c for c in cands if max_version is None or c[0] <= max_version]
    if not cands:
        return None
    # newest version wins; at the same version prefer the single-file
    # layout (nothing to assemble)
    return max(cands, key=lambda c: (c[0], c[1] is None))


def replay_log(
    spark: SparkSession, path: str, version: int | None = None
) -> TableState:
    """Reconstruct table state at ``version`` (default: latest) by replaying
    the newest eligible checkpoint plus subsequent JSON commits in order."""
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a Delta table: {path!r} has no _delta_log directory"
        )
    commits = sorted(
        (int(m.group(1)), os.path.join(log_dir, f))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    if version is not None:
        # existence is validated AFTER replay (below): the requested
        # version may be reconstructible from a checkpoint alone when its
        # JSON commit was cleaned up
        commits = [(v, p) for v, p in commits if v <= version]
    state = TableState()
    start = 0
    cp: tuple[int, int | None] | None = None
    stale_hint: int | None = None
    last_cp = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_cp):
        with open(last_cp) as fh:
            cp_meta = json.load(fh)
        hinted = (int(cp_meta["version"]), cp_meta.get("parts"))
        if version is None or hinted[0] <= version:
            if _checkpoint_present(log_dir, *hinted):
                cp = hinted
            else:
                stale_hint = hinted[0]
    if cp is None:
        # _last_checkpoint is a HINT per the protocol — absent (never
        # written, or deleted), pointing past the requested version, or
        # pointing at files that were since removed, the checkpoint
        # files themselves are still discoverable by listing; without
        # this, a table whose pre-checkpoint commits were cleaned up
        # would refuse with a spurious gap error
        cp = _discover_checkpoint(log_dir, version)
        if cp is None and stale_hint is not None and (
            not commits or commits[0][0] != 0
        ):
            # the hint's files are gone/incomplete, nothing else was
            # discovered, and the JSON chain cannot reconstruct from 0:
            # name the actual problem instead of a misleading
            # empty-log/gap error downstream
            raise ValueError(
                f"checkpoint for version {stale_hint} in {log_dir} is "
                "incomplete or its files were removed, and no other "
                "complete checkpoint or full JSON chain can reconstruct "
                "the table state"
            )
    cp_actions: list[dict] = []
    if cp is not None:
        try:
            cp_actions = _read_checkpoint(spark, log_dir, cp[0], cp[1])
        except Exception:
            if commits and commits[0][0] == 0:
                # a present-but-unreadable checkpoint (stray/corrupt file
                # from a crashed external writer) must not break a table
                # whose intact JSON chain reconstructs the state alone
                cp = None
            else:
                raise
    if cp is not None:
        for action in cp_actions:
            _apply_action(state, action)
        state.version = cp[0]
        start = cp[0] + 1
    expected = start
    for v, commit_path in commits:
        if v < start:
            continue
        if v != expected:
            # a GAP means commits were deleted (e.g. log cleanup after a
            # checkpoint) — replaying a partial log would silently
            # reconstruct a WRONG file set, so refuse instead
            raise ValueError(
                f"cannot reconstruct version "
                f"{version if version is not None else 'latest'} of "
                f"{path!r}: commit {expected} is missing (log starts at "
                f"{v}; earlier commits were removed after a checkpoint?)"
            )
        expected = v + 1
        with open(commit_path) as fh:
            for line in fh:
                if line.strip():
                    _apply_action(state, json.loads(line))
        state.version = v
    if version is not None and state.version != version:
        raise ValueError(
            f"version {version} not found in {log_dir} "
            f"(latest eligible: "
            f"{state.version if state.version >= 0 else 'none'})"
        )
    if state.version < 0:
        raise FileNotFoundError(f"empty _delta_log in {path!r}")
    if state.metadata is None:
        raise ValueError(f"no metaData action found in {log_dir}")
    _check_protocol(state.protocol)
    return state


# ---- deletion vectors (deletionVectors reader feature) ------------------

# Join-strategy valve, NOT a capability cap: DV positions expand on
# executors from the driver-parsed containers, so any cardinality
# reads correctly — but below this total the deleted-row relation is
# hinted broadcast (the common case: DVs are tiny next to the table),
# and above it the hint is dropped so the anti-join shuffles instead of
# forcing a multi-hundred-MB broadcast build side onto every executor.
MAX_DV_POSITIONS = 10_000_000

# Characters a Java URI keeps RAW in its path component (unreserved +
# sub-delims + ":@/"); everything else ASCII is percent-encoded
# uppercase, and non-ASCII is kept raw by Hadoop's Path rendering
# (verified empirically — see _apply_dv_filter).
_URI_PATH_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-_.~!$&'()*+,;=:@/"
)


def _hadoop_path_encode(path: str) -> str:
    """Encode a local path the way Hadoop renders it in
    ``_metadata.file_path`` (minus the ``file:`` scheme)."""
    return "".join(
        c if (ord(c) > 127 or c in _URI_PATH_SAFE) else f"%{ord(c):02X}"
        for c in path
    )


def _resolve_dv_blob(base: str, dv: dict) -> bytes:
    """DeletionVector descriptor -> serialized RoaringBitmapArray bytes,
    per the public protocol's three storage types: ``i`` inline (Z85 of
    the bitmap), ``u`` UUID-named file under the table root (optional
    random prefix + Z85 of the 16-byte UUID), ``p`` absolute path. File
    storage carries a 1-byte format version, then at ``offset`` a u32
    big-endian size, the bitmap data, and a u32 big-endian CRC-32 of the
    data — all verified."""
    import zlib

    storage = dv["storageType"]
    size = int(dv["sizeInBytes"])
    if storage == "i":
        data = z85_decode(dv["pathOrInlineDv"])
        if len(data) < size:
            raise ValueError(
                f"inline deletion vector shorter than sizeInBytes "
                f"({len(data)} < {size})"
            )
        return data[:size]  # z85 decodes in 4-byte groups; trim padding
    if storage == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uuid_z85 = enc[:-20], enc[-20:]
        uuid_hex = z85_decode(uuid_z85).hex()
        name = (
            f"{uuid_hex[0:8]}-{uuid_hex[8:12]}-{uuid_hex[12:16]}-"
            f"{uuid_hex[16:20]}-{uuid_hex[20:32]}"
        )
        path = os.path.join(
            base, *( [prefix] if prefix else [] ), f"deletion_vector_{name}.bin"
        )
    elif storage == "p":
        path = _local(dv["pathOrInlineDv"])
    else:
        raise NotImplementedError(
            f"unknown deletion-vector storageType {storage!r}"
        )
    offset = int(dv.get("offset") or 0)
    with open(path, "rb") as fh:
        blob = fh.read()
    if not blob or blob[0] != 1:
        raise ValueError(
            f"deletion-vector file {path!r} has unsupported format "
            f"version {blob[0] if blob else 'EMPTY'}"
        )
    if offset + 8 + size > len(blob):
        raise ValueError(f"deletion vector at {offset} overruns {path!r}")
    (stored_size,) = struct.unpack_from(">I", blob, offset)
    if stored_size != size:
        raise ValueError(
            f"deletion-vector size mismatch in {path!r}: descriptor says "
            f"{size}, file says {stored_size}"
        )
    data = blob[offset + 4 : offset + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion-vector checksum mismatch in {path!r}")
    return data


def _dv_containers(
    rel: str, dv: dict, blob: bytes
) -> list[tuple[int, int, bytes]]:
    """``rel``'s deletion-vector blob -> its canonical ``(key,
    cardinality, payload)`` containers (roaring_lite.container_payload:
    run containers become array/bitset ones, so the list is never
    larger than a run-free serialization), with the descriptor's
    cardinality verified against the parsed content."""
    containers = [
        (key, len(lows), container_payload(lows))
        for key, lows in iter_roaring_containers(blob)
    ]
    n = sum(card for _, card, _ in containers)
    card = dv.get("cardinality")
    if card is not None and int(card) != n:
        raise ValueError(
            f"deletion vector for {rel!r}: descriptor cardinality "
            f"{card} != {n} parsed positions"
        )
    return containers


def _dv_verify(
    base: str, dvs: dict[str, dict]
) -> dict[str, list[tuple[int, int, bytes]]]:
    """Eager driver-side pass over every file's deletion vector: resolve
    the blob (format-version / size / CRC checks in ``_resolve_dv_blob``)
    and parse it into containers, verifying the descriptor's
    cardinality — so corrupt tables fail at ``read_delta_lite`` time,
    loudly. Driver memory is O(serialized DV bytes): positions are NOT
    materialized here; ``_dv_positions`` expands the containers
    executor-side. Returns rel -> containers."""
    return {
        rel: _dv_containers(rel, dv, _resolve_dv_blob(base, dv))
        for rel, dv in dvs.items()
    }


# the scan-side spelling of _dv_file_key: Hadoop renders local paths as
# file:/abs or file:///abs depending on the constructor, so normalize
# the scheme away
_FILE_KEY_SQL = "regexp_replace(_metadata.file_path, '^file:/+', '/')"


def _dv_file_key(base: str, rel: str) -> str:
    """The join key a data file's rows carry: its absolute path encoded
    exactly as Hadoop renders ``_metadata.file_path`` (scheme stripped).
    abspath, NOT realpath: Spark qualifies the path it was given without
    resolving symlinks, so resolving here would desync the key for
    tables reached through a symlink. A failed match would FAIL OPEN
    (deleted rows silently resurrected), so the encoding equivalence is
    pinned by tests over hostile partition-dir names."""
    return _hadoop_path_encode(os.path.abspath(os.path.join(base, rel)))


def _dv_positions(
    spark: SparkSession,
    base: str,
    verified: dict[str, list[tuple[int, int, bytes]]],
    files_in_scan: list[str],
):
    """The (encoded file URI, row index) relation of all marked rows in
    ``files_in_scan``'s deletion vectors, with the broadcast-vs-shuffle
    hint already applied. None when no in-scan vector marks any row.

    The verified containers travel to Spark as ONE Arrow table, one row
    per container: ``__off`` holds an array container's lows, or a
    bitset container's nonzero 64-bit word offsets with the words in
    ``__w``. Executors expand them with built-ins only (posexplode, then
    ``sequence`` over the bits of each word and a bit test; an array
    value is a one-bit word), so no Python worker starts and the driver
    never holds more than the serialized containers."""
    import pyarrow as pa

    in_scan = set(files_in_scan)
    rows = [
        (_dv_file_key(base, rel), key, card, payload)
        for rel, containers in sorted(verified.items())
        if rel in in_scan
        for key, card, payload in containers
    ]
    if not rows:
        return None
    offs: list[np.ndarray] = []
    words: list[np.ndarray | None] = []
    for _, _, card, payload in rows:
        if card <= 4096:
            offs.append(np.frombuffer(payload, dtype="<u2").astype(np.int32))
            words.append(None)
        else:
            w = np.frombuffer(payload, dtype="<i8")
            nz = np.flatnonzero(w)
            offs.append((nz * 64).astype(np.int32))
            words.append(w[nz])
    table = pa.table(
        {
            "__dv_file": pa.array([r[0] for r in rows], pa.string()),
            "__base": pa.array([r[1] << 16 for r in rows], pa.int64()),
            "__off": pa.array(offs, pa.list_(pa.int32())),
            "__w": pa.array(words, pa.list_(pa.int64())),
        }
    )
    total = sum(r[2] for r in rows)
    deleted = (
        spark.createDataFrame(table)
        .selectExpr(
            "__dv_file", "__base", "__w", "posexplode(__off) AS (__i, __off)"
        )
        .selectExpr(
            "__dv_file",
            "__base + __off AS __s",
            "coalesce(__w[__i], 1L) AS __w",
        )
        .selectExpr(
            "__dv_file",
            "__s",
            "__w",
            "explode(sequence(0, IF(__w = 1, 0, 63))) AS __b",
        )
        .where("shiftright(__w, __b) & 1 = 1")
        .selectExpr("__dv_file", "__s + __b AS __dv_idx")
    )
    if total <= MAX_DV_POSITIONS:
        deleted = F.broadcast(deleted)
    else:
        deleted = deleted.hint("shuffle_hash")
    return deleted


def _apply_dv_filter(
    spark: SparkSession,
    df: DataFrame,
    base: str,
    verified: dict[str, list[tuple[int, int, bytes]]],
    files_in_scan: list[str],
    how: str = "left_anti",
) -> DataFrame:
    """Drop deleted rows: anti-join (file URI, row index) pairs against
    ``_metadata`` columns. (``how="left_semi"`` inverts the filter —
    KEEP only the rows the vectors mark — which is how the change-feed
    reader materializes the rows a DV update deleted.) The deleted-row
    relation is expanded EXECUTOR-side from the driver-verified
    containers (``_dv_positions``), so positions of arbitrary
    cardinality never materialize on the driver.

    Below MAX_DV_POSITIONS total cardinality the relation is hinted
    broadcast (no shuffle of the fact side — the common case); above
    it, an explicit shuffle_hash hint forces a shuffled hash join.
    The hint must be explicit: Catalyst sizes the expanded relation
    from the small one-row-per-container table, so merely DROPPING the
    broadcast hint would still statically plan a broadcast join of the
    expanded positions — the exact oversized build table the valve
    exists to prevent."""
    deleted = _dv_positions(spark, base, verified, files_in_scan)
    if deleted is None:
        # no marked rows: anti keeps everything, semi keeps nothing
        return df if how == "left_anti" else df.filter(F.lit(False))
    scan = df.selectExpr(
        "*",
        f"{_FILE_KEY_SQL} AS __dv_scan_file",
        "_metadata.row_index AS __dv_scan_idx",
    )
    joined = scan.join(
        deleted,
        (scan["__dv_scan_file"] == deleted["__dv_file"])
        & (scan["__dv_scan_idx"] == deleted["__dv_idx"]),
        how,
    )
    return joined.drop("__dv_scan_file", "__dv_scan_idx")


# ---- column mapping (protocol v2 / columnMapping feature) ---------------


def _column_mapping_mode(metadata: dict) -> str:
    return (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )


def _physicalize(dt: T.DataType) -> T.DataType:
    """Logical schema -> the PHYSICAL schema the parquet files carry:
    every struct field renamed to its ``delta.columnMapping.physicalName``
    (recursively — nested structs, array elements, map values carry
    mapped names too). The protocol assigns a physicalName to EVERY
    field once mapping is enabled, so a field missing the key means a
    corrupt/hand-edited log — raise instead of silently keeping the
    logical name, which Spark's schema-by-name parquet read would
    resolve to all-NULL columns."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            phys = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if phys is None:
                raise ValueError(
                    f"column mapping is enabled but field {f.name!r} has "
                    "no delta.columnMapping.physicalName metadata — "
                    "corrupt or hand-edited log"
                )
            fields.append(
                T.StructField(phys, _physicalize(f.dataType), f.nullable)
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physicalize(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physicalize(dt.keyType),
            _physicalize(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _quoted(name: str) -> Column:
    """Column reference by LITERAL name: physical names may contain dots
    (legal in Delta), which bare F.col would parse as nested access."""
    return F.col(_sql_name(name))


def _sql_name(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, so dots,
    spaces and backticks stay literal (the ``_quoted`` rule, as text)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_exact(dt: T.DataType) -> bool:
    """Whether ``DataType.sql`` spells all of ``dt``: it writes NOT NULL
    on struct fields but has no syntax for a non-nullable array element
    or map value."""
    if isinstance(dt, T.StructType):
        return all(_sql_exact(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return dt.containsNull and _sql_exact(dt.elementType)
    if isinstance(dt, T.MapType):
        return (
            dt.valueContainsNull
            and _sql_exact(dt.keyType)
            and _sql_exact(dt.valueType)
        )
    return True


# DataType JSON -> DataType.sql: a pure function of the type, so one
# process-wide map, bounded by the distinct column types a process sees
_TYPE_SQL: dict[str, str] = {}


def _cast_select(
    df: DataFrame, cols: list[tuple[str, T.DataType, str]], *extra: str
) -> DataFrame:
    """``CAST(src AS type) AS dst`` for each (source SQL expression, type,
    target name) triple, then the ``extra`` SQL expressions, as ONE
    ``selectExpr``: a Column per cast costs ~16 py4j round trips, a
    string ~1 (the 101-column ``lead`` schema: 1,605 vs 106 calls per
    projection). The type text is the JVM's own ``DataType.sql``, which
    backtick-quotes nested field names, fetched once per distinct type.
    A type that text cannot spell (``_sql_exact``) keeps a Column cast,
    so no nullability changes."""
    jvm = df.sparkSession._jvm
    exprs: list = []
    for src, dt, dst in cols:
        if not _sql_exact(dt):
            exprs.append(F.expr(src).cast(dt).alias(dst))
            continue
        key = dt.json()
        if key not in _TYPE_SQL:
            _TYPE_SQL[key] = jvm.org.apache.spark.sql.types.DataType.fromJson(
                key
            ).sql()
        exprs.append(f"CAST({src} AS {_TYPE_SQL[key]}) AS {_sql_name(dst)}")
    exprs += extra
    if all(isinstance(e, str) for e in exprs):
        return df.selectExpr(*exprs)
    return df.select(*[F.expr(e) if isinstance(e, str) else e for e in exprs])


def _renames(
    src: T.StructType, dst: T.StructType, skip: tuple | list = ()
) -> list[tuple[str, T.DataType, str]]:
    """``_cast_select`` triples renaming ``src``'s fields to ``dst``'s
    (the physical and logical schemas, either way round), leaving out
    target names in ``skip``."""
    return [
        (_sql_name(a.name), b.dataType, b.name)
        for a, b in zip(src.fields, dst.fields)
        if b.name not in skip
    ]


def _group_logical(
    schema: T.StructType,
    partition_columns: list[str],
    logical_to_phys: dict[str, str],
    pvals: dict,
) -> list[tuple[str, T.DataType, str]]:
    """``_cast_select`` triples for one partition group's logical view of
    a data-column scan: partition columns as typed literals of the
    group's values, so predicates and assignments may reference them."""
    return [
        (
            _sql_partition_lit(pvals.get(logical_to_phys[f.name]))
            if f.name in partition_columns
            else _sql_name(logical_to_phys[f.name]),
            f.dataType,
            f.name,
        )
        for f in schema.fields
    ]


def _sql_partition_lit(value: str | None) -> str:
    """A logged partition value as SQL text (typed by a cast at the
    caller): NULL, or the value's UTF-8 bytes as a binary literal cast
    to string, which needs no escaping whatever the value or parser
    settings."""
    if value is None or value == HIVE_NULL:
        return "NULL"
    return f"CAST(X'{value.encode().hex()}' AS STRING)"


def _mapped_schema(
    schema: T.StructType, prior: T.StructType | None, next_id: list[int]
) -> T.StructType:
    """WRITE-side mapping assignment: return ``schema`` with
    ``delta.columnMapping.id`` / ``delta.columnMapping.physicalName``
    metadata on every field, recursively (nested struct fields get their
    own ids and physical names, per the protocol). Fields whose logical
    name exists at the same position-path in ``prior`` KEEP their prior
    assignment — the protocol requires physical names to be stable
    across schema evolution so old parquet files stay resolvable; new
    fields draw fresh ids from the shared ``next_id`` counter."""

    def walk(dt: T.DataType, prior_dt: T.DataType | None) -> T.DataType:
        if isinstance(dt, T.StructType):
            prior_fields = (
                {f.name: f for f in prior_dt.fields}
                if isinstance(prior_dt, T.StructType)
                else {}
            )
            out = []
            for f in dt.fields:
                pf = prior_fields.get(f.name)
                meta = dict(f.metadata or {})
                if pf is not None and "delta.columnMapping.id" in (
                    pf.metadata or {}
                ):
                    meta["delta.columnMapping.id"] = pf.metadata[
                        "delta.columnMapping.id"
                    ]
                    meta["delta.columnMapping.physicalName"] = pf.metadata[
                        "delta.columnMapping.physicalName"
                    ]
                else:
                    meta["delta.columnMapping.id"] = next_id[0]
                    meta["delta.columnMapping.physicalName"] = (
                        f"col-{uuid.uuid4()}"
                    )
                    next_id[0] += 1
                out.append(
                    T.StructField(
                        f.name,
                        walk(f.dataType, pf.dataType if pf else None),
                        f.nullable,
                        meta,
                    )
                )
            return T.StructType(out)
        if isinstance(dt, T.ArrayType):
            prior_el = (
                prior_dt.elementType
                if isinstance(prior_dt, T.ArrayType)
                else None
            )
            return T.ArrayType(walk(dt.elementType, prior_el), dt.containsNull)
        if isinstance(dt, T.MapType):
            pk = prior_dt.keyType if isinstance(prior_dt, T.MapType) else None
            pv = (
                prior_dt.valueType
                if isinstance(prior_dt, T.MapType)
                else None
            )
            return T.MapType(
                walk(dt.keyType, pk),
                walk(dt.valueType, pv),
                dt.valueContainsNull,
            )
        return dt

    return walk(schema, prior)  # type: ignore[return-value]


def _max_mapped_id(dt: T.DataType) -> int:
    """Largest delta.columnMapping.id anywhere in the schema tree."""
    if isinstance(dt, T.StructType):
        out = 0
        for f in dt.fields:
            fid = int((f.metadata or {}).get("delta.columnMapping.id", 0))
            out = max(out, fid, _max_mapped_id(f.dataType))
        return out
    if isinstance(dt, T.ArrayType):
        return _max_mapped_id(dt.elementType)
    if isinstance(dt, T.MapType):
        return max(_max_mapped_id(dt.keyType), _max_mapped_id(dt.valueType))
    return 0


def _physicalize_df(df: DataFrame, mapped: T.StructType) -> DataFrame:
    """Rename ``df``'s columns to the mapped schema's physical names
    (nested fields via a positional struct cast, same trick the reader
    uses in reverse) and attach ``parquet.field.id`` metadata so Spark's
    parquet writer stamps field ids into the footers — what id-mode
    readers resolve by, and what delta-spark itself writes under
    mapping."""
    phys = _physicalize(mapped)
    cols = []
    for f, pf in zip(mapped.fields, phys.fields):
        cols.append(
            _quoted(f.name)
            .cast(pf.dataType)
            .alias(
                pf.name,
                metadata={
                    "parquet.field.id": int(
                        f.metadata["delta.columnMapping.id"]
                    )
                },
            )
        )
    return df.select(*cols)


def _physical_name_set(dt: T.DataType) -> set[str]:
    """Every delta.columnMapping.physicalName anywhere in the schema
    tree (top level and nested)."""
    out: set[str] = set()
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            p = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if p:
                out.add(p)
            out |= _physical_name_set(f.dataType)
    elif isinstance(dt, T.ArrayType):
        out |= _physical_name_set(dt.elementType)
    elif isinstance(dt, T.MapType):
        out |= _physical_name_set(dt.keyType)
        out |= _physical_name_set(dt.valueType)
    return out


# Table-configuration key carrying every physicalName a PAST metaData
# declared that the CURRENT schema no longer does (JSON-encoded sorted
# list). Checkpoints persist only the latest metaData, so after
# DROP COLUMN + checkpoint + log cleanup the replay would otherwise
# forget that pre-drop files are this table's own lineage and trip the
# foreign-writer guard (r13 ADVICE high). The latest metaData IS
# checkpoint state, so a config key survives where replay history does
# not. Non-"delta." prefix: foreign writers carry unknown keys through.
HISTORICAL_NAMES_KEY = "lcrspark.columnMapping.historicalPhysicalNames"


def _fold_lineage_names(meta_out: dict, known: set[str]) -> dict:
    """Fold physical names absent from ``meta_out``'s schema — but part
    of the table's lineage (``known``) — into HISTORICAL_NAMES_KEY so a
    checkpoint-only replay still recognises pre-drop files as this
    table's own. Returns ``meta_out`` (mutated) for chaining."""
    cfg = dict(meta_out.get("configuration") or {})
    prior: set[str] = set()
    if cfg.get(HISTORICAL_NAMES_KEY):
        try:
            prior = set(json.loads(cfg[HISTORICAL_NAMES_KEY]))
        except Exception:
            prior = set()
    try:
        current = _physical_name_set(
            T.StructType.fromJson(json.loads(meta_out["schemaString"]))
        )
    except Exception:
        return meta_out
    lost = (known | prior) - current
    if lost != prior:
        cfg[HISTORICAL_NAMES_KEY] = json.dumps(sorted(lost))
        meta_out["configuration"] = cfg
    return meta_out


def _verify_physical_names(
    spark: SparkSession,
    sample_file: str,
    expect: list[str],
    known: set[str] | None = None,
) -> None:
    """One driver-side parquet-footer peek: the physical DATA column
    names the file carries must come from the table's expected set.
    delta-spark writes physicalName-named parquet for both 'name' and
    'id' modes, but a foreign id-mode writer may store different column
    names (resolving by parquet field id, which this reader does not
    implement) — Spark's schema-by-name read would then return silent
    all-NULL columns, so verify and refuse loudly instead.

    A file carrying a strict SUBSET of the expected names is fine: a
    merge_schema evolution adds columns the pre-evolution files
    legitimately lack (they read as null, the evolution contract). The
    foreign-writer hazard shows as names OUTSIDE the expected set while
    expected ones are missing — physical names are col-<uuid>, so a
    subset match can only come from this table's own lineage. Names in
    ``known`` (every physicalName any HISTORICAL metaData version
    declared — r12, DROP/RENAME COLUMN) are this table's own lineage
    too: a pre-drop file legitimately carries the dropped column."""
    actual = set(spark.read.parquet(sample_file).schema.fieldNames())
    missing = [c for c in expect if c not in actual]
    foreign = sorted(actual - set(expect) - (known or set()))
    if missing and foreign:
        raise NotImplementedError(
            f"column-mapped table's parquet files do not carry the "
            f"expected physical column names (missing {missing}, file has "
            f"{sorted(actual)}); the table likely requires parquet "
            "field-id resolution — use delta-spark"
        )


def _typed_partition_lit(value: str | None, dtype: T.DataType):
    return F.expr(_sql_partition_lit(value)).cast(dtype)


def _hive_encoded_values(rel: str, part_cols: list[str]) -> dict[str, str]:
    """Partition values a hive-layout path segment-encodes, ONLY for keys
    the path actually carries (unlike ``_partition_values_from_rel``,
    which fills absent keys with None)."""
    values: dict[str, str] = {}
    for seg in rel.split(os.sep)[:-1]:
        k, eq, v = seg.partition("=")
        if eq and k in part_cols:
            values[k] = urllib.parse.unquote(v)
    return values


def _all_files_hive_layout(
    files: dict[str, dict[str, str | None]], part_cols: list[str]
) -> bool:
    """True iff every active file's path encodes EXACTLY the log's
    partitionValues hive-style (``k=v/part-*.parquet``), so Spark's own
    partition discovery would reconstruct the same values the log
    declares. Files our writer stages always satisfy this; externally-
    authored logs may carry arbitrary paths and must take the union
    fallback."""
    for rel, pvals in files.items():
        enc = _hive_encoded_values(rel, part_cols)
        if set(enc) != set(part_cols):
            return False
        for c in part_cols:
            v = None if enc[c] == HIVE_NULL else enc[c]
            if v != pvals.get(c):
                return False
    return True


def _stats_exclude(stats_json: str | None, bounds: dict) -> bool:
    """True iff the file's stats PROVE it holds no row in ``bounds``
    ({phys col: (lo|None, hi|None)} inclusive intervals). Missing or
    unparsable stats keep the file — skipping must fail open."""
    if not stats_json:
        return False
    try:
        st = json.loads(stats_json)
        mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
    except (ValueError, AttributeError):
        return False
    for col, (lo, hi) in bounds.items():
        fmin, fmax = mins.get(col), maxs.get(col)
        if fmin is None or fmax is None:
            continue
        try:
            if hi is not None and fmin > hi:
                return True
            if lo is not None and fmax < lo:
                return True
        except TypeError:
            continue  # incomparable caller value: fail open
    return False


def version_at_timestamp(
    path: str, timestamp, allow_future: bool = False
) -> int:
    """TIMESTAMP AS OF resolution: the greatest version whose commit
    timestamp is <= ``timestamp`` (delta-spark's rule). Commit times
    come from each commit's commitInfo header when present, else the
    commit file's mtime — the same log-authoritative fallback
    table_history and the change feed use — and are CANONICALIZED to be
    non-decreasing across versions (running max), mirroring delta-spark's
    adjustment for clock skew between writers so the mapping
    timestamp -> version is well-defined.

    ``timestamp`` accepts epoch MILLISECONDS (int/float — the log's own
    unit), an ISO-8601 string (naive = UTC), or a datetime (naive =
    UTC). Raises when it precedes version 0's commit (nothing existed).
    A timestamp PAST the latest commit raises too by default — that is
    delta-spark's read-path rule, and silently serving current data for
    a mistyped future time would hide the typo; ``allow_future=True``
    (the RESTORE path) resolves it to the latest version instead,
    matching delta-spark's permissive RESTORE rule."""
    import datetime as _dt

    if isinstance(timestamp, str):
        ts = _dt.datetime.fromisoformat(timestamp)
    else:
        ts = timestamp
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        ts_ms = int(ts.timestamp() * 1000)
    else:
        ts_ms = int(ts)
    hist = sorted(table_history(path), key=lambda r: r["version"])
    if not hist:
        raise FileNotFoundError(f"empty _delta_log in {path!r}")
    best: int | None = None
    running = -(1 << 62)
    for rec in hist:
        running = max(running, int(rec["timestamp"]))
        if running <= ts_ms:
            best = rec["version"]
    if best is not None and not allow_future and ts_ms > running:
        raise ValueError(
            f"timestamp {ts_ms} (epoch ms) is after the latest commit to "
            f"{path!r} (version {hist[-1]['version']} at {running} ms); "
            "reads refuse future timestamps (delta-spark parity) — pass "
            "the latest version explicitly, or use restore_table, whose "
            "permissive rule resolves future times to latest"
        )
    if best is None:
        first = hist[0]
        raise ValueError(
            f"timestamp {ts_ms} (epoch ms) precedes the first commit to "
            f"{path!r} (version {first['version']} at "
            f"{first['timestamp']} ms); nothing existed to read"
        )
    return best


def read_delta_lite(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
    timestamp=None,
) -> DataFrame:
    """Scan a Delta table via log replay (time travel via ``version``
    or ``timestamp`` — TIMESTAMP AS OF, resolved by
    ``version_at_timestamp``; passing both raises).

    ``prune`` is LOG-LEVEL DATA SKIPPING: {logical column: (lo, hi)}
    inclusive intervals (None = unbounded side) evaluated against each
    file's add-action ``stats`` — files provably outside every interval
    are dropped before the scan is even planned, so a z-ordered table
    (optimize(zorder_by=...)) skips files on ANY clustered column
    without opening a footer. A SKIPPING HINT, not a filter: files
    without stats are kept, so the caller must still apply the real
    predicate (which then also prunes row groups inside kept files).
    Values compare as the stats were written: numbers natively,
    strings lexicographically, dates/timestamps as ISO strings.

    Partitioned tables, fast path: when every active file sits at a
    hive-layout path matching its logged ``partitionValues`` (always true
    for tables this writer produced, ``_stage_and_move``), the whole
    table is ONE ``basePath``-discovered parquet relation — Spark's
    native partition discovery types the partition columns from the
    directory names and partition-filter pruning happens inside a single
    scan node, so the plan does NOT grow with partition count (the
    reference reads partitioned Delta as a single relation too,
    /root/reference/ingest.py:644-650 via delta-spark).

    Fallback (externally-authored logs whose ``add.path`` does not encode
    the partition values): group active files by ``partitionValues`` and
    read each group with the partition columns injected as typed
    literals, unioned; a partition-column filter constant-folds per
    branch and Catalyst prunes non-matching scans at plan time.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass either version or timestamp, not both"
            )
        version = version_at_timestamp(path, timestamp)
    base = _local(path)
    state = replay_log(spark, path, version)
    schema = state.schema
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )
    if prune:
        unknown = [c for c in prune if c not in {f.name for f in schema}]
        if unknown:
            raise ValueError(f"prune columns not in schema: {unknown}")
        phys_names = {
            f.name: pf.name
            for f, pf in zip(
                schema.fields,
                (_physicalize(schema) if mapping != "none" else schema).fields,
            )
        }
        bounds = {phys_names[c]: v for c, v in prune.items()}
        state.files = {
            rel: pvals
            for rel, pvals in state.files.items()
            if not _stats_exclude(
                (state.adds.get(rel) or {}).get("stats"), bounds
            )
        }
    # With column mapping on, the parquet files, the hive path segments
    # AND the log's partitionValues keys all use PHYSICAL names (the
    # public protocol's contract; delta-spark writes physicalName
    # metadata for both 'name' and 'id' modes) — so the whole scan runs
    # on the physical schema and renames to logical names ONCE at the
    # end (a positional struct cast, which also renames nested fields).
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    phys_part_cols = [
        pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name in state.partition_columns
    ]
    to_logical = _renames(phys_schema, schema)

    def _logicalize(df: DataFrame) -> DataFrame:
        if mapping == "none":
            return df
        return _cast_select(df, to_logical)

    data_schema = T.StructType(
        [f for f in phys_schema.fields if f.name not in phys_part_cols]
    )
    if not state.files:
        return spark.createDataFrame([], schema)
    dv_ver = _dv_verify(base, state.dvs) if state.dvs else {}
    if mapping != "none":
        # one footer peek: refuse (rather than silently NULL) tables
        # whose files don't carry the physical names — e.g. foreign
        # id-mode writers that rely on parquet field-id resolution
        sample = os.path.join(base, next(iter(sorted(state.files))))
        _verify_physical_names(
            spark,
            sample,
            [f.name for f in data_schema.fields],
            known=state.historical_physical_names,
        )
    if not phys_part_cols:
        files = [os.path.join(base, p) for p in state.files]
        df = spark.read.schema(phys_schema).parquet(*files)
        df = _apply_dv_filter(spark, df, base, dv_ver, list(state.files))
        return _logicalize(df)

    if _all_files_hive_layout(state.files, phys_part_cols):
        files = [os.path.join(base, rel) for rel in sorted(state.files)]
        scan = (
            spark.read.option("basePath", base)
            .schema(phys_schema)
            .parquet(*files)
        )
        scan = _apply_dv_filter(spark, scan, base, dv_ver, list(state.files))
        if mapping == "none":
            # restore declared column order (partition discovery appends
            # partition columns last); under mapping, _logicalize's
            # projection already orders
            scan = scan.select(*[_quoted(f.name) for f in phys_schema.fields])
        return _logicalize(scan)

    by_group: dict[tuple, list[str]] = {}
    for rel, pvals in state.files.items():
        key = tuple(pvals.get(c) for c in phys_part_cols)
        by_group.setdefault(key, []).append(rel)
    types = {f.name: f.dataType for f in phys_schema.fields}
    branches = []
    for key, rels in sorted(by_group.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(
            *[os.path.join(base, rel) for rel in rels]
        )
        df = _apply_dv_filter(spark, df, base, dv_ver, rels)
        for c, v in zip(phys_part_cols, key):
            df = df.withColumn(c, _typed_partition_lit(v, types[c]))
        branches.append(
            df.select(*[_quoted(f.name) for f in phys_schema.fields])
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return _logicalize(out)


def _stage_and_move(
    df: DataFrame, base: str, partition_by: tuple[str, ...]
) -> list[tuple[str, int]]:
    """Write ``df`` as parquet into a staging dir under the table root and
    move the data files into place, returning [(relative path, size)].
    Part-file names carry the job UUID, so moves cannot collide with
    existing table files."""
    staging = os.path.join(base, f"_staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    moved: list[tuple[str, int]] = []
    try:
        for root, _dirs, names in os.walk(staging):
            for name in names:
                if not name.endswith(".parquet"):
                    continue  # _SUCCESS, .crc, ...
                src = os.path.join(root, name)
                rel = os.path.relpath(src, staging)
                dst = os.path.join(base, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                size = os.path.getsize(src)
                shutil.move(src, dst)
                moved.append((rel, size))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return moved


def _partition_values_from_rel(
    rel: str, part_cols: list[str]
) -> dict[str, str | None]:
    """Recover partitionValues from the hive-style path the parquet writer
    produced (``k=v/.../part-*.parquet``); values are dir-escaped the same
    way URIs are (``%3A`` etc.), so unquote restores them."""
    values: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        k, _, v = seg.partition("=")
        if k in part_cols:
            v = urllib.parse.unquote(v)
            values[k] = None if v == HIVE_NULL else v
    return {c: values.get(c) for c in part_cols}


# Writer-side table features (minWriterVersion=7) this writer actually
# honors. columnMapping: it writes physicalName-named parquet, carries
# id/physicalName field metadata through metaData, and keys
# partitionValues by physical name (_mapped_schema/_physicalize_df).
# deletionVectors: delete_rows writes spec-format DVs (roaring_lite
# serializer, inline or u-storage files), DV updates commit the
# protocol's remove(oldDv)+add(newDv) pair, and overwrite's removes echo
# each file's tracked descriptor so DV-bearing files actually retire.
# appendOnly / invariants: honored by ENFORCEMENT — non-append writes
# refuse when delta.appendOnly=true, and any write refuses when the
# schema declares delta.invariants expressions (we cannot evaluate
# them, so refusal is the only compliant behavior) — see
# _check_write_obligations. They must be listed here because upgrading
# a legacy writer-v2 table to table features carries them over (the
# protocol's implicit-legacy-features rule), and a writer that cannot
# honor a listed feature must not write at all.
# Everything else (constraints, CDF, rowTracking, ...) must refuse: a
# writer must honor EVERY listed writerFeature.
_SUPPORTED_WRITER_FEATURES = frozenset(
    {"columnMapping", "deletionVectors", "appendOnly", "invariants",
     # v2Checkpoint's writer obligation is writing the v2 LAYOUT when
     # checkpointing — write_checkpoint does (r9)
     "v2Checkpoint",
     # delta.constraints.* expressions are EVALUATED on every write
     # (_attach_constraint_observer), violations roll the staging back
     "checkConstraints",
     # provided values validated against delta.generationExpression via
     # the same observer; omitted generated columns are COMPUTED
     "generatedColumns",
     # CDF writer obligations: appends/overwrites derive exactly from
     # add/remove; delete_rows writes _change_data files + cdc actions;
     # the one unsupported shape (DV-reverting restore) refuses
     "changeDataFeed",
     # omitted identity columns GENERATE on the watermark lattice;
     # explicit inserts honor allowExplicitInsert and sync the watermark
     "identityColumns",
     # fresh adds get baseRowId ranges from the delta.rowTracking
     # domain watermark + per-file numRecords; delete_rows re-adds
     # carry the original assignment (extras preserved); OPTIMIZE and
     # update_rows rewrite row-ID-preservingly via the materialized
     # shadow columns (r11)
     "rowTracking",
     # rowTracking's dependency: domain metadata replays, persists
     # losslessly through checkpoints (r9), and is written for the
     # delta.rowTracking domain; this writer never DROPS a domain
     "domainMetadata",
     # type-borne features: Spark's parquet writer emits TIMESTAMP_NTZ
     # and VARIANT natively; the obligation beyond that is declaring
     # the feature, which write_delta_lite stamps from the schema
     "timestampNtz", "variantType",
     # obligation is a protocol check before vacuuming: vacuum()
     # replays the log first, which runs _check_protocol
     "vacuumProtocolCheck",
     # clustered tables (r11): clustering columns live in the
     # delta.clustering domain (set_cluster_by); optimize() defaults
     # its Z-order rewrite to them, which is the writer obligation's
     # honest spelling here (delta-spark's clustering implementations
     # are also space-filling-curve layouts)
     "clusteredTable"}
)

# What each legacy writer tier implicitly enables ON TOP of the tier
# below it — an upgrade to version 7 (table features) must list the
# FULL implicit set of the version it came from, or downstream writers
# silently stop enforcing those semantics (the v2-only carry was a
# latent gap while versions 3-6 were refused; they are writable now).
_LEGACY_TIER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _implicit_legacy_writer_features(writer_v: int) -> set[str]:
    """Every writer feature a legacy ``minWriterVersion`` implies."""
    out: set[str] = set()
    for v, feats in _LEGACY_TIER_FEATURES.items():
        if writer_v >= v:
            out.update(feats)
    return out


def _schema_type_features(dt: T.DataType) -> set[str]:
    """Table features the SCHEMA itself demands: timestampNtz for any
    TIMESTAMP_NTZ column, variantType for any VARIANT column (per the
    protocol, a v1 reader would misread NTZ values as UTC-adjusted and
    cannot decode variants, so both require reader v3 + the feature)."""
    out: set[str] = set()
    variant_t = getattr(T, "VariantType", None)

    def walk(t: T.DataType) -> None:
        if isinstance(t, T.TimestampNTZType):
            out.add("timestampNtz")
        elif variant_t is not None and isinstance(t, variant_t):
            out.add("variantType")
        elif isinstance(t, T.StructType):
            for f in t.fields:
                walk(f.dataType)
        elif isinstance(t, T.ArrayType):
            walk(t.elementType)
        elif isinstance(t, T.MapType):
            walk(t.keyType)
            walk(t.valueType)

    walk(dt)
    return out

# Writer features whose STATE the checkpoint schema represents
# (files + DVs + optional add fields incl. rowTracking's per-file
# baseRowId/defaultRowCommitVersion (r9) + metadata + protocol + txn +
# domainMetadata). Anything else must refuse — a checkpoint that drops
# a feature's state silently erases it once pre-checkpoint commits are
# cleaned up.
_CHECKPOINT_SAFE = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "rowTracking",
        "v2Checkpoint",
        "timestampNtz",
        "typeWidening",
        "typeWidening-preview",
        "variantType",
        "variantType-preview",
        "vacuumProtocolCheck",
        "appendOnly",
        "invariants",
        "checkConstraints",
        "generatedColumns",
        "identityColumns",
        "changeDataFeed",
        "domainMetadata",
        # clusteredTable's whole state is the delta.clustering domain,
        # which domainMetadata replay carries losslessly (r9)
        "clusteredTable",
    }
)


# Exactly the fields write_checkpoint's fixed from_json structs carry;
# anything beyond these in the replayed state makes the checkpoint
# refuse (lossless-or-refuse) instead of silently dropping the field.
_CP_ADD_OPTIONAL = frozenset(
    {"stats", "tags", "baseRowId", "defaultRowCommitVersion"}
)
_CP_DV_KEYS = frozenset(
    {"storageType", "pathOrInlineDv", "offset", "sizeInBytes",
     "cardinality", "maxRowIndex"}
)
_CP_META_KEYS = frozenset(
    {"id", "name", "description", "format", "schemaString",
     "partitionColumns", "configuration", "createdTime"}
)
_CP_TXN_KEYS = frozenset({"appId", "version", "lastUpdated"})
_CP_DOMAIN_KEYS = frozenset({"domain", "configuration", "removed"})


def _schema_declares_invariants(dt: T.DataType) -> bool:
    """True if any field, recursively, carries a delta.invariants
    expression in its metadata."""
    if isinstance(dt, T.StructType):
        return any(
            "delta.invariants" in (f.metadata or {})
            or _schema_declares_invariants(f.dataType)
            for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _schema_declares_invariants(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_declares_invariants(
            dt.keyType
        ) or _schema_declares_invariants(dt.valueType)
    return False


def _table_constraints(
    metadata: dict | None, schema: T.StructType
) -> list[tuple[str, str]]:
    """Every row-level write obligation the table declares, as
    ``(name, SQL expression)`` pairs: CHECK constraints from
    ``delta.constraints.<name>`` configuration keys (the
    ``checkConstraints`` feature / legacy writer version 3) plus legacy
    column invariants from ``delta.invariants`` field metadata (the
    JSON ``{"expression": {"expression": "<sql>"}}`` envelope, per the
    protocol)."""
    out: list[tuple[str, str]] = []
    config = (metadata or {}).get("configuration") or {}
    for k in sorted(config):
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], config[k]))

    def walk(dt: T.DataType, prefix: str) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                inv = (f.metadata or {}).get("delta.invariants")
                if inv:
                    expr = json.loads(inv)["expression"]["expression"]
                    out.append((f"invariant({prefix}{f.name})", expr))
                walk(f.dataType, f"{prefix}{f.name}.")

    walk(schema, "")
    # generated columns (delta.generationExpression, top-level like
    # delta-spark): a PROVIDED value must equal the expression — <=> so
    # a null generated value only passes when the expression is null too
    for name, expr in _generated_columns(schema):
        quoted = name.replace("`", "``")
        out.append((f"generated({name})", f"`{quoted}` <=> ({expr})"))
    # identity columns are NOT NULL by construction (delta-spark
    # declares them so); generated values trivially satisfy this,
    # explicit inserts are validated by it
    for ident in _identity_columns(schema):
        quoted = ident["name"].replace("`", "``")
        out.append(
            (f"identity-notnull({ident['name']})", f"`{quoted}` IS NOT NULL")
        )
    return out


def _generated_columns(schema: T.StructType) -> list[tuple[str, str]]:
    """Top-level ``delta.generationExpression`` declarations as
    (column, SQL) pairs — nested generated columns do not exist in the
    protocol (delta-spark rejects them at declaration time)."""
    return [
        (f.name, (f.metadata or {})["delta.generationExpression"])
        for f in schema.fields
        if "delta.generationExpression" in (f.metadata or {})
    ]


def _identity_columns(schema: T.StructType) -> list[dict]:
    """Top-level identity declarations: ``delta.identity.start`` /
    ``.step`` / ``.allowExplicitInsert`` / ``.highWaterMark`` field
    metadata (the identityColumns feature, legacy writer version 6)."""
    out = []
    for f in schema.fields:
        meta = f.metadata or {}
        if "delta.identity.start" in meta or (
            "delta.identity.step" in meta
        ):
            step = int(meta.get("delta.identity.step", 1))
            if step == 0:
                raise ValueError(
                    f"identity column {f.name!r} declares step=0"
                )
            out.append({
                "name": f.name,
                "start": int(meta.get("delta.identity.start", 1)),
                "step": step,
                "allow_explicit": bool(
                    meta.get("delta.identity.allowExplicitInsert", False)
                ),
                "hwm": (
                    int(meta["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in meta
                    else None
                ),
                "dtype": f.dataType,
            })
    return out


def _with_identity_hwm(
    schema: T.StructType, hwms: dict[str, int]
) -> T.StructType:
    """``schema`` with ``delta.identity.highWaterMark`` updated on the
    named top-level fields (everything else byte-identical)."""
    fields = []
    for f in schema.fields:
        if f.name in hwms:
            meta = dict(f.metadata or {})
            meta["delta.identity.highWaterMark"] = int(hwms[f.name])
            fields.append(
                T.StructField(f.name, f.dataType, f.nullable, meta)
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def _attach_constraint_observer(
    df: DataFrame,
    table_schema: T.StructType,
    constraints: list[tuple[str, str]],
    path: str,
):
    """Wire write-time constraint VALIDATION into the staging plan: one
    ``observe()`` metric per constraint counting rows where the
    expression is not <=> TRUE — delta-spark's semantics (a NULL result
    VIOLATES, for both CHECK constraints and invariants; SQL-standard
    CHECK would pass nulls — deviation matches the reference
    implementation, not the standard). Columns the incoming frame omits
    (merge_schema) evaluate as the nulls they will read back as. The
    metrics ride the staging write itself — enforcement costs ZERO extra
    passes over the data; the caller checks the observation after the
    write and rolls the staged files back on any violation.

    Returns ``(df_with_observer, observation, metric_name -> constraint
    name)``. Raises with the constraint named when its expression no
    longer analyzes against the table schema (e.g. an overwrite dropped
    a referenced column — drop the constraint first, as delta-spark
    requires)."""
    from pyspark.sql import Observation

    present = set(df.columns)
    aug = df
    for f in table_schema.fields:
        if f.name not in present:
            aug = aug.withColumn(f.name, F.lit(None).cast(f.dataType))
    metrics = []
    name_map: dict[str, str] = {}
    for i, (name, sql) in enumerate(constraints):
        key = f"c{i}"
        name_map[key] = name
        try:
            metric = F.coalesce(
                F.sum(
                    F.when(
                        ~F.expr(sql).eqNullSafe(F.lit(True)), F.lit(1)
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(key)
            obs_test = aug.select(F.expr(sql))  # eager analysis check
            del obs_test
        except Exception as exc:
            raise ValueError(
                f"constraint {name!r} on {path!r} ({sql!r}) does not "
                f"analyze against the write's schema: {exc}. Drop the "
                "constraint before changing the columns it references."
            ) from exc
        metrics.append(metric)
    obs = Observation()
    observed = aug.observe(obs, *metrics).select(*df.columns)
    return observed, obs, name_map


def _check_write_obligations(state: TableState, path: str,
                             operation: str) -> None:
    """Enforce the legacy/listed features whose semantics this writer
    honors by REFUSAL: appendOnly (delta.appendOnly=true forbids every
    non-append operation). Row-level obligations — delta.invariants
    field metadata and delta.constraints.* CHECK constraints — are
    EVALUATED, not refused: write_delta_lite wires them as observe()
    metrics into the staging write (_attach_constraint_observer) and
    rolls back on violation; deletes add no rows, so delete_rows and
    restore_table have nothing to evaluate."""
    config = (state.metadata or {}).get("configuration") or {}
    if str(config.get("delta.appendOnly", "")).lower() == "true" and (
        operation != "append"
    ):
        raise ValueError(
            f"the table at {path!r} sets delta.appendOnly=true; "
            f"{operation} is not an append"
        )


def _check_writer_protocol(protocol: dict | None, path: str) -> None:
    """WRITER compliance is separate from reader compliance: a
    v2Checkpoint table is READABLE here (reader feature implemented) but
    this writer implements every LEGACY writer tier — version 6
    (appendOnly, invariants, CHECK constraints, change data feed,
    generated columns, column mapping, identity columns) — and refuses
    only unknown future versions, which would violate the protocol's
    "a writer must support every writerFeature" rule and produce a log
    real Delta tooling may reject. The ONE exception is version 7 (table
    features), where the demanded capabilities are listed explicitly —
    writable iff every listed feature is implemented here
    (_SUPPORTED_WRITER_FEATURES). Checked on the initial replay AND on
    every append retry: a concurrent writer may UPGRADE the protocol
    between our replay and the commit race."""
    if not protocol:
        return
    writer_v = int(protocol.get("minWriterVersion", 2))
    if writer_v == 7:
        unsupported = (
            set(protocol.get("writerFeatures") or ())
            - _SUPPORTED_WRITER_FEATURES
        )
        if unsupported:
            raise NotImplementedError(
                f"the table at {path!r} demands writerFeatures "
                f"{sorted(unsupported)} this writer does not implement. "
                "Use delta-spark to write it."
            )
        return
    if writer_v > 6:
        raise NotImplementedError(
            "delta_lite implements every legacy writer tier "
            "(appendOnly, invariants, CHECK constraints, change data "
            "feed, generated columns, column mapping, identity "
            f"columns — versions 2 through 6); the table at {path!r} "
            f"claims minWriterVersion={writer_v}, which is not a "
            "version the protocol defines (7 is table features, "
            "handled above). Refusing an unknown future protocol."
        )


def _file_stats_json(full_path: str) -> str | None:
    """Per-file Delta ``stats`` (numRecords / minValues / maxValues /
    nullCount) from the parquet footer — the log-level data-skipping
    input (``read_delta_lite(prune=...)`` and real Delta readers prune
    files on these BEFORE opening any footer). Top-level primitive
    columns only; None when the footer has nothing usable.

    Scale note: computed on the committing node with one footer read
    per NEW file — bounded by the commit's own output, not table size
    (delta-spark collects the same stats from write-task metrics)."""
    import datetime as _dt2

    import pyarrow.parquet as pq

    def _plain(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (_dt2.datetime, _dt2.date)):
            return v.isoformat()
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return None  # NaN/inf are not orderable stats
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    ok_cols: set[str] = set()
    for rg in range(md.num_row_groups):
        r = md.row_group(rg)
        for i in range(r.num_columns):
            c = r.column(i)
            name = c.path_in_schema
            if "." in name:
                continue  # nested leaves: skip (top-level only)
            st = c.statistics
            if st is None or not st.has_min_max:
                mins.pop(name, None)
                maxs.pop(name, None)
                ok_cols.discard(name)
                continue
            lo, hi = _plain(st.min), _plain(st.max)
            if lo is None or hi is None:
                mins.pop(name, None)
                maxs.pop(name, None)
                ok_cols.discard(name)
                continue
            if rg == 0 or name in ok_cols:
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
                nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
                ok_cols.add(name)
    # numRecords is ALWAYS known from the footer, and valuable alone
    # (COUNT pushdown; rowTracking sizes baseRowId ranges from it —
    # empty part-files included): emit it even when no column produced
    # usable min/max (delta-spark's minimum stats are numRecords too)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: mins[k] for k in sorted(ok_cols)},
            "maxValues": {k: maxs[k] for k in sorted(ok_cols)},
            "nullCount": {k: nulls.get(k, 0) for k in sorted(ok_cols)},
        }
    )


def _write_commit_file(commit_path: str, actions: list[dict]) -> None:
    """Write one commit with ``open(.., 'x')`` as the commit point.
    FileExistsError means the version race was LOST (the file is the
    winner's — never touched); any failure AFTER creation (disk full,
    interrupt) unlinks the partial file, because truncated JSON in the
    log bricks every future replay."""
    created = False
    try:
        with open(commit_path, "x") as fh:
            created = True
            for action in actions:
                fh.write(json.dumps(action) + "\n")
    except BaseException:
        if created:
            try:
                os.remove(commit_path)
            except OSError:
                pass
        raise


def write_delta_lite(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    column_mapping: str | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit ``df`` to a Delta table; returns the committed version.

    overwrite = K1 with overwriteSchema semantics (the reference's write
    disposition, sync.py:112-114): new files added, every previously
    active file removed, metaData rewritten from ``df``'s schema.
    append = K2/K4: files added under the EXISTING table schema; a column
    -name mismatch raises instead of silently writing an unreadable mix.

    merge_schema=True (append only — overwrite already replaces the
    schema) is delta-spark's mergeSchema: columns in ``df`` that the
    table lacks are ADDED to the table schema as nullable in the same
    commit (old files read them as null), and ``df`` may OMIT nullable
    non-partition table columns (the written files simply lack them; the
    declared-schema scan fills null — under column mapping they are
    staged as typed nulls instead, because the physicalizing select is
    positional over the full mapped field list). Type CHANGES still
    refuse — widening is a separate protocol feature (typeWidening) this
    writer does not commit. New columns that differ only in case from
    existing ones refuse (Delta resolves names case-insensitively), as
    do omitted non-nullable columns and new columns declaring
    delta.invariants. A schema-evolving append carries a metaData
    action, so it is single-writer: losing the commit race refuses
    instead of retrying (a retried add-only commit would silently drop
    the evolution).

    column_mapping: ``"name"`` or ``"id"`` writes a COLUMN-MAPPED table
    (protocol 3/7 with the columnMapping table feature): parquet files,
    hive path segments and partitionValues carry generated physical
    names (``col-<uuid>``), metaData carries the logical schema with
    id/physicalName field metadata, and parquet footers get field ids
    stamped for top-level columns. ``None`` (default) inherits the
    existing table's mode (appends and overwrites of a mapped table stay
    mapped — physical names are REUSED per logical name on overwrite, as
    the protocol's stability rule requires; fresh columns draw ids above
    maxColumnId). Enabling mapping on an existing unmapped table is an
    overwrite-time protocol upgrade; DISABLING it, or switching
    name<->id, is protocol-forbidden and raises. Nested fields get ids
    and physical names at every level; parquet field-id stamping is
    top-level only (name-based resolution covers nested fields — the
    documented seam is foreign readers that resolve NESTED columns
    strictly by field id).

    Row-level obligations are ENFORCED, not refused: delta.constraints.*
    CHECK constraints (table configuration, preserved across overwrites)
    and delta.invariants field metadata are evaluated as observe()
    metrics riding the staging write itself (zero extra data passes);
    any violating row unstages everything and raises with the constraint
    named, before a commit is attempted. NULL expression results count
    as violations — delta-spark's semantics for both kinds, not SQL-
    standard CHECK. This makes legacy minWriterVersion=3 tables and
    v7 tables listing checkConstraints writable here.

    The commit file is created with ``open(.., "x")`` — creation is the
    commit point, and a concurrent writer gets FileExistsError (single-
    writer semantics made explicit rather than log corruption).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if merge_schema and mode != "append":
        raise ValueError(
            "merge_schema only applies to mode='append'; overwrite "
            "already replaces the schema"
        )
    if column_mapping not in (None, "name", "id"):
        raise ValueError(
            f"column_mapping must be None|'name'|'id', got {column_mapping!r}"
        )
    base = _local(path)
    spark = df.sparkSession
    try:
        prior = replay_log(spark, path)
    except FileNotFoundError:
        prior = None

    if prior is not None:
        _check_writer_protocol(prior.protocol, path)
        _check_write_obligations(prior, path, mode)
    if txn is not None and prior is not None:
        # idempotent-writer watermark (the protocol's setTransaction):
        # a (appId, version) at or below the table's recorded watermark
        # was ALREADY applied — skip without staging anything. This is
        # what makes a foreachBatch sink exactly-once across restarts.
        seen = prior.txns.get(txn[0])
        if seen is not None and int(seen.get("version", -1)) >= int(txn[1]):
            return prior.version
    # an overwrite (or fresh create) whose incoming schema DECLARES
    # delta.invariants commits that metadata into the table — legal,
    # because this writer now EVALUATES invariants and CHECK constraints
    # on every write (_attach_constraint_observer below); the rows of
    # THIS write are validated too, so the enforcement promise the
    # metadata makes to real readers is kept from version one

    prior_mapping = (
        _column_mapping_mode(prior.metadata) if prior is not None else "none"
    )
    if column_mapping is None:
        mapping = prior_mapping
    else:
        if prior_mapping != "none" and column_mapping != prior_mapping:
            raise ValueError(
                f"the table at {path!r} has "
                f"delta.columnMapping.mode={prior_mapping!r}; switching to "
                f"{column_mapping!r} is protocol-forbidden (physical names "
                "must stay stable)"
            )
        if mode == "append" and prior is not None and (
            prior_mapping == "none" and column_mapping != "none"
        ):
            raise ValueError(
                "enabling column mapping is a metadata+protocol change; "
                "use mode='overwrite'"
            )
        mapping = column_mapping

    evolved: list[T.StructField] = []  # merge_schema: columns to ADD
    if prior is not None and mode == "append":
        partition_by = tuple(prior.partition_columns)
        # generated columns the frame omits are COMPUTED (delta-spark
        # parity) before any schema check, so generated partition
        # columns and plain appends work without the caller
        # materializing them; provided values are validated against the
        # expression by the constraint observer below
        for gname, gexpr in _generated_columns(prior.schema):
            if gname not in df.columns:
                df = df.withColumn(
                    gname,
                    F.expr(gexpr).cast(prior.schema[gname].dataType),
                )
        # identity columns: omitted -> GENERATE on the watermark lattice
        # (base + monotonically_increasing_id()*step: unique without a
        # shuffle or a global ordering; the protocol allows gaps, and
        # the realized maximum rides the staging write as an observe()
        # metric to become the new highWaterMark). Provided -> explicit
        # insert, legal only under allowExplicitInsert=true.
        for ident in _identity_columns(prior.schema):
            if ident["name"] not in df.columns:
                if ident["hwm"] is None:
                    gen_base = ident["start"]
                else:
                    # the SMALLEST lattice point strictly past the
                    # watermark in step direction: an EXPLICIT insert
                    # (BY DEFAULT tables) can park the watermark OFF
                    # the start+k*step lattice, and hwm+step would then
                    # generate off-lattice values forever (found by
                    # tools/delta_write_fuzz.py seed 77 case 3);
                    # floor-division handles both step signs, and
                    # max(k, 0) clamps watermarks BEHIND start
                    k = (ident["hwm"] - ident["start"]) // ident[
                        "step"
                    ] + 1
                    gen_base = ident["start"] + max(k, 0) * ident["step"]
                df = df.withColumn(
                    ident["name"],
                    (
                        F.lit(gen_base)
                        + F.monotonically_increasing_id()
                        * F.lit(ident["step"])
                    ).cast(ident["dtype"]),
                )
            elif not ident["allow_explicit"]:
                if not df.isEmpty():
                    raise ValueError(
                        f"identity column {ident['name']!r} on {path!r} "
                        "is GENERATED ALWAYS "
                        "(delta.identity.allowExplicitInsert=false); "
                        "omit the column and let the writer generate "
                        "its values"
                    )
        want = [f.name for f in prior.schema.fields]
        got = df.columns
        if not merge_schema and sorted(want) != sorted(got):
            raise ValueError(
                f"append schema mismatch: table has columns {sorted(want)}, "
                f"DataFrame has {sorted(got)}; use mode='overwrite' to "
                "replace the schema, or merge_schema=True to evolve it"
            )
        if merge_schema:
            first_lower: dict[str, str] = {}
            for c in want:
                first_lower.setdefault(c.lower(), c)
            clash = sorted(
                c for c in got
                if c not in want and c.lower() in first_lower
            )
            if clash:
                raise ValueError(
                    f"merge_schema: new columns {clash} differ only in "
                    "case from existing table columns "
                    f"{[first_lower[c.lower()] for c in clash]}; Delta "
                    "resolves column names case-insensitively — rename "
                    "them or match the table's casing"
                )
            missing_parts = sorted(
                c for c in partition_by if c not in got
            )
            if missing_parts:
                raise ValueError(
                    f"append is missing partition columns {missing_parts}"
                )
            non_null_missing = sorted(
                f.name for f in prior.schema.fields
                if f.name not in got and not f.nullable
            )
            if non_null_missing:
                raise ValueError(
                    "merge_schema append omits non-nullable table "
                    f"columns {non_null_missing}; old rows could not be "
                    "distinguished from the nulls this write would imply"
                )
            evolved = [
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in df.schema.fields
                if f.name not in want
            ]
            if evolved and (
                _schema_declares_invariants(T.StructType(evolved))
                or _identity_columns(T.StructType(evolved))
                or _generated_columns(T.StructType(evolved))
            ):
                raise ValueError(
                    f"the new columns this merge_schema append adds to "
                    f"{path!r} carry delta.invariants, delta.identity, "
                    "or delta.generationExpression field metadata; the "
                    "table's EXISTING rows read the new columns as null "
                    "and would retroactively violate them — add the "
                    "column first, backfill, then add the obligation "
                    "(delta-spark refuses this too)"
                )
        # names AND types (nullability aside), mirroring the retry-path
        # gate: under mapping, _physicalize_df casts to the table type,
        # which would turn a wrong-typed append into silent NULLs
        # instead of the documented refusal; under merge_schema the
        # check runs on the SHARED columns (new ones have no table type
        # yet, omitted ones no incoming type). Compare simpleString, not
        # DataType equality: a mapped table's nested struct fields carry
        # columnMapping METADATA the incoming frame never has, and
        # DataType equality includes nested metadata (latent false
        # refusal, found when legacy-v5 appends unlocked)
        want_types = {
            f.name: f.dataType.simpleString()
            for f in prior.schema.fields
            if f.name in got
        }
        got_types = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if f.name in want_types
        }
        mismatched = sorted(
            n for n in want_types if want_types[n] != got_types[n]
        )
        if mismatched:
            raise ValueError(
                f"append type mismatch on columns {mismatched}: table has "
                + ", ".join(f"{n}:{want_types[n]}" for n in mismatched)
                + "; DataFrame has "
                + ", ".join(f"{n}:{got_types[n]}" for n in mismatched)
                + " — cast explicitly or use mode='overwrite'"
            )
        # name-based mapping, like the K2 sink: table order for the
        # shared columns, evolved columns after (their schema position)
        df = df.select(
            *[c for c in want if c in got], *[f.name for f in evolved]
        )

    import time

    now_ms = int(time.time() * 1000)
    os.makedirs(_log_dir(path), exist_ok=True)
    part_cols = list(partition_by)

    # the LOGICAL schema the table's metaData declares after this
    # commit: the incoming schema for create/overwrite; for appends the
    # prior schema, extended (nullable) by merge_schema's new columns
    if prior is not None and mode == "append":
        table_schema = (
            T.StructType(list(prior.schema.fields) + evolved)
            if evolved
            else prior.schema
        )
    else:
        table_schema = df.schema

    # row-level write obligations: CHECK constraints come from the
    # table CONFIGURATION (preserved across overwrites), invariants
    # from the post-write schema — evaluated as observe() metrics
    # riding the staging write (zero extra passes), checked after it
    constraints = _table_constraints(
        prior.metadata if prior is not None else None, table_schema
    )
    constraint_obs = None
    constraint_names: dict[str, str] = {}
    if constraints:
        df, constraint_obs, constraint_names = _attach_constraint_observer(
            df, table_schema, constraints, path
        )

    identity_cols = _identity_columns(table_schema)
    identity_obs = None
    if identity_cols and (prior is None or mode == "overwrite"):
        # create/overwrite always carries the column (the schema comes
        # from df), so rows here are EXPLICIT inserts
        blocked = sorted(
            i["name"] for i in identity_cols if not i["allow_explicit"]
        )
        if blocked and not df.isEmpty():
            raise ValueError(
                f"identity columns {blocked} are GENERATED ALWAYS "
                "(delta.identity.allowExplicitInsert=false); create the "
                "table empty and append with the column omitted so "
                "values are generated"
            )
    if identity_cols:
        # the realized furthest value per identity column rides the
        # staging write (same zero-extra-pass pattern as constraints)
        # and becomes the new highWaterMark after it
        from pyspark.sql import Observation

        identity_obs = Observation()
        df = df.observe(
            identity_obs,
            *[
                (F.max if i["step"] > 0 else F.min)(
                    _quoted(i["name"])
                ).alias(f"i{k}")
                for k, i in enumerate(identity_cols)
            ],
        )

    # Column mapping: everything the FILES see (parquet schema, hive
    # partition dirs, partitionValues keys) is physical; everything the
    # LOG's metaData sees (schemaString field names, partitionColumns)
    # stays logical — mirroring read_delta_lite's contract exactly.
    if mapping != "none":
        if mode == "append" and prior is not None:
            prior_max = int(
                (prior.metadata.get("configuration") or {}).get(
                    "delta.columnMapping.maxColumnId",
                    _max_mapped_id(prior.schema),
                )
            )
            if evolved:
                # extend the prior assignments: existing fields KEEP
                # their ids/physical names (stability rule), evolved
                # columns draw fresh ids above the recorded maxColumnId
                counter = [prior_max + 1]
                mapped = _mapped_schema(table_schema, prior.schema, counter)
                max_id = max(_max_mapped_id(mapped), prior_max)
            else:
                mapped = prior.schema  # assignments live in the schema
                max_id = prior_max
            # merge_schema may OMIT nullable columns, but the
            # physicalizing select is positional over the full mapped
            # field list — stage the absent ones as typed nulls
            present = set(df.columns)
            absent = [f for f in mapped.fields if f.name not in present]
            if absent:
                df = df.select(
                    *[
                        _quoted(f.name)
                        if f.name in present
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in mapped.fields
                    ]
                )
        else:
            counter = [1]
            prior_mapped = (
                prior.schema
                if prior is not None and prior_mapping != "none"
                else None
            )
            prior_max = 0
            if prior_mapped is not None:
                # seed ABOVE the configured maxColumnId, not just above
                # the ids still present in the schema: a column dropped
                # by an earlier overwrite keeps its id reserved forever,
                # or a later column would reuse it and id-tracking
                # readers would silently read the new data as the old
                # column (protocol monotonic-id rule)
                prior_max = max(
                    int(
                        (prior.metadata.get("configuration") or {}).get(
                            "delta.columnMapping.maxColumnId", 0
                        )
                    ),
                    _max_mapped_id(prior_mapped),
                )
                counter = [prior_max + 1]
            mapped = _mapped_schema(df.schema, prior_mapped, counter)
            max_id = max(_max_mapped_id(mapped), prior_max)
        logical_to_phys = {
            f.name: pf.name
            for f, pf in zip(mapped.fields, _physicalize(mapped).fields)
        }
        stage_df = _physicalize_df(df, mapped)
        stage_part_cols = [logical_to_phys[c] for c in part_cols]
    else:
        stage_df, stage_part_cols = df, part_cols

    moved = _stage_and_move(stage_df, base, tuple(stage_part_cols))

    # drop zero-row part files: Spark emits one part per task even when
    # a task produced nothing, and committing those as adds buys every
    # future scan a useless file open (and would give rowTracking
    # dangling empty baseRowId ranges past the watermark) — delta-spark
    # does not register them either. Footer stats are read ONCE here
    # and reused by the add loop below.
    kept: list[tuple[str, int]] = []
    stats_by_rel: dict[str, str | None] = {}
    for rel, size in moved:
        stats = _file_stats_json(os.path.join(base, rel))
        if stats is not None and json.loads(stats)["numRecords"] == 0:
            try:
                os.remove(os.path.join(base, rel))
            except OSError:
                pass
            continue
        kept.append((rel, size))
        stats_by_rel[rel] = stats
    moved = kept

    if constraint_obs is not None:
        # the staging write executed the observed plan; a violation
        # unstages everything BEFORE any commit is attempted
        counts = constraint_obs.get
        violated = {
            constraint_names[k]: int(v)
            for k, v in counts.items()
            if v
        }
        if violated:
            for rel, _size in moved:
                try:
                    os.remove(os.path.join(base, rel))
                except OSError:
                    pass
            by_name = dict(constraints)
            detail = "; ".join(
                f"{n!r} ({by_name[n]!r}): {c} row(s)"
                for n, c in sorted(violated.items())
            )
            raise ValueError(
                f"write to {path!r} violates table constraints — "
                f"{detail}. NULL results count as violations "
                "(delta-spark semantics)."
            )

    identity_hwms: dict[str, int] = {}
    if identity_obs is not None:
        vals = identity_obs.get
        for k, ident in enumerate(identity_cols):
            v = vals.get(f"i{k}")
            if v is None:
                continue  # empty write: nothing generated or provided
            v = int(v)
            cur_h = ident["hwm"]
            if cur_h is None or (
                v > cur_h if ident["step"] > 0 else v < cur_h
            ):
                identity_hwms[ident["name"]] = v
    if identity_hwms:
        # the watermark lives in field metadata: re-emit metaData with
        # it advanced, so the NEXT writer generates past this write
        table_schema = _with_identity_hwm(table_schema, identity_hwms)
        if mapping != "none":
            mapped = _with_identity_hwm(mapped, identity_hwms)

    actions: list[dict] = []
    version = 0 if prior is None else prior.version + 1
    protocol_action = None
    needs_upgrade = False
    # features this commit's table state DEMANDS: column mapping, and
    # the type-borne ones the post-write schema carries (an NTZ or
    # variant column under protocol 1/2 would hand v1 readers silently
    # wrong values, so the spec gates them on reader v3 + the feature)
    want_feats = _schema_type_features(table_schema)
    if mapping != "none":
        want_feats.add("columnMapping")
    if want_feats:
        prior_proto = (prior.protocol or {}) if prior is not None else {}
        reader_feats = set(prior_proto.get("readerFeatures") or ())
        writer_feats = set(prior_proto.get("writerFeatures") or ())
        # upgrade whenever a demanded feature isn't ALREADY listed — a
        # table can sit at reader v3 for other features (e.g. a prior
        # delete_rows upgrade) and still need columnMapping declared,
        # or spec-compliant readers resolve by the wrong column names
        needs_upgrade = prior is None or (
            not want_feats <= reader_feats
            or not want_feats <= writer_feats
            or int(prior_proto.get("minReaderVersion", 1)) < 3
        )
        if prior is not None and int(
            prior_proto.get("minReaderVersion", 1)
        ) == 2:
            # legacy reader v2 implies columnMapping; the upgraded
            # explicit lists must carry it (r9 advice-fix rule)
            want_feats.add("columnMapping")
        reader_feats |= want_feats
        writer_feats |= want_feats
        if prior is not None:
            prior_wv = int(prior_proto.get("minWriterVersion", 2))
            if prior_wv < 7:
                # upgrading a legacy table must carry the FULL implicit
                # feature set of its tier (v2: appendOnly/invariants;
                # v3: +checkConstraints; v4: +changeDataFeed/generated;
                # v5: +columnMapping; v6: +identityColumns) or
                # downstream writers stop enforcing them
                writer_feats |= _implicit_legacy_writer_features(
                    prior_wv
                )
        protocol_action = {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(reader_feats),
                "writerFeatures": sorted(writer_feats),
            }
        }
    elif prior is None:
        protocol_action = {
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}
        }
    if prior is None or needs_upgrade:
        actions.append(protocol_action)
    if prior is None or mode == "overwrite":
        meta_id = prior.metadata["id"] if prior else str(uuid.uuid4())
        # overwrite REPLACES schema and data but PRESERVES table
        # configuration (delta.checkpointPolicy, user properties, ...)
        # — the real overwriteSchema contract; rebuilding it from
        # scratch silently stripped properties other components key off
        # (found in the round-9 review pass)
        configuration = dict(
            (prior.metadata.get("configuration") or {})
            if prior is not None
            else {}
        )
        if mapping != "none":
            configuration.update({
                "delta.columnMapping.mode": mapping,
                "delta.columnMapping.maxColumnId": str(max_id),
            })
        schema_json = (
            mapped.json() if mapping != "none" else table_schema.json()
        )
        actions.append(
            {
                "metaData": _fold_lineage_names(
                    {
                        "id": meta_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": part_cols,
                        "configuration": configuration,
                        "createdTime": now_ms,
                    },
                    prior.historical_physical_names
                    if prior is not None
                    else set(),
                )
            }
        )
    elif evolved or identity_hwms:
        # schema-evolving append, or an identity watermark advance: the
        # prior metaData verbatim except the updated schemaString (and
        # maxColumnId under mapping) — id, createdTime, partitioning and
        # every configuration key survive
        meta = dict(prior.metadata)
        configuration = dict(prior.metadata.get("configuration") or {})
        if mapping != "none":
            if evolved:
                configuration["delta.columnMapping.maxColumnId"] = str(
                    max_id
                )
            meta["schemaString"] = mapped.json()
        else:
            meta["schemaString"] = table_schema.json()
        meta["configuration"] = configuration
        actions.append({"metaData": meta})
    if prior is not None and mode == "overwrite":
        for rel in prior.files:
            remove = {
                "path": urllib.parse.quote(rel, safe="/="),
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            # echo the file's tracked DV descriptor: log replay retires
            # a file only when the remove's DV identity matches
            # (_apply_action), so a bare remove would leave DV-bearing
            # files alive through an overwrite
            if rel in prior.dvs:
                remove["deletionVector"] = prior.dvs[rel]
            actions.append({"remove": remove})
    # rowTracking writer obligation: when the feature is listed, every
    # fresh add carries a baseRowId range that collides with nothing —
    # allocated from the delta.rowTracking domain's rowIdHighWaterMark
    # using each file's own numRecords — plus defaultRowCommitVersion;
    # the advanced watermark commits as a domainMetadata action in the
    # same version. (delta-spark's scheme, re-expressed: ranges, never
    # per-row state, so allocation is O(files) driver work.)
    row_tracking = prior is not None and (
        "rowTracking"
        in set((prior.protocol or {}).get("writerFeatures") or ())
    )
    next_row_id = 0
    if row_tracking:
        domain = prior.domains.get("delta.rowTracking")
        if domain and not domain.get("removed"):
            next_row_id = int(
                json.loads(domain.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            ) + 1

    for rel, size in moved:
        add = {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": _partition_values_from_rel(
                rel, stage_part_cols
            ),
            "size": size,
            "modificationTime": now_ms,
            "dataChange": True,
        }
        stats = stats_by_rel[rel]
        if stats is not None:
            add["stats"] = stats
        if row_tracking:
            if stats is None:
                raise NotImplementedError(
                    f"the table at {path!r} demands rowTracking but the "
                    f"staged file {rel!r} yielded no readable footer "
                    "statistics to size its baseRowId range; refusing "
                    "rather than committing colliding row ids"
                )
            n_records = int(json.loads(stats)["numRecords"])
            add["baseRowId"] = next_row_id
            # version is pre-race here; rowTracking commits are single-
            # writer (below), so the committed version IS this one
            add["defaultRowCommitVersion"] = version
            next_row_id += n_records
        actions.append({"add": add})
    if row_tracking and moved:
        actions.append({
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": next_row_id - 1}
                ),
                "removed": False,
            }
        })

    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn[0],
                    "version": int(txn[1]),
                    "lastUpdated": now_ms,
                }
            }
        )
    # commitInfo first, delta-spark's convention: makes the commit's
    # operation and timestamp log-authoritative (DESCRIBE HISTORY via
    # table_history; the change feed's _commit_timestamp no longer
    # depends on file mtimes surviving copies)
    actions.insert(0, {
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "WRITE",
            "operationParameters": {"mode": mode},
        }
    })

    def _rollback() -> None:
        for rel, _size in moved:
            try:
                os.remove(os.path.join(base, rel))
            except OSError:
                pass

    # Append commits carry a disjoint file set (UUID-named parts) and no
    # metadata change, so losing the version race is not a logical
    # conflict per the public protocol's optimistic-concurrency rules:
    # re-replay, confirm schema/partitioning still match, and re-commit
    # at the next version. Overwrite keeps single-writer semantics (two
    # concurrent overwrites ARE a logical conflict).
    for attempt in range(_APPEND_RETRIES + 1):
        commit_path = os.path.join(_log_dir(path), f"{version:020d}.json")
        try:
            _write_commit_file(commit_path, actions)
            break
        except FileExistsError:
            lost_race = True
        except BaseException:
            _rollback()  # disk-full/interrupt mid-commit: unstage
            raise
        if lost_race:
            if mode != "append" or evolved or identity_hwms or (
                row_tracking
            ) or attempt >= _APPEND_RETRIES:
                _rollback()
                raise FileExistsError(
                    f"concurrent commit to {path!r} at version {version}; "
                    + (
                        "a schema-evolving, identity-generating or "
                        "row-tracked append carries metaData/"
                        "domainMetadata state and is single-writer — "
                        "re-read the table and retry (retrying blind "
                        "could reuse identity values or row-id ranges "
                        "the racing writer also allocated)"
                        if evolved or identity_hwms or row_tracking
                        else "append retries exhausted — retry after "
                        "the other commits settle"
                        if mode == "append"
                        else "overwrite is single-writer — retry after "
                        "the other commit"
                    )
                )
            current = replay_log(spark, path)
            try:
                # the racing commit may have UPGRADED the protocol (e.g.
                # delta-spark enabling writer features) or flipped
                # delta.appendOnly / added invariants: our retried
                # add-only commit would then be non-compliant
                _check_writer_protocol(current.protocol, path)
                _check_write_obligations(current, path, mode)
            except (NotImplementedError, ValueError):
                _rollback()
                raise
            # compare names AND types: a racing overwrite that changed a
            # column's TYPE must refuse too, or the retried append would
            # commit parquet files whose physical type contradicts the
            # table's metaData schema (nullability aside). A merge_schema
            # append that OMITTED nullable columns retries as long as its
            # columns are a type-matching subset and every column it
            # lacks is still nullable
            cur_types = {
                f.name: f.dataType.simpleString()
                for f in current.schema.fields
            }
            df_types = {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
            }
            if merge_schema:
                same_schema = all(
                    cur_types.get(n) == t for n, t in df_types.items()
                ) and all(
                    f.nullable
                    for f in current.schema.fields
                    if f.name not in df_types
                )
            else:
                same_schema = cur_types == df_types
            # the racing commit may also have changed the COLUMN-MAPPING
            # state (enabled it, or reassigned physical names via an
            # overwrite): our staged files carry the OLD physical layout
            # and committing them would make the whole table unreadable
            # (_verify_physical_names refuses at read time)
            current_mapping = _column_mapping_mode(current.metadata)
            same_mapping = current_mapping == mapping and (
                mapping == "none"
                or [f.name for f in _physicalize(current.schema).fields]
                == [f.name for f in _physicalize(mapped).fields]
            )
            # a racing commit may also have ADDED or changed row-level
            # obligations (delta.constraints.*, delta.invariants): our
            # staged rows were validated against the PRIOR set only
            same_constraints = _table_constraints(
                current.metadata, current.schema
            ) == constraints
            if (
                not same_schema
                or current.partition_columns != part_cols
                or not same_mapping
                or not same_constraints
            ):
                _rollback()
                raise FileExistsError(
                    f"concurrent commit to {path!r} changed the table's "
                    "schema, partitioning, column mapping or "
                    "constraints; this append no longer applies cleanly "
                    "— re-read the table and retry"
                )
            if txn is not None:
                # the race may have been OUR OWN appId (a concurrent
                # instance of the same idempotent writer): if its commit
                # advanced the watermark past this version, this batch
                # is already in the table — unstage and report success
                seen = current.txns.get(txn[0])
                if seen is not None and int(
                    seen.get("version", -1)
                ) >= int(txn[1]):
                    _rollback()
                    return current.version
            version = current.version + 1
            # the table definitely exists now; a retried append is pure
            # add actions (never protocol/metaData) plus the txn stamp
            # and the commitInfo header
            actions = [
                a for a in actions
                if "add" in a or "txn" in a or "commitInfo" in a
            ]
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        # best-effort (a failed checkpoint never fails the commit — the
        # JSON log alone is authoritative); bounds replay to at most
        # CHECKPOINT_INTERVAL commits however long the table lives
        try:
            write_checkpoint(spark, path)
        except Exception:
            pass
    return version


CHECKPOINT_INTERVAL = 10  # delta-spark's default cadence
_APPEND_RETRIES = 10  # bounded optimistic-concurrency retries for append

# inline ('i' storage, Z85 in the log) below this many bitmap bytes,
# u-storage .bin file at the table root otherwise — small DVs shouldn't
# cost a file per delete, huge ones shouldn't bloat the JSON log
DV_INLINE_THRESHOLD = 512

# delete_rows funnels DV bytes through the DRIVER at two points: old
# blobs are loaded to union with the new positions, and new per-file
# blobs are framed for the log commit. This caps the SUM across files on
# both sides (raise-with-remedy). New containers arrive in one Arrow
# fetch and u-storage .bin files are written as each file's blob is
# framed, so the cap bounds the total work a single commit may funnel
# driver-side.
DELETE_MAX_TOTAL_DV_BYTES = 256 << 20


def _dv_union_blobs(
    spark: SparkSession,
    base: str,
    matched: DataFrame,
    old_dvs: dict[str, dict],
) -> Iterator[tuple[str, bytes, int]]:
    """(__file hadoop-encoded path, __pos) matched row positions ->
    ``(file, blob, card)`` per touched file, sorted by file: each file's
    new deletion vector is the UNION of its existing DV and the matched
    positions. Files whose position set did not grow (every match
    already masked) yield nothing, so a fully-no-op command can skip
    committing. Shared by delete_rows and the DV write paths of
    update_rows and merge_rows.

    Spark builds every roaring container in ONE aggregate per (file,
    ``pos >> 16``): the sorted distinct low 16 bits when the container
    holds at most 4096 positions (an array container), else the two
    ``bitmap_construct_agg`` halves (32,768 bits each) concatenated,
    which is byte for byte a roaring bitset container. One ``toArrow()``
    fetches them all; the driver unions a file's old DV per container
    and roaring_lite frames the result. No Python worker starts."""
    old: dict[str, dict[int, tuple[int, bytes]]] = {}
    old_total = 0
    for rel, dv in sorted(old_dvs.items()):
        blob = _resolve_dv_blob(base, dv)
        old_total += len(blob)
        if old_total > DELETE_MAX_TOTAL_DV_BYTES:
            raise ValueError(
                f"existing deletion vectors total more than "
                f"DELETE_MAX_TOTAL_DV_BYTES ({DELETE_MAX_TOTAL_DV_BYTES}) "
                "bytes; delete in smaller batches (narrower predicates) "
                "or compact the table via overwrite first"
            )
        old[_dv_file_key(base, rel)] = {
            key: (card, payload)
            for key, card, payload in _dv_containers(rel, dv, blob)
        }

    table = (
        matched.selectExpr(
            "__file",
            "shiftright(__pos, 16) AS __key",
            "CAST(__pos & 65535 AS INT) AS __low",
        )
        .groupBy("__file", "__key")
        .agg(
            F.expr("bitmap_construct_agg(IF(__low < 32768, __low, NULL))")
            .alias("__h0"),
            F.expr(
                "bitmap_construct_agg(IF(__low >= 32768, __low - 32768, NULL))"
            ).alias("__h1"),
            F.expr("array_sort(collect_set(__low))").alias("__lows"),
        )
        .selectExpr(
            "__file",
            "__key",
            "bitmap_count(__h0) + bitmap_count(__h1) AS __card",
            "__lows",
            "concat(__h0, __h1) AS __bits",
        )
        .selectExpr(
            "__file",
            "__key",
            "__card",
            "IF(__card <= 4096, __lows, NULL) AS __lows",
            "IF(__card > 4096, __bits, NULL) AS __bits",
        )
        .toArrow()
        .sort_by([("__file", "ascending"), ("__key", "ascending")])
    )
    return _union_containers(table, old)


def _union_containers(
    table, old: dict[str, dict[int, tuple[int, bytes]]]
) -> Iterator[tuple[str, bytes, int]]:
    """_dv_union_blobs' driver half: group the fetched containers by
    file, union each with the file's old containers, frame the grown
    ones."""
    files = table.column("__file").to_pylist()
    keys = table.column("__key").to_pylist()
    cards = table.column("__card").to_pylist()
    bits = table.column("__bits").to_pylist()
    lows = table.column("__lows").combine_chunks()
    lows_off = lows.offsets.to_numpy()
    lows_val = lows.values.to_numpy(zero_copy_only=False)
    for fname, rows in groupby(range(len(files)), key=files.__getitem__):
        merged = dict(old.get(fname, {}))
        old_n = sum(card for card, _ in merged.values())
        for i in rows:
            card = cards[i]
            payload = (
                bits[i]
                if card > 4096
                else lows_val[lows_off[i] : lows_off[i + 1]]
                .astype("<u2")
                .tobytes()
            )
            if keys[i] in merged:
                u = np.union1d(
                    container_lows(*merged[keys[i]]),
                    container_lows(card, payload),
                )
                card, payload = len(u), container_payload(u)
            merged[keys[i]] = (card, payload)
        n = sum(card for card, _ in merged.values())
        if n == old_n:
            # every matched row was ALREADY masked by the existing DV
            # (the predicate runs over the raw scan): emitting would
            # commit a byte-identical DV under a fresh uuid — skip, so
            # a fully-no-op delete returns state.version uncommitted
            continue
        yield fname, frame_roaring_bitmap_array(
            [(k, card, payload) for k, (card, payload) in sorted(merged.items())]
        ), n


def _materialize_dv_descriptors(
    base: str,
    blobs: Iterator[tuple[str, bytes, int]],
    enc_to_rel: dict[str, str],
    inline_threshold: int,
    dv_written: list[str],
) -> list[tuple[str, dict]]:
    """_dv_union_blobs' ``(file, blob, card)`` results -> DV descriptors:
    u-storage blobs land on disk IMMEDIATELY (staged names appended to
    ``dv_written`` for rollback) and only compact descriptors (plus
    inline blobs, each <= inline_threshold) stay driver-side — with a
    hard cap on the total bytes a single commit may funnel through."""
    import zlib

    per_file: list[tuple[str, dict]] = []
    new_total = 0
    for fname, blob, card in blobs:
        rel = enc_to_rel.get(fname)
        if rel is None:  # file vanished between replay and scan?
            raise ValueError(f"scan produced an unknown file key {fname!r}")
        new_total += len(blob)
        if new_total > DELETE_MAX_TOTAL_DV_BYTES:
            raise ValueError(
                f"this command's new deletion vectors total more "
                f"than DELETE_MAX_TOTAL_DV_BYTES "
                f"({DELETE_MAX_TOTAL_DV_BYTES}) bytes across files; "
                "mask in smaller batches (narrower predicates) or "
                "rewrite via overwrite instead"
            )
        if len(blob) <= inline_threshold:
            pad = (-len(blob)) % 4  # z85 encodes 4-byte groups
            descriptor = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(blob + b"\x00" * pad),
                "offset": None,
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
        else:
            dv_uuid = uuid.uuid4()
            name = f"deletion_vector_{dv_uuid}.bin"
            framed = (
                b"\x01"
                + struct.pack(">I", len(blob))
                + blob
                + struct.pack(">I", zlib.crc32(blob))
            )
            with open(os.path.join(base, name), "wb") as fh:
                fh.write(framed)
            dv_written.append(name)
            descriptor = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": 1,
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
        per_file.append((rel, descriptor))
    return per_file


def _dv_protocol_upgrade_action(state, mapping: str) -> dict | None:
    """The protocol action a first DV-writing commit must carry (3/7
    with deletionVectors in BOTH feature lists, preserving what is
    already active), or None when the table already lists it."""
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    reader_feats = set(proto.get("readerFeatures") or ())
    writer_feats = set(proto.get("writerFeatures") or ())
    if mapping != "none":  # preserve the active feature set
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")
    if "deletionVectors" in reader_feats and int(
        proto.get("minReaderVersion", 1)
    ) >= 3:
        return None
    reader_feats.add("deletionVectors")
    writer_feats.add("deletionVectors")
    if (pw := int(proto.get("minWriterVersion", 2))) < 7:
        # legacy upgrade carries the FULL implicit feature set of
        # its tier (v2..v6), or downstream writers stop enforcing
        writer_feats |= _implicit_legacy_writer_features(pw)
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }
    }


def delete_rows(
    spark: SparkSession,
    path: str,
    predicate: Column | str,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """DELETE FROM the table at ``path`` WHERE ``predicate`` — without
    rewriting any parquet file: matching row positions are recorded as
    DELETION VECTORS per the public protocol (the write direction of the
    r6 reader feature; roaring_lite.serialize_roaring_bitmap_array).
    Returns the committed version (the current version unchanged if
    nothing matched).

    Mechanics, mirroring the reader's contracts exactly:
    - the predicate is evaluated over the LOGICAL schema (column-mapped
      tables scan physically and rename first, like read_delta_lite);
    - per-file positions come from ``_metadata.row_index`` and are
      built into roaring containers by one Spark aggregate
      (``_dv_union_blobs``); only the containers reach the driver, in
      one Arrow fetch, where they are framed into bitmaps (u-storage
      blobs hit disk immediately; a fully-no-op delete — every match
      already masked — returns the current version without
      committing), with DELETE_MAX_TOTAL_DV_BYTES capping the total
      funneled per commit on both the old-blob and new-blob sides;
    - a file that already carries a DV gets the UNION of its old and new
      positions (the protocol's re-add-replaces-DV rule), committed as
      the remove(oldDv) + add(newDv) pair log replay keys on;
    - descriptors use ``i`` inline storage below ``inline_threshold``
      bitmap bytes and ``u`` UUID-named files (format version 1,
      size/CRC framed exactly as ``_resolve_dv_blob`` verifies) above;
    - first delete upgrades the protocol to 3/7 adding deletionVectors
      to BOTH feature lists (preserving features already present);
    - single-writer commit like overwrite: a lost race raises rather
      than retrying (a concurrent writer may have rewritten the very
      files this delete masked).
    """
    import zlib

    base = _local(path)
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    _check_write_obligations(state, path, "delete")
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )
    if not state.files:
        return state.version

    schema = state.schema
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    phys_part_cols = [
        pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name in state.partition_columns
    ]
    rels = sorted(state.files)
    abs_files = [os.path.join(base, rel) for rel in rels]
    if mapping != "none":
        # same footer peek as read_delta_lite: on a mapped table whose
        # files do NOT carry physical names (foreign id-mode writers
        # relying on parquet field-id resolution), every data column
        # would scan as NULL and a predicate like `col IS NULL` would
        # silently mask the whole table — refuse instead
        _verify_physical_names(
            spark,
            abs_files[0],
            [
                pf.name
                for pf in phys_schema.fields
                if pf.name not in phys_part_cols
            ],
            known=state.historical_physical_names,
        )
    if phys_part_cols:
        if not _all_files_hive_layout(state.files, phys_part_cols):
            raise NotImplementedError(
                "delete_rows on a partitioned table whose file paths do "
                "not hive-encode the logged partitionValues (externally "
                "authored layout) — rewrite via overwrite instead"
            )
        scan = (
            spark.read.option("basePath", base)
            .schema(phys_schema)
            .parquet(*abs_files)
        )
    else:
        scan = spark.read.schema(phys_schema).parquet(*abs_files)

    meta_cols = (f"{_FILE_KEY_SQL} AS __file", "_metadata.row_index AS __pos")
    to_logical = _renames(phys_schema, schema)
    logical = _cast_select(scan, to_logical, *meta_cols)
    pred = predicate if isinstance(predicate, Column) else F.expr(predicate)
    matched = logical.filter(pred).select("__file", "__pos")

    touched = _dv_union_blobs(spark, base, matched, state.dvs)

    enc_to_rel = {_dv_file_key(base, rel): rel for rel in rels}
    import time

    now_ms = int(time.time() * 1000)
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "DELETE",
            "operationParameters": {},
        }
    }]

    upgrade = _dv_protocol_upgrade_action(state, mapping)
    if upgrade is not None:
        actions.append(upgrade)

    dv_written: list[str] = []  # staged .bin files, for rollback
    try:
        per_file = _materialize_dv_descriptors(
            base, touched, enc_to_rel, inline_threshold, dv_written
        )
        if not per_file:
            return state.version

        if str(
            (state.metadata.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower() == "true":
            # CDF writer obligation: a DV delete is remove+add of the
            # SAME path, where naive add/remove derivation double-counts
            # — the one commit shape the protocol says must carry cdc
            # actions. Materialize the newly-deleted rows (matched minus
            # already-masked) as change files under _change_data/,
            # scanning ONLY the files this delete actually touched.
            touched_rels = sorted(r for r, _ in per_file)
            touched_abs = [os.path.join(base, r) for r in touched_rels]
            if phys_part_cols:
                cdc_scan = (
                    spark.read.option("basePath", base)
                    .schema(phys_schema)
                    .parquet(*touched_abs)
                )
            else:
                cdc_scan = spark.read.schema(phys_schema).parquet(
                    *touched_abs
                )
            cdc_src = _cast_select(cdc_scan, to_logical, *meta_cols).filter(
                pred
            )
            old_touched = {
                r: state.dvs[r] for r in touched_rels if r in state.dvs
            }
            if old_touched:
                posdf = _dv_positions(
                    spark,
                    base,
                    _dv_verify(base, old_touched),
                    list(old_touched),
                )
                if posdf is not None:
                    cdc_src = cdc_src.join(
                        posdf,
                        (F.col("__file") == posdf["__dv_file"])
                        & (F.col("__pos") == posdf["__dv_idx"]),
                        "left_anti",
                    )
            cdc_out = _cast_select(
                cdc_src,
                _renames(schema, phys_schema),
                "'delete' AS _change_type",
            )
            cdc_dir = os.path.join(base, "_change_data")
            os.makedirs(cdc_dir, exist_ok=True)
            for rel_cdc, size in _stage_and_move(
                cdc_out, cdc_dir, tuple(phys_part_cols)
            ):
                full_rel = f"_change_data/{rel_cdc}"
                dv_written.append(full_rel)  # same rollback funnel
                actions.append(
                    {
                        "cdc": {
                            "path": urllib.parse.quote(
                                full_rel, safe="/="
                            ),
                            "partitionValues": _partition_values_from_rel(
                                rel_cdc, tuple(phys_part_cols)
                            ),
                            "size": size,
                            "dataChange": False,
                        }
                    }
                )

        n_deleted = 0
        for rel, descriptor in sorted(per_file):
            # DV growth IS the newly-deleted row count (the new
            # descriptor's cardinality is the union of old and new
            # positions) — operationMetrics for free
            old_card = int(
                (state.dvs.get(rel) or {}).get("cardinality", 0)
            )
            n_deleted += max(
                0, int(descriptor["cardinality"]) - old_card
            )
            quoted = urllib.parse.quote(rel, safe="/=")
            remove = {
                "path": quoted,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            if rel in state.dvs:
                remove["deletionVector"] = state.dvs[rel]
            actions.append({"remove": remove})
            actions.append(
                {
                    "add": {
                        "path": quoted,
                        "partitionValues": state.files[rel],
                        "size": os.path.getsize(os.path.join(base, rel)),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "deletionVector": descriptor,
                        # the file's bytes are unchanged, so its stats,
                        # tags AND rowTracking assignment (baseRowId /
                        # defaultRowCommitVersion) stay valid — dropping
                        # them here would erase row identity on
                        # row-tracked tables
                        **state.adds.get(rel, {}),
                    }
                }
            )

        actions[0]["commitInfo"]["operationMetrics"] = {
            "numDeletedRows": str(n_deleted),
            "numDeletionVectorsAdded": str(len(per_file)),
        }
        version = state.version + 1
        commit_path = os.path.join(_log_dir(path), f"{version:020d}.json")
        _write_commit_file(commit_path, actions)
    except BaseException:
        for name in dv_written:
            try:
                os.remove(os.path.join(base, name))
            except OSError:
                pass
        raise
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        try:  # best-effort, like write_delta_lite's hook
            write_checkpoint(spark, path)
        except Exception:
            pass
    return version


def _predicate_sql(condition: Column | str) -> str:
    """The expression string delta-spark records in
    ``operationParameters`` (r12 ADVICE fix): string predicates pass
    through; ``Column`` predicates unwrap to the underlying expression
    string (e.g. ``(v > 5)``) instead of PySpark's ``Column<'...'>``
    repr, which history-parsing tools that assume delta-spark's
    encoding cannot read."""
    if isinstance(condition, str):
        return condition
    try:
        return condition._jc.toString()  # classic mode: JVM expr string
    except Exception:
        m = re.match(r"^Column<'(.*)'>$", repr(condition), re.DOTALL)
        return m.group(1) if m else str(condition)


DV_WRITE_MAX_FRACTION = 0.25


def update_rows(
    spark: SparkSession,
    path: str,
    condition: Column | str,
    assignments: dict[str, Column | str],
    use_dvs: bool | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """UPDATE the table at ``path`` SET ``assignments`` WHERE
    ``condition`` — delta-spark's classic rewrite-path UPDATE command,
    re-expressed on the public protocol (r11; completes the CDC write
    surface next to delete_rows/write/optimize/restore). Returns the
    committed version (unchanged if nothing matched).

    Mechanics:
    - the condition and assignment expressions evaluate over the
      LOGICAL schema (column-mapped tables scan physically and rename
      first); assignment values are cast to the column's declared type;
    - every file containing a LIVE matching row (deletion-vector-masked
      rows are excluded — updating a deleted row would resurrect it)
      is REWRITTEN: one new file set per touched partition group
      carrying all live rows, assignments applied to the matching ones;
      the old files (and their DVs) are removed. Cost is proportional
      to TOUCHED files, exactly delta-spark's rewrite-path UPDATE —
      at 100 TB a selective predicate touches few files and a broad
      one was always going to cost a rewrite;
    - DV WRITE PATH (r13, the low-selectivity answer): on tables with
      deletion vectors enabled (the feature active, or
      ``delta.enableDeletionVectors=true`` — delta-spark's gate), a
      touched file whose matched-row fraction is at most
      DV_WRITE_MAX_FRACTION is NOT rewritten: its matched positions are
      committed as a deletion vector (union with any existing DV,
      remove(oldDv)+add(newDv) on the same path, stats/tags/rowTracking
      fields preserved — the bytes are unchanged) and ONLY the updated
      rows are appended as new files. A 1%-selectivity update then
      writes ~1% of the data instead of rewriting every touched file.
      Routing is PER FILE — files above the fraction (or without
      footer stats to judge by) still rewrite, so one command mixes
      both shapes. ``use_dvs=True`` forces the DV path for every
      touched file (upgrading the protocol if needed), ``False``
      restores the pure rewrite path, ``None`` (default) auto-routes;
    - GENERATED columns are recomputed from their expressions on the
      updated rows (assigning to one directly is refused, as is
      assigning to identity or partition columns — moving rows between
      partitions is an overwrite, not an update);
    - CHECK constraints / invariants ride the staging write as
      observe() metrics (zero extra passes); violations unstage;
    - on ``delta.enableChangeDataFeed`` tables the commit carries the
      protocol's AUTHORITATIVE change files: the matched rows' OLD
      values as ``update_preimage`` and NEW values as
      ``update_postimage`` under ``_change_data/`` — unchanged rows of
      rewritten files produce no change rows (the exact reason the
      protocol makes cdc actions authoritative: naive add/remove
      derivation would report the whole rewrite);
    - rowTracking tables rewrite row-ID-preservingly, like optimize:
      resolved row ids materialize into the config-named shadow
      columns for every surviving row; the materialized
      row-commit-version is kept for UNCHANGED rows and left NULL for
      updated ones, so it falls back to the new add's
      defaultRowCommitVersion — this commit, which IS the row's last
      modification (the protocol's rule); fresh baseRowId ranges
      advance the domain watermark;
    - single-writer commit like delete_rows: a lost race raises.
    """
    import time as _time

    base = _local(path)
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    _check_write_obligations(state, path, "update")
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )
    if not state.files:
        return state.version

    schema = state.schema
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    logical_to_phys = {
        f.name: pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    phys_part_cols = [
        logical_to_phys[c]
        for c in state.partition_columns
        if c in logical_to_phys
    ]
    gen_cols = dict(_generated_columns(schema))
    ident_names = {d["name"] for d in _identity_columns(schema)}
    for name in assignments:
        if name not in logical_to_phys:
            raise ValueError(f"assignment to unknown column {name!r}")
        if name in state.partition_columns:
            raise NotImplementedError(
                f"update_rows cannot assign partition column {name!r} "
                "(rows would move between partitions — rewrite via "
                "overwrite instead)"
            )
        if name in gen_cols:
            raise ValueError(
                f"column {name!r} is GENERATED ({gen_cols[name]!r}); it "
                "is recomputed from its expression — assign its inputs "
                "instead"
            )
        if name in ident_names:
            raise ValueError(
                f"column {name!r} is an IDENTITY column; its values are "
                "row identity and cannot be reassigned"
            )

    row_tracking = "rowTracking" in set(
        (state.protocol or {}).get("writerFeatures") or ()
    )
    cdf_on = str(
        (state.metadata.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        )
    ).lower() == "true"

    rels = sorted(state.files)
    abs_files = [os.path.join(base, rel) for rel in rels]
    if mapping != "none":
        _verify_physical_names(
            spark,
            abs_files[0],
            [
                pf.name
                for pf in phys_schema.fields
                if pf.name not in phys_part_cols
            ],
            known=state.historical_physical_names,
        )
    if phys_part_cols and not _all_files_hive_layout(
        state.files, phys_part_cols
    ):
        raise NotImplementedError(
            "update_rows on a partitioned table whose file paths do not "
            "hive-encode the logged partitionValues (externally "
            "authored layout) — rewrite via overwrite instead"
        )

    dv_ver = _dv_verify(base, state.dvs) if state.dvs else {}

    # ---- which files carry a LIVE matching row -------------------------
    if phys_part_cols:
        scan = (
            spark.read.option("basePath", base)
            .schema(phys_schema)
            .parquet(*abs_files)
        )
    else:
        scan = spark.read.schema(phys_schema).parquet(*abs_files)
    to_logical = _renames(phys_schema, schema)
    live = _apply_dv_filter(spark, scan, base, dv_ver, rels)
    pred = condition if isinstance(condition, Column) else F.expr(condition)
    enc_to_rel = {_dv_file_key(base, rel): rel for rel in rels}
    touched_counts = {
        enc_to_rel[r["__file"]]: int(r["cnt"])
        for r in (
            _cast_select(live, to_logical, f"{_FILE_KEY_SQL} AS __file")
            .filter(pred)
            .groupBy("__file")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        if r["__file"] in enc_to_rel
    }
    touched = sorted(touched_counts)
    if not touched:
        return state.version

    # ---- per-file routing: deletion-vector write vs rewrite ----------
    dv_feature_on = "deletionVectors" in set(
        (state.protocol or {}).get("readerFeatures") or ()
    ) or str(
        (state.metadata.get("configuration") or {}).get(
            "delta.enableDeletionVectors", ""
        )
    ).lower() == "true"
    if use_dvs is False:
        touched_dv: list[str] = []
    elif use_dvs is True:
        touched_dv = list(touched)
    elif not dv_feature_on:
        touched_dv = []
    else:
        touched_dv = []
        for rel in touched:
            stats_json = (state.adds.get(rel) or {}).get("stats")
            if not stats_json:
                continue  # no footer stats to judge selectivity by
            try:
                n_rec = int(json.loads(stats_json)["numRecords"])
            except (ValueError, KeyError, TypeError):
                continue
            live_n = n_rec - int(
                (state.dvs.get(rel) or {}).get("cardinality", 0)
            )
            if live_n > 0 and touched_counts[rel] <= (
                DV_WRITE_MAX_FRACTION * live_n
            ):
                touched_dv.append(rel)
    dv_set = set(touched_dv)
    touched_rw = [r for r in touched if r not in dv_set]

    version = state.version + 1
    now_ms = int(_time.time() * 1000)
    constraints = _table_constraints(state.metadata, schema)

    # rowTracking: resolve materialized column names (create on first
    # use, committing the config), mirror optimize()
    rt_cfg = dict((state.metadata or {}).get("configuration") or {})
    rid_col = rt_cfg.get(_MAT_ROW_ID_KEY)
    rcv_col = rt_cfg.get(_MAT_ROW_CV_KEY)
    rt_meta_changed = False
    if row_tracking:
        if rid_col is None:
            rid_col = f"_row-id-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_ID_KEY] = rid_col
            rt_meta_changed = True
        if rcv_col is None:
            rcv_col = f"_row-commit-version-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_CV_KEY] = rcv_col
            rt_meta_changed = True
    rt_sql = (
        (_sql_name(rid_col), _sql_name(rcv_col)) if row_tracking else ()
    )
    to_physical = _renames(schema, phys_schema, phys_part_cols)

    next_row_id = 0
    if row_tracking:
        domain = state.domains.get("delta.rowTracking")
        if domain and not domain.get("removed"):
            next_row_id = int(
                json.loads(domain.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            ) + 1

    # SQL UPDATE semantics (r12 ADVICE fix): the predicate is evaluated
    # ONCE against the pristine row into a marker column, and every
    # assignment RHS is applied in a SINGLE simultaneous select so it
    # sees the ORIGINAL column values — the prior sequential
    # withColumn(F.when(pred, ...)) chain re-evaluated pred and RHS
    # against already-assigned values (assigning the predicate column
    # silently dropped later assignments, generated-column recompute,
    # and the rcv nulling). Generated columns then recompute in a
    # second simultaneous select so they see the POST-assignment values
    # of their inputs (delta forbids generated-on-generated, so
    # simultaneity is safe there too).
    marker = f"__upd_matched_{uuid.uuid4().hex[:8]}"

    def _updated(frame: DataFrame) -> DataFrame:
        cols = list(frame.columns)
        out = frame.withColumn(marker, pred).select(
            *[
                (
                    F.when(
                        F.col(marker),
                        (
                            assignments[c]
                            if isinstance(assignments[c], Column)
                            else F.expr(assignments[c])
                        ).cast(schema[c].dataType),
                    )
                    .otherwise(_quoted(c))
                    .alias(c)
                    if c in assignments
                    else _quoted(c)
                )
                for c in cols
            ],
            F.col(marker),
        )
        if gen_cols:
            out = out.select(
                *[
                    (
                        F.when(
                            F.col(marker),
                            F.expr(gen_cols[c]).cast(schema[c].dataType),
                        )
                        .otherwise(_quoted(c))
                        .alias(c)
                        if c in gen_cols
                        else _quoted(c)
                    )
                    for c in cols
                ],
                F.col(marker),
            )
        return out

    by_part: dict[tuple, list[str]] = {}
    for rel in touched_rw:
        key = tuple(sorted((state.files[rel] or {}).items()))
        by_part.setdefault(key, []).append(rel)
    dv_by_part: dict[tuple, list[str]] = {}
    for rel in touched_dv:
        key = tuple(sorted((state.files[rel] or {}).items()))
        dv_by_part.setdefault(key, []).append(rel)

    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "UPDATE",
            # delta-spark string-encodes operationParameters values
            # (and records the expression SQL, not the Column repr)
            "operationParameters": {"predicate": _predicate_sql(condition)},
        }
    }]
    if rt_meta_changed:
        meta_out = dict(state.metadata)
        meta_out["configuration"] = rt_cfg
        actions.append({"metaData": meta_out})

    staged: list[str] = []  # everything to roll back on failure
    n_rewritten = 0
    up_metrics = {"updated": 0, "rewritten_rows": 0, "derivable": True}
    try:
        for key, group in sorted(by_part.items()):
            pvals = dict(key)
            group_abs = [os.path.join(base, r) for r in group]
            data_fields = [
                f
                for f in phys_schema.fields
                if f.name not in phys_part_cols
            ]
            if row_tracking:
                rt_read_schema = T.StructType(
                    data_fields
                    + [
                        T.StructField(rid_col, T.LongType()),
                        T.StructField(rcv_col, T.LongType()),
                    ]
                )
                gdf = _with_materialized_row_ids(
                    spark,
                    base,
                    group,
                    state.adds,
                    rt_read_schema,
                    rid_col,
                    rcv_col,
                    dv_ver=dv_ver,
                )
            else:
                gdf = spark.read.schema(
                    T.StructType(data_fields)
                ).parquet(*group_abs)
                gdf = _apply_dv_filter(spark, gdf, base, dv_ver, group)
            # logical view (partition columns as typed literals so the
            # predicate/assignments may reference them)
            lg = _cast_select(
                gdf,
                _group_logical(
                    schema, state.partition_columns, logical_to_phys, pvals
                ),
                *rt_sql,
            )
            upd = _updated(lg)
            if row_tracking:
                # unchanged rows keep their resolved commit version;
                # updated rows fall back to the new default (= this
                # commit, their last modification). The marker carries
                # the PRISTINE-row match (pred over post-assignment
                # values would miss rows whose assignment falsified it)
                upd = upd.withColumn(
                    rcv_col,
                    F.when(
                        F.col(marker), F.lit(None).cast("long")
                    ).otherwise(_quoted(rcv_col)),
                )
            # operationMetrics: updated-row count rides the staging
            # write (zero extra passes, delta-spark history parity)
            from pyspark.sql import Observation

            obs_m = Observation()
            upd = upd.observe(
                obs_m,
                F.coalesce(
                    F.sum(F.col(marker).cast("long")), F.lit(0)
                ).alias("u"),
            )
            obs = None
            if constraints:
                upd, obs, name_map = _attach_constraint_observer(
                    upd, schema, constraints, path
                )
            # back to physical layout, partition columns dropped (they
            # live in the directory name)
            out_phys = _cast_select(upd, to_physical, *rt_sql)
            part_dir = os.path.dirname(group[0])
            staging = os.path.join(base, f"_staging-{uuid.uuid4().hex}")
            out_phys.write.mode("overwrite").parquet(staging)
            try:
                if obs is not None:
                    violated = [
                        name_map[k]
                        for k, v in obs.get.items()
                        if int(v or 0) > 0
                    ]
                    if violated:
                        raise ValueError(
                            f"update violates constraint(s) "
                            f"{sorted(violated)} on {path!r}; nothing "
                            "was committed"
                        )
                for name in sorted(os.listdir(staging)):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(staging, name)
                    pf_meta = None
                    try:
                        import pyarrow.parquet as _pq

                        pf_meta = _pq.ParquetFile(src).metadata.num_rows
                    except Exception:
                        pf_meta = None
                    if pf_meta == 0:
                        continue  # never commit zero-row part files
                    rel_new = (
                        os.path.join(part_dir, name) if part_dir else name
                    )
                    dst = os.path.join(base, rel_new)
                    os.makedirs(os.path.dirname(dst) or base, exist_ok=True)
                    size = os.path.getsize(src)
                    shutil.move(src, dst)
                    staged.append(rel_new)
                    add = {
                        "path": urllib.parse.quote(rel_new, safe="/="),
                        "partitionValues": pvals,
                        "size": size,
                        "modificationTime": now_ms,
                        "dataChange": True,
                    }
                    stats = _file_stats_json(dst)
                    if stats is not None:
                        add["stats"] = stats
                        up_metrics["rewritten_rows"] += int(
                            json.loads(stats)["numRecords"]
                        )
                    else:
                        up_metrics["derivable"] = False
                    if row_tracking:
                        if stats is None:
                            raise NotImplementedError(
                                f"the table at {path!r} demands "
                                f"rowTracking but the rewritten file "
                                f"{rel_new!r} yielded no readable footer "
                                "statistics to size its baseRowId range"
                            )
                        n_records = int(json.loads(stats)["numRecords"])
                        add["baseRowId"] = next_row_id
                        add["defaultRowCommitVersion"] = version
                        next_row_id += n_records
                    actions.append({"add": add})
                up_metrics["updated"] += int(obs_m.get["u"] or 0)
            finally:
                shutil.rmtree(staging, ignore_errors=True)

            # CDF obligation: matched rows only, old and new images
            if cdf_on:
                matched_lg = lg.filter(pred)
                pre = _cast_select(
                    matched_lg,
                    to_physical,
                    "'update_preimage' AS _change_type",
                )
                post = _cast_select(
                    _updated(matched_lg),
                    to_physical,
                    "'update_postimage' AS _change_type",
                )
                cdc_dir = os.path.join(base, "_change_data")
                os.makedirs(cdc_dir, exist_ok=True)
                cdc_sub = part_dir  # mirror the data layout per group
                cdc_target = (
                    os.path.join(cdc_dir, cdc_sub) if cdc_sub else cdc_dir
                )
                for rel_cdc, size in _stage_and_move(
                    pre.unionByName(post), cdc_target, ()
                ):
                    full_rel = "/".join(
                        x
                        for x in ("_change_data", cdc_sub, rel_cdc)
                        if x
                    )
                    staged.append(full_rel)
                    actions.append(
                        {
                            "cdc": {
                                "path": urllib.parse.quote(
                                    full_rel, safe="/="
                                ),
                                "partitionValues": pvals,
                                "size": size,
                                "dataChange": False,
                            }
                        }
                    )

            for rel in group:
                remove = {
                    "path": urllib.parse.quote(rel, safe="/="),
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
                if rel in state.dvs:
                    remove["deletionVector"] = state.dvs[rel]
                actions.append({"remove": remove})
                n_rewritten += 1

        # ---- DV write path: mask matched positions, append only the
        # updated rows (delta-spark's DV-based UPDATE shape) ----------
        n_dv_added = 0
        if dv_by_part:
            upgrade = _dv_protocol_upgrade_action(state, mapping)
            if upgrade is not None:
                actions.append(upgrade)
        for key, group in sorted(dv_by_part.items()):
            pvals = dict(key)
            part_dir = os.path.dirname(group[0])
            group_abs = [os.path.join(base, r) for r in group]
            data_fields = [
                f
                for f in phys_schema.fields
                if f.name not in phys_part_cols
            ]
            if row_tracking:
                rt_read_schema = T.StructType(
                    data_fields
                    + [
                        T.StructField(rid_col, T.LongType()),
                        T.StructField(rcv_col, T.LongType()),
                    ]
                )
                gdf = _with_materialized_row_ids(
                    spark,
                    base,
                    group,
                    state.adds,
                    rt_read_schema,
                    rid_col,
                    rcv_col,
                    dv_ver=dv_ver,
                    keep_position=True,
                    keep_path=True,
                ).withColumnsRenamed(
                    {"__rt_path": "__file", "__rt_idx": "__pos"}
                )
            else:
                gdf = (
                    spark.read.schema(T.StructType(data_fields))
                    .parquet(*group_abs)
                    .selectExpr(
                        "*",
                        f"{_FILE_KEY_SQL} AS __file",
                        "_metadata.row_index AS __pos",
                    )
                )
                gdf = _apply_dv_filter(spark, gdf, base, dv_ver, group)
            # logical view of the MATCHED live rows only — the entire
            # point: downstream cost is proportional to matched rows,
            # not to the files they live in
            matched_lg = (
                _cast_select(
                    gdf,
                    _group_logical(
                        schema, state.partition_columns, logical_to_phys, pvals
                    ),
                    *rt_sql,
                    "__file",
                    "__pos",
                )
                .filter(pred)
                .persist()
            )
            try:
                # (a) the new deletion vectors: matched positions ∪ old
                group_old_dvs = {
                    r: state.dvs[r] for r in group if r in state.dvs
                }
                per_file_dv = _materialize_dv_descriptors(
                    base,
                    _dv_union_blobs(
                        spark,
                        base,
                        matched_lg.select("__file", "__pos"),
                        group_old_dvs,
                    ),
                    enc_to_rel,
                    inline_threshold,
                    staged,
                )
                # (b) the replacement rows: assignments applied to the
                # matched rows only, appended as fresh files. rcv NULL
                # -> falls back to this add's defaultRowCommitVersion
                # (= this commit, the row's last modification); rid
                # carries the ORIGINAL row id — identity is preserved
                # because the masked original is no longer live.
                upd = _updated(matched_lg.drop("__file", "__pos"))
                if row_tracking:
                    upd = upd.withColumn(
                        rcv_col, F.lit(None).cast("long")
                    )
                from pyspark.sql import Observation

                obs_m = Observation()
                upd = upd.observe(
                    obs_m,
                    F.coalesce(
                        F.sum(F.col(marker).cast("long")), F.lit(0)
                    ).alias("u"),
                )
                obs = None
                if constraints:
                    upd, obs, name_map = _attach_constraint_observer(
                        upd, schema, constraints, path
                    )
                out_phys = _cast_select(upd, to_physical, *rt_sql)
                # replacement rows are a small fraction of the group by
                # construction — coalesce to roughly the table's own
                # rows-per-file so a 1% update appends ~1 right-sized
                # file instead of one sliver per scan partition
                group_matched = sum(touched_counts[r] for r in group)
                avg_live = max(
                    1,
                    sum(
                        int(
                            json.loads(
                                (state.adds.get(r) or {}).get(
                                    "stats", '{"numRecords": 0}'
                                )
                            ).get("numRecords", 0)
                        )
                        - int(
                            (state.dvs.get(r) or {}).get("cardinality", 0)
                        )
                        for r in group
                    )
                    // max(1, len(group)),
                )
                n_out = max(
                    1, min(len(group), -(-group_matched // avg_live))
                )
                out_phys = out_phys.coalesce(n_out)
                staging = os.path.join(
                    base, f"_staging-{uuid.uuid4().hex}"
                )
                out_phys.write.mode("overwrite").parquet(staging)
                try:
                    if obs is not None:
                        violated = [
                            name_map[k]
                            for k, v in obs.get.items()
                            if int(v or 0) > 0
                        ]
                        if violated:
                            raise ValueError(
                                f"update violates constraint(s) "
                                f"{sorted(violated)} on {path!r}; "
                                "nothing was committed"
                            )
                    next_row_id = _merge_move_staged(
                        staging,
                        base,
                        part_dir,
                        pvals,
                        now_ms,
                        version,
                        row_tracking,
                        next_row_id,
                        staged,
                        actions,
                        path,
                        metrics=up_metrics,
                    )
                    up_metrics["updated"] += int(obs_m.get["u"] or 0)
                finally:
                    shutil.rmtree(staging, ignore_errors=True)

                # (c) CDF obligation — identical to the rewrite path's
                if cdf_on:
                    pre = _cast_select(
                        matched_lg,
                        to_physical,
                        "'update_preimage' AS _change_type",
                    )
                    post = _cast_select(
                        _updated(matched_lg.drop("__file", "__pos")),
                        to_physical,
                        "'update_postimage' AS _change_type",
                    )
                    cdc_dir = os.path.join(base, "_change_data")
                    os.makedirs(cdc_dir, exist_ok=True)
                    cdc_sub = part_dir
                    cdc_target = (
                        os.path.join(cdc_dir, cdc_sub)
                        if cdc_sub
                        else cdc_dir
                    )
                    for rel_cdc, size in _stage_and_move(
                        pre.unionByName(post), cdc_target, ()
                    ):
                        full_rel = "/".join(
                            x
                            for x in ("_change_data", cdc_sub, rel_cdc)
                            if x
                        )
                        staged.append(full_rel)
                        actions.append(
                            {
                                "cdc": {
                                    "path": urllib.parse.quote(
                                        full_rel, safe="/="
                                    ),
                                    "partitionValues": pvals,
                                    "size": size,
                                    "dataChange": False,
                                }
                            }
                        )

                # (d) remove(oldDv) + add(newDv) on the untouched bytes:
                # stats, tags and rowTracking fields stay valid
                for rel, descriptor in sorted(per_file_dv):
                    quoted = urllib.parse.quote(rel, safe="/=")
                    remove = {
                        "path": quoted,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                    if rel in state.dvs:
                        remove["deletionVector"] = state.dvs[rel]
                    actions.append({"remove": remove})
                    actions.append(
                        {
                            "add": {
                                "path": quoted,
                                "partitionValues": state.files[rel],
                                "size": os.path.getsize(
                                    os.path.join(base, rel)
                                ),
                                "modificationTime": now_ms,
                                "dataChange": True,
                                "deletionVector": descriptor,
                                **state.adds.get(rel, {}),
                            }
                        }
                    )
                    n_dv_added += 1
            finally:
                matched_lg.unpersist(blocking=False)

        if row_tracking:
            actions.append({
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": next_row_id - 1}
                    ),
                    "removed": False,
                }
            })
        op_metrics = {
            "numUpdatedRows": str(up_metrics["updated"]),
            "numRemovedFiles": str(n_rewritten),
            "numAddedFiles": str(
                sum(1 for a in actions if "add" in a)
            ),
        }
        if n_dv_added:
            op_metrics["numDeletionVectorsAdded"] = str(n_dv_added)
        if up_metrics["derivable"]:
            # rewrites conserve rows, so copied = rewritten - updated
            op_metrics["numCopiedRows"] = str(
                max(
                    0,
                    up_metrics["rewritten_rows"] - up_metrics["updated"],
                )
            )
        actions[0]["commitInfo"]["operationMetrics"] = op_metrics
        commit_path = os.path.join(_log_dir(path), f"{version:020d}.json")
        _write_commit_file(commit_path, actions)
    except BaseException:
        for rel in staged:
            try:
                os.remove(os.path.join(base, rel))
            except OSError:
                pass
        raise
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        try:
            write_checkpoint(spark, path)
        except Exception:
            pass
    return version


def _merge_move_staged(
    staging: str,
    base: str,
    part_dir: str,
    pvals: dict,
    now_ms: int,
    version: int,
    row_tracking: bool,
    next_row_id: int,
    staged: list[str],
    actions: list[dict],
    path: str,
    metrics: dict | None = None,
) -> int:
    """Move a rewrite group's staged part files into place and append
    their add actions (zero-row files never commit; rowTracking adds
    draw fresh baseRowId ranges). Returns the advanced next_row_id.
    Factored from update_rows' staging block for merge_rows.
    ``metrics`` accumulates rewritten_rows / derivable for
    operationMetrics."""
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(staging, name)
        try:
            import pyarrow.parquet as _pq

            n_rows = _pq.ParquetFile(src).metadata.num_rows
        except Exception:
            n_rows = None
        if n_rows == 0:
            continue  # never commit zero-row part files
        rel_new = os.path.join(part_dir, name) if part_dir else name
        dst = os.path.join(base, rel_new)
        os.makedirs(os.path.dirname(dst) or base, exist_ok=True)
        size = os.path.getsize(src)
        shutil.move(src, dst)
        staged.append(rel_new)
        add = {
            "path": urllib.parse.quote(rel_new, safe="/="),
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": True,
        }
        stats = _file_stats_json(dst)
        if stats is not None:
            add["stats"] = stats
        if metrics is not None:
            if stats is not None:
                metrics["rewritten_rows"] = metrics.get(
                    "rewritten_rows", 0
                ) + int(json.loads(stats)["numRecords"])
            else:
                metrics["derivable"] = False
        if row_tracking:
            if stats is None:
                raise NotImplementedError(
                    f"the table at {path!r} demands rowTracking but the "
                    f"rewritten file {rel_new!r} yielded no readable "
                    "footer statistics to size its baseRowId range"
                )
            n_records = int(json.loads(stats)["numRecords"])
            add["baseRowId"] = next_row_id
            add["defaultRowCommitVersion"] = version
            next_row_id += n_records
        actions.append({"add": add})
    return next_row_id


def _merge_rewrite_groups(
    spark: SparkSession,
    base: str,
    path: str,
    state,
    touched: list[str],
    dec: DataFrame | None,
    matched: list,
    nmbs: list,
    schema: T.StructType,
    phys_schema: T.StructType,
    logical_to_phys: dict[str, str],
    phys_part_cols: list[str],
    gen_cols: dict[str, str],
    new_names: dict[str, str],
    assigners: dict[str, list[int]],
    upd_idx: list[int],
    del_idx: list[int],
    dv_ver: dict,
    row_tracking: bool,
    rid_col: str | None,
    rcv_col: str | None,
    cdf_on: bool,
    constraints,
    now_ms: int,
    version: int,
    next_row_id: int,
    staged: list[str],
    actions: list[dict],
    persisted: list,
    metrics: dict | None = None,
    dv_mode: bool = False,
    touched_counts: dict[str, int] | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """Rewrite every touched partition group applying the per-row merge
    decisions (joined from ``dec`` on file path + row position),
    appending add/remove/cdc actions. Returns the advanced
    next_row_id. ``metrics`` accumulates updated-row counts via an
    observe() riding each group's staging write (zero extra passes)."""
    from pyspark.sql import Observation
    if not touched:
        return next_row_id
    nmbs_upd_idx = [j for j, (k, _c, _v) in enumerate(nmbs) if k == "update"]
    nmbs_del_idx = [j for j, (k, _c, _v) in enumerate(nmbs) if k == "delete"]

    by_part: dict[tuple, list[str]] = {}
    for rel in touched:
        key = tuple(sorted((state.files[rel] or {}).items()))
        by_part.setdefault(key, []).append(rel)

    data_fields = [
        f for f in phys_schema.fields if f.name not in phys_part_cols
    ]
    to_physical = _renames(schema, phys_schema, phys_part_cols)
    rt_sql = (
        (_sql_name(rid_col), _sql_name(rcv_col)) if row_tracking else ()
    )

    for key, group in sorted(by_part.items()):
        pvals = dict(key)
        group_abs = [os.path.join(base, r) for r in group]
        if row_tracking:
            rt_read_schema = T.StructType(
                data_fields
                + [
                    T.StructField(rid_col, T.LongType()),
                    T.StructField(rcv_col, T.LongType()),
                ]
            )
            gdf = _with_materialized_row_ids(
                spark,
                base,
                group,
                state.adds,
                rt_read_schema,
                rid_col,
                rcv_col,
                dv_ver=dv_ver,
                keep_position=True,
                keep_path=True,
            ).withColumnsRenamed(
                {"__rt_path": "__mrg_base", "__rt_idx": "__mrg_pos"}
            )
        else:
            gdf = spark.read.schema(
                T.StructType(data_fields)
            ).parquet(*group_abs)
            gdf = _apply_dv_filter(spark, gdf, base, dv_ver, group)
            gdf = gdf.selectExpr(
                "*",
                f"{_FILE_KEY_SQL} AS __mrg_base",
                "_metadata.row_index AS __mrg_pos",
            )
        # logical view, partition columns as typed literals
        lg = _cast_select(
            gdf,
            _group_logical(
                schema, state.partition_columns, logical_to_phys, pvals
            ),
            *rt_sql,
            "__mrg_base",
            "__mrg_pos",
        )
        j = lg.alias("t")
        if dec is not None:
            # no broadcast hint: dec is proportional to matched rows —
            # AQE flips to BHJ when it is actually small
            j = j.join(
                dec.drop("__mrg_nmod"),
                ["__mrg_base", "__mrg_pos"],
                "left",
            )
        else:
            j = j.withColumns(
                {
                    "__mrg_clause": F.lit(None).cast("int"),
                    "__mrg_matched": F.lit(None).cast("boolean"),
                }
            )
        # not-matched-by-source clause decision (target-only exprs)
        nmbs_clause = F.lit(None).cast("int")
        if nmbs:
            branch = None
            for jx, (_k, cond, _v) in enumerate(nmbs):
                c = _merge_cond_col(cond)
                branch = (
                    F.when(c, F.lit(jx))
                    if branch is None
                    else branch.when(c, F.lit(jx))
                )
            nmbs_clause = F.when(
                F.col("__mrg_matched").isNull(), branch
            )
        j = j.withColumn("__mrg_nmbs", nmbs_clause)
        deleted = F.col("__mrg_clause").isin(del_idx) if del_idx else F.lit(
            False
        )
        if nmbs_del_idx:
            deleted = deleted | F.col("__mrg_nmbs").isin(nmbs_del_idx)
        updated = F.col("__mrg_clause").isin(upd_idx) if upd_idx else F.lit(
            False
        )
        if nmbs_upd_idx:
            updated = updated | F.col("__mrg_nmbs").isin(nmbs_upd_idx)
        j = j.withColumns(
            {
                "__mrg_deleted": F.coalesce(deleted, F.lit(False)),
                "__mrg_updated": F.coalesce(updated, F.lit(False)),
            }
        )
        if dv_mode:
            # DV mode: every downstream consumer (positions, replacement
            # rows, change images) reads only the AFFECTED rows — filter
            # before persisting so the cache is proportional to the
            # modified fraction, not to the group
            j = j.filter(
                F.col("__mrg_deleted") | F.col("__mrg_updated")
            ).persist()
            persisted.append(j)
        elif cdf_on:
            # the decided group frame feeds the rewrite AND the
            # pre/post/delete change staging — persist it for the
            # group's duration instead of re-running the scan + dec
            # join per action (measured: merge CDF overhead halves).
            # Unpersisted at the end of the iteration; the caller's
            # finally releases it on the error path too.
            j = j.persist()
            persisted.append(j)

        if cdf_on:
            # originals of modified rows, BEFORE the rewrite projection
            pre = _cast_select(
                j.filter(F.col("__mrg_updated")),
                to_physical,
                "'update_preimage' AS _change_type",
            )
            dels = _cast_select(
                j.filter(F.col("__mrg_deleted")),
                to_physical,
                "'delete' AS _change_type",
            )

        # DV mode writes ONLY the updated rows (deleted rows are just
        # masked; unchanged rows stay in the original, untouched file)
        kept = (
            j.filter(F.col("__mrg_updated"))
            if dv_mode
            else j.filter(~F.col("__mrg_deleted"))
        )
        # ONE simultaneous projection: every new value sees the
        # ORIGINAL row (matched-update values were already computed
        # against the pristine pair in `dec`; by-source updates
        # evaluate here over the original target columns)
        out_cols = []
        for f in schema.fields:
            c = f.name
            val = None
            if c in assigners and assigners[c]:
                val = F.when(
                    F.col("__mrg_clause").isin(assigners[c]),
                    F.col(new_names[c]),
                )
            for jx in nmbs_upd_idx:
                values = nmbs[jx][2]
                if c in values:
                    v = values[c]
                    expr = (
                        v if isinstance(v, Column) else F.expr(v)
                    ).cast(f.dataType)
                    val = (
                        F.when(F.col("__mrg_nmbs") == jx, expr)
                        if val is None
                        else val.when(F.col("__mrg_nmbs") == jx, expr)
                    )
            out_cols.append(
                (val.otherwise(_quoted(c)) if val is not None else _quoted(c)).alias(c)
            )
        upd = kept.select(
            *out_cols,
            *([_quoted(rid_col), _quoted(rcv_col)] if row_tracking else []),
            F.col("__mrg_updated"),
        )
        if gen_cols:
            upd = upd.select(
                *[
                    (
                        F.when(
                            F.col("__mrg_updated"),
                            F.expr(gen_cols[f.name]).cast(f.dataType),
                        )
                        .otherwise(_quoted(f.name))
                        .alias(f.name)
                        if f.name in gen_cols
                        else _quoted(f.name)
                    )
                    for f in schema.fields
                ],
                *(
                    [_quoted(rid_col), _quoted(rcv_col)]
                    if row_tracking
                    else []
                ),
                F.col("__mrg_updated"),
            )
        if row_tracking:
            upd = upd.withColumn(
                rcv_col,
                F.when(
                    F.col("__mrg_updated"), F.lit(None).cast("long")
                ).otherwise(_quoted(rcv_col)),
            )
        obs_m = None
        if metrics is not None:
            obs_m = Observation()
            upd = upd.observe(
                obs_m,
                F.coalesce(
                    F.sum(F.col("__mrg_updated").cast("long")), F.lit(0)
                ).alias("u"),
            )
        if cdf_on:
            # derived BEFORE the constraint observer attaches: the cdc
            # staging write must not re-materialize the observed node
            post = _cast_select(
                upd.filter(F.col("__mrg_updated")),
                to_physical,
                "'update_postimage' AS _change_type",
            )
        obs = None
        if constraints:
            upd, obs, name_map = _attach_constraint_observer(
                upd, schema, constraints, path
            )
        out_phys = _cast_select(upd, to_physical, *rt_sql)
        if dv_mode:
            # replacement rows are a small fraction of the group by
            # construction — coalesce to roughly the table's own
            # rows-per-file sizing (mirrors update_rows' DV path)
            group_modified = sum(
                (touched_counts or {}).get(r, 0) for r in group
            )
            avg_live = max(
                1,
                sum(
                    int(
                        json.loads(
                            (state.adds.get(r) or {}).get(
                                "stats", '{"numRecords": 0}'
                            )
                        ).get("numRecords", 0)
                    )
                    - int((state.dvs.get(r) or {}).get("cardinality", 0))
                    for r in group
                )
                // max(1, len(group)),
            )
            out_phys = out_phys.coalesce(
                max(1, min(len(group), -(-group_modified // avg_live)))
            )
        part_dir = os.path.dirname(group[0])
        staging = os.path.join(base, f"_staging-{uuid.uuid4().hex}")
        out_phys.write.mode("overwrite").parquet(staging)
        try:
            if obs is not None:
                violated = [
                    name_map[k]
                    for k, v in obs.get.items()
                    if int(v or 0) > 0
                ]
                if violated:
                    raise ValueError(
                        f"merge violates constraint(s) {sorted(violated)} "
                        f"on {path!r}; nothing was committed"
                    )
            # DV groups account their replacement rows separately:
            # they are NOT part of the rewrite-conservation arithmetic
            # the deleted-rows metric derives from
            group_metrics = (
                {"rewritten_rows": 0, "derivable": True}
                if dv_mode and metrics is not None
                else metrics
            )
            next_row_id = _merge_move_staged(
                staging,
                base,
                part_dir,
                pvals,
                now_ms,
                version,
                row_tracking,
                next_row_id,
                staged,
                actions,
                path,
                metrics=group_metrics,
            )
            if dv_mode and metrics is not None:
                metrics["dv_rewritten"] = metrics.get(
                    "dv_rewritten", 0
                ) + group_metrics["rewritten_rows"]
                if not group_metrics["derivable"]:
                    metrics["derivable"] = False
            if obs_m is not None:
                metrics["updated"] = metrics.get("updated", 0) + int(
                    obs_m.get["u"] or 0
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

        if cdf_on:
            cdc_dir = os.path.join(base, "_change_data")
            os.makedirs(cdc_dir, exist_ok=True)
            cdc_sub = part_dir
            cdc_target = (
                os.path.join(cdc_dir, cdc_sub) if cdc_sub else cdc_dir
            )
            for rel_cdc, size in _stage_and_move(
                pre.unionByName(post).unionByName(dels), cdc_target, ()
            ):
                full_rel = "/".join(
                    x for x in ("_change_data", cdc_sub, rel_cdc) if x
                )
                staged.append(full_rel)
                actions.append(
                    {
                        "cdc": {
                            "path": urllib.parse.quote(full_rel, safe="/="),
                            "partitionValues": pvals,
                            "size": size,
                            "dataChange": False,
                        }
                    }
                )

        if dv_mode:
            # mask the affected positions: remove(oldDv) + add(newDv)
            # on the untouched bytes — stats, tags and rowTracking
            # fields stay valid
            enc_map = {_dv_file_key(base, rel): rel for rel in group}
            per_file_dv = _materialize_dv_descriptors(
                base,
                _dv_union_blobs(
                    spark,
                    base,
                    j.select(
                        F.col("__mrg_base").alias("__file"),
                        F.col("__mrg_pos").alias("__pos"),
                    ),
                    {r: state.dvs[r] for r in group if r in state.dvs},
                ),
                enc_map,
                inline_threshold,
                staged,
            )
            for rel, descriptor in sorted(per_file_dv):
                if metrics is not None:
                    old_card = int(
                        (state.dvs.get(rel) or {}).get("cardinality", 0)
                    )
                    metrics["dv_mask_growth"] = metrics.get(
                        "dv_mask_growth", 0
                    ) + max(
                        0, int(descriptor["cardinality"]) - old_card
                    )
                    metrics["dv_files"] = metrics.get("dv_files", 0) + 1
                quoted = urllib.parse.quote(rel, safe="/=")
                remove = {
                    "path": quoted,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
                if rel in state.dvs:
                    remove["deletionVector"] = state.dvs[rel]
                actions.append({"remove": remove})
                actions.append(
                    {
                        "add": {
                            "path": quoted,
                            "partitionValues": state.files[rel],
                            "size": os.path.getsize(
                                os.path.join(base, rel)
                            ),
                            "modificationTime": now_ms,
                            "dataChange": True,
                            "deletionVector": descriptor,
                            **state.adds.get(rel, {}),
                        }
                    }
                )
        else:
            for rel in group:
                remove = {
                    "path": urllib.parse.quote(rel, safe="/="),
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
                if rel in state.dvs:
                    remove["deletionVector"] = state.dvs[rel]
                actions.append({"remove": remove})
        if dv_mode or cdf_on:
            j.unpersist(blocking=False)
    return next_row_id


def _merge_inserts(
    spark: SparkSession,
    base: str,
    path: str,
    rels: list[str],
    tgt_scan,
    src: DataFrame,
    on_cond: Column,
    not_matched: list,
    schema: T.StructType,
    phys_schema: T.StructType,
    phys_part_cols: list[str],
    gen_cols: dict[str, str],
    row_tracking: bool,
    rid_col: str | None,
    rcv_col: str | None,
    cdf_on: bool,
    constraints,
    now_ms: int,
    version: int,
    next_row_id: int,
    staged: list[str],
    actions: list[dict],
    persisted: list,
    metrics: dict | None = None,
) -> int:
    """Stage the WHEN NOT MATCHED inserts as new add files (hive-
    partitioned on partitioned tables) plus their cdc insert rows,
    appending the actions. Returns the advanced next_row_id."""
    if not not_matched:
        return next_row_id
    if rels:
        ins = src.alias("s").join(
            tgt_scan(False).alias("t"), on_cond, "left_anti"
        )
    else:
        ins = src.alias("s")  # empty table: every source row inserts
    branch = None
    for k, (_kind, cond, _v) in enumerate(not_matched):
        c = _merge_cond_col(cond)
        branch = (
            F.when(c, F.lit(k)) if branch is None else branch.when(c, F.lit(k))
        )
    ins = ins.withColumn("__mrg_ins", branch).filter(
        F.col("__mrg_ins").isNotNull()
    )
    # simultaneous projection: every value expression sees the source
    # row; omitted columns insert as typed nulls
    val_cols = []
    for f in schema.fields:
        if f.name in gen_cols:
            continue  # computed below from the generation expression
        b = None
        for k, (_kind, _cond, values) in enumerate(not_matched):
            if f.name in values:
                v = values[f.name]
                expr = (v if isinstance(v, Column) else F.expr(v)).cast(
                    f.dataType
                )
                b = (
                    F.when(F.col("__mrg_ins") == k, expr)
                    if b is None
                    else b.when(F.col("__mrg_ins") == k, expr)
                )
        val_cols.append(
            (b if b is not None else F.lit(None).cast(f.dataType)).alias(
                f.name
            )
        )
    new_rows = ins.select(*val_cols)
    if gen_cols:
        new_rows = new_rows.select(
            "*",
            *[
                F.expr(gexpr).cast(schema[name].dataType).alias(name)
                for name, gexpr in gen_cols.items()
            ],
        ).select(*[_quoted(f.name) for f in schema.fields])
    obs = None
    if constraints:
        new_rows, obs, name_map = _attach_constraint_observer(
            new_rows, schema, constraints, path
        )
    out_phys = _cast_select(new_rows, _renames(schema, phys_schema))
    if cdf_on:
        # reused by the cdc insert staging below — one anti-join, not two
        out_phys = out_phys.persist()
        persisted.append(out_phys)
    moved = _stage_and_move(out_phys, base, tuple(phys_part_cols))
    kept_adds: list[tuple[str, dict, int]] = []
    try:
        if obs is not None:
            violated = [
                name_map[k] for k, v in obs.get.items() if int(v or 0) > 0
            ]
            if violated:
                raise ValueError(
                    f"merge insert violates constraint(s) "
                    f"{sorted(violated)} on {path!r}; nothing was "
                    "committed"
                )
    except BaseException:
        for rel, _size in moved:
            try:
                os.remove(os.path.join(base, rel))
            except OSError:
                pass
        raise
    for rel, size in moved:
        dst = os.path.join(base, rel)
        stats = _file_stats_json(dst)
        n_records = (
            int(json.loads(stats)["numRecords"]) if stats is not None else None
        )
        if n_records == 0:
            try:
                os.remove(dst)
            except OSError:
                pass
            continue
        if metrics is not None:
            if n_records is not None:
                metrics["inserted"] = (
                    metrics.get("inserted", 0) + n_records
                )
            else:
                metrics["derivable"] = False
        staged.append(rel)
        pvals = (
            _partition_values_from_rel(rel, phys_part_cols)
            if phys_part_cols
            else {}
        )
        add = {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": True,
        }
        if stats is not None:
            add["stats"] = stats
        if row_tracking:
            if n_records is None:
                raise NotImplementedError(
                    f"the table at {path!r} demands rowTracking but the "
                    f"inserted file {rel!r} yielded no readable footer "
                    "statistics to size its baseRowId range"
                )
            add["baseRowId"] = next_row_id
            add["defaultRowCommitVersion"] = version
            next_row_id += n_records
        actions.append({"add": add})
    if cdf_on:
        cdc_dir = os.path.join(base, "_change_data")
        os.makedirs(cdc_dir, exist_ok=True)
        cdc_rows = out_phys.withColumn("_change_type", F.lit("insert"))
        for rel_cdc, size in _stage_and_move(
            cdc_rows, cdc_dir, tuple(phys_part_cols)
        ):
            try:
                import pyarrow.parquet as _pq

                if (
                    _pq.ParquetFile(os.path.join(cdc_dir, rel_cdc))
                    .metadata.num_rows
                    == 0
                ):
                    os.remove(os.path.join(cdc_dir, rel_cdc))
                    continue
            except Exception:
                pass
            full_rel = "/".join(("_change_data", rel_cdc))
            staged.append(full_rel)
            actions.append(
                {
                    "cdc": {
                        "path": urllib.parse.quote(full_rel, safe="/="),
                        "partitionValues": (
                            _partition_values_from_rel(
                                rel_cdc, phys_part_cols
                            )
                            if phys_part_cols
                            else {}
                        ),
                        "size": size,
                        "dataChange": False,
                    }
                }
            )
    if cdf_on:
        out_phys.unpersist(blocking=False)
    return next_row_id


def _merge_norm_clauses(
    raw, kinds: tuple[str, ...], label: str
) -> list[tuple[str, object, dict | None]]:
    """Normalize MERGE clause tuples to (kind, condition|None,
    values|None) and validate their shape."""
    out = []
    for cl in raw or ():
        if not isinstance(cl, (tuple, list)) or not cl:
            raise ValueError(
                f"{label} clause must be a (kind, condition[, values]) "
                f"tuple, got {cl!r}"
            )
        kind = cl[0]
        if kind not in kinds:
            raise ValueError(
                f"{label} clause kind must be one of {kinds}, got {kind!r}"
            )
        cond = cl[1] if len(cl) > 1 else None
        values = cl[2] if len(cl) > 2 else None
        if kind in ("update", "insert"):
            if not isinstance(values, dict) or not values:
                raise ValueError(
                    f"{label} {kind} clause needs a non-empty "
                    "column->expression dict as its third element"
                )
        elif values is not None:
            raise ValueError(f"{label} delete clause takes no assignments")
        out.append((kind, cond, values))
    return out


def _merge_cond_col(cond) -> Column:
    if cond is None:
        return F.lit(True)
    return cond if isinstance(cond, Column) else F.expr(cond)


def merge_rows(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: Column | str,
    matched: tuple = (),
    not_matched: tuple = (),
    not_matched_by_source: tuple = (),
    schema_evolution: bool = False,
    use_dvs: bool | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """Transactional MERGE INTO the table at ``path`` USING ``source``
    ON ``on`` — delta-spark's merge command re-expressed on the public
    protocol (r12; the last of the DELETE/UPDATE/MERGE write trio, and
    the production spelling of the reference's incremental upsert load,
    /root/reference/ingest.py:802-822). ONE commit carries every
    rewrite, insert, and (on CDF tables) the authoritative mixed
    insert / update_preimage / update_postimage / delete change files.
    Returns the committed version (unchanged if nothing changed).

    Clause lists are ORDERED, delta-spark style — for a given row the
    FIRST clause whose condition holds wins and later clauses are not
    considered:

    - ``matched``: ``("update", cond, {col: expr})`` or
      ``("delete", cond)`` — applied to target rows with a source
      match; ``cond``/``expr`` reference the target as ``t.<col>`` and
      the source as ``s.<col>``.
    - ``not_matched``: ``("insert", cond, {col: expr})`` — applied to
      source rows with no target match; expressions reference
      ``s.<col>`` only. Omitted nullable columns insert as typed nulls;
      omitted non-nullable columns refuse.
    - ``not_matched_by_source``: ``("update", cond, {col: expr})`` or
      ``("delete", cond)`` — applied to target rows with NO source
      match; expressions reference ``t.<col>`` only.

    Pass ``cond=None`` for an unconditional clause. ``on`` is a SQL
    string (recommended) or Column over the ``t``/``s`` aliases.

    ``schema_evolution=True`` (delta-spark's withSchemaEvolution):
    assignments to columns the target lacks ADD them — nullable, typed
    from the assigning expression (analysis-only probe, no job), fresh
    columnMapping ids above maxColumnId on mapped tables, committed as
    the same commit's metaData. Old files read the new columns as
    null, exactly the merge_schema append rule; case-clashes with
    existing columns refuse. A merge that changes no rows commits no
    schema change.

    SQL semantics throughout, sharing update_rows' r12 rules: every
    clause condition and update RHS sees the ORIGINAL row (new values
    are computed in one simultaneous projection); generated columns
    recompute from their expressions on updated and inserted rows
    (direct assignment refused); partition/identity columns refuse
    assignment; CHECK constraints ride the staging writes as observe()
    metrics and roll the whole commit back on violation.

    Scale mechanics:
    - the source is persisted for the command's duration (delta-spark
      materializes merge sources for the same reason: a
      non-deterministic source must see ONE consistent snapshot across
      the match, rewrite, and insert phases);
    - matches are computed ONCE as a distributed decision frame keyed
      by (file, row position): clause index plus the already-evaluated
      new values for update-assigned columns. Only per-FILE aggregates
      of it reach the driver (ambiguity check + touched-file set);
    - a target row matched by MORE THAN ONE modifying source row
      raises (delta's multiple-source-rows-match error) BEFORE any
      file is staged;
    - cost is proportional to TOUCHED files (rows matched by a
      modifying clause), exactly like update_rows: untouched files are
      neither read twice nor rewritten; inserts append new files;
    - rowTracking tables rewrite row-ID-preservingly (updated rows
      keep their ids, their row-commit-version falls to this commit;
      inserted rows draw fresh baseRowId ranges);
    - DV WRITE PATH (r13, same routing as update_rows): on tables with
      deletion vectors enabled, a touched file whose modified-row
      fraction is at most DV_WRITE_MAX_FRACTION commits a deletion
      vector masking its updated+deleted positions plus appended
      replacement rows for the updates, instead of a rewrite — the
      incremental-upsert load (few keys per batch against a huge
      target) then writes data proportional to the BATCH, not to the
      touched files. Per-file routing; ``use_dvs`` forces as in
      update_rows.
    """
    import time as _time

    matched = _merge_norm_clauses(matched, ("update", "delete"), "matched")
    not_matched = _merge_norm_clauses(
        not_matched, ("insert",), "not_matched"
    )
    nmbs = _merge_norm_clauses(
        not_matched_by_source,
        ("update", "delete"),
        "not_matched_by_source",
    )
    if not (matched or not_matched or nmbs):
        raise ValueError("merge_rows needs at least one clause")

    base = _local(path)
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    _check_write_obligations(state, path, "merge")
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )

    schema = state.schema
    meta_out: dict | None = None
    evolved_names: set[str] = set()
    if schema_evolution:
        existing = {f.name for f in schema.fields}
        first_lower: dict[str, str] = {}
        for c in existing:
            first_lower.setdefault(c.lower(), c)
        new_assign: dict[str, object] = {}
        for _k, _c, values in (*matched, *nmbs, *not_matched):
            for name, val in (values or {}).items():
                if name not in existing and name not in new_assign:
                    new_assign[name] = val
        clash = sorted(c for c in new_assign if c.lower() in first_lower)
        if clash:
            raise ValueError(
                f"schema_evolution: new columns {clash} differ only in "
                "case from existing table columns "
                f"{[first_lower[c.lower()] for c in clash]}; Delta "
                "resolves column names case-insensitively — rename them "
                "or match the table's casing"
            )
        if new_assign:
            # type each new column from its assigning expression —
            # analysis only, no job runs
            probe = spark.createDataFrame([], schema).alias("t").join(
                source.limit(0).alias("s"), F.lit(True), "cross"
            )
            new_fields = []
            for name, val in new_assign.items():
                expr = val if isinstance(val, Column) else F.expr(val)
                dt = probe.select(expr.alias("__x")).schema[0].dataType
                new_fields.append(T.StructField(name, dt, True))
            evolved_names = set(new_assign)
            schema = T.StructType(list(schema.fields) + new_fields)
            meta_out = dict(state.metadata)
            cfg2 = dict(meta_out.get("configuration") or {})
            if mapping != "none":
                prior_max = max(
                    int(cfg2.get("delta.columnMapping.maxColumnId", 0)),
                    _max_mapped_id(state.schema),
                )
                counter = [prior_max + 1]
                schema = _mapped_schema(schema, state.schema, counter)
                cfg2["delta.columnMapping.maxColumnId"] = max(
                    _max_mapped_id(schema), prior_max
                )
                meta_out["configuration"] = cfg2
            meta_out["schemaString"] = schema.json()

    phys_schema = _physicalize(schema) if mapping != "none" else schema
    logical_to_phys = {
        f.name: pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    phys_part_cols = [
        logical_to_phys[c]
        for c in state.partition_columns
        if c in logical_to_phys
    ]
    gen_cols = dict(_generated_columns(schema))
    ident_names = {d["name"] for d in _identity_columns(schema)}

    # ---- static clause validation over the table schema ----------------
    def _check_assign(values: dict, label: str) -> None:
        for name in values:
            if name not in logical_to_phys:
                raise ValueError(
                    f"{label} assigns unknown column {name!r}"
                )
            if name in state.partition_columns and label.startswith(
                ("matched", "not_matched_by_source")
            ):
                raise NotImplementedError(
                    f"{label} cannot assign partition column {name!r} "
                    "(rows would move between partitions — rewrite via "
                    "overwrite instead)"
                )
            if name in gen_cols:
                raise ValueError(
                    f"column {name!r} is GENERATED ({gen_cols[name]!r}); "
                    "it is recomputed from its expression — assign its "
                    "inputs instead"
                )
            if name in ident_names:
                raise ValueError(
                    f"column {name!r} is an IDENTITY column; its values "
                    "cannot be assigned"
                )

    upd_assign_cols: set[str] = set()
    for i, (kind, _c, values) in enumerate(matched):
        if kind == "update":
            _check_assign(values, f"matched[{i}]")
            upd_assign_cols |= set(values)
    for j, (kind, _c, values) in enumerate(nmbs):
        if kind == "update":
            _check_assign(values, f"not_matched_by_source[{j}]")
    if not_matched and ident_names:
        raise NotImplementedError(
            f"merge_rows cannot INSERT into the table at {path!r}: its "
            f"IDENTITY column(s) {sorted(ident_names)} need generated "
            "values this writer does not allocate — use append with "
            "explicit identity handling instead"
        )
    for k, (_kind, _c, values) in enumerate(not_matched):
        _check_assign(values, f"not_matched[{k}]")
        for f in schema.fields:
            if (
                not f.nullable
                and f.name not in values
                and f.name not in gen_cols
            ):
                raise ValueError(
                    f"not_matched[{k}] omits non-nullable column "
                    f"{f.name!r}"
                )

    row_tracking = "rowTracking" in set(
        (state.protocol or {}).get("writerFeatures") or ()
    )
    cdf_on = str(
        (state.metadata.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        )
    ).lower() == "true"

    rels = sorted(state.files)
    abs_files = [os.path.join(base, rel) for rel in rels]
    # row identity = (encoded full path, row position) — basenames
    # alone collide across hive partition directories
    base_to_rel = {_dv_file_key(base, rel): rel for rel in rels}
    if rels and mapping != "none":
        # evolved columns are absent from pre-evolution files by
        # definition — verify only the pre-existing physical names
        _verify_physical_names(
            spark,
            abs_files[0],
            [
                pf.name
                for f, pf in zip(schema.fields, phys_schema.fields)
                if pf.name not in phys_part_cols
                and f.name not in evolved_names
            ],
            known=state.historical_physical_names,
        )
    if rels and phys_part_cols and not _all_files_hive_layout(
        state.files, phys_part_cols
    ):
        raise NotImplementedError(
            "merge_rows on a partitioned table whose file paths do not "
            "hive-encode the logged partitionValues (externally authored "
            "layout) — rewrite via overwrite instead"
        )

    dv_ver = _dv_verify(base, state.dvs) if state.dvs else {}
    on_cond = on if isinstance(on, Column) else F.expr(on)
    to_logical = _renames(phys_schema, schema)

    def _tgt_scan(with_pos: bool) -> DataFrame:
        """The live logical target, optionally with (basename, row
        position) identity columns."""
        if phys_part_cols:
            scan = (
                spark.read.option("basePath", base)
                .schema(phys_schema)
                .parquet(*abs_files)
            )
        else:
            scan = spark.read.schema(phys_schema).parquet(*abs_files)
        live = _apply_dv_filter(spark, scan, base, dv_ver, rels)
        extra = (
            (
                f"{_FILE_KEY_SQL} AS __mrg_base",
                "_metadata.row_index AS __mrg_pos",
            )
            if with_pos
            else ()
        )
        return _cast_select(live, to_logical, *extra)

    # matched-update clause indices / assigned-column bookkeeping
    upd_idx = [i for i, (k, _c, _v) in enumerate(matched) if k == "update"]
    del_idx = [i for i, (k, _c, _v) in enumerate(matched) if k == "delete"]
    new_names = {
        c: f"__mrg_new_{n}" for n, c in enumerate(sorted(upd_assign_cols))
    }
    assigners = {
        c: [
            i
            for i in upd_idx
            if c in (matched[i][2] or {})
        ]
        for c in upd_assign_cols
    }

    version = state.version + 1
    now_ms = int(_time.time() * 1000)
    constraints = _table_constraints(state.metadata, schema)

    # rowTracking bookkeeping (mirrors update_rows); configuration
    # builds on the evolution-updated metadata when both change
    rt_cfg = dict(
        (meta_out or state.metadata or {}).get("configuration") or {}
    )
    rid_col = rt_cfg.get(_MAT_ROW_ID_KEY)
    rcv_col = rt_cfg.get(_MAT_ROW_CV_KEY)
    rt_meta_changed = False
    if row_tracking:
        if rid_col is None:
            rid_col = f"_row-id-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_ID_KEY] = rid_col
            rt_meta_changed = True
        if rcv_col is None:
            rcv_col = f"_row-commit-version-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_CV_KEY] = rcv_col
            rt_meta_changed = True
    next_row_id = 0
    if row_tracking:
        domain = state.domains.get("delta.rowTracking")
        if domain and not domain.get("removed"):
            next_row_id = int(
                json.loads(domain.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            ) + 1

    # if the CALLER already persisted the source, persist() is a no-op
    # returning the same plan — unpersisting in the finally would evict
    # THEIR cache (r13 ADVICE low); only release what this command pinned
    lvl = source.storageLevel
    caller_persisted = bool(lvl.useMemory or lvl.useDisk)
    src = source if caller_persisted else source.persist()
    n_source_rows = src.count()  # materializes the cached source
    dec = None
    touched: list[str] = []
    touched_counts: dict[str, int] = {}
    persisted: list = []  # per-group/insert caches, released in finally
    # operationMetrics accumulation (delta-spark history parity):
    # updated rows via observe() riding each group's staging write,
    # rewritten/inserted rows from the add stats already being parsed,
    # deleted rows by conservation (removed_live - rewritten)
    metrics: dict = {
        "updated": 0, "inserted": 0, "rewritten_rows": 0,
        "derivable": True,
    }
    try:
        # ---- global decision frame: one match pass ----------------------
        if rels and (matched or nmbs):
            pairs = _tgt_scan(True).alias("t").join(
                src.alias("s"), on_cond, "inner"
            )
            clause = None
            for i, (_k, cond, _v) in enumerate(matched):
                c = _merge_cond_col(cond)
                clause = (
                    F.when(c, F.lit(i))
                    if clause is None
                    else clause.when(c, F.lit(i))
                )
            clause_col = (
                clause if clause is not None else F.lit(None).cast("int")
            )
            new_cols = []
            for c, nm in new_names.items():
                branch = None
                for i in assigners[c]:
                    val = matched[i][2][c]
                    expr = (
                        val if isinstance(val, Column) else F.expr(val)
                    ).cast(schema[c].dataType)
                    branch = (
                        F.when(clause_col == i, expr)
                        if branch is None
                        else branch.when(clause_col == i, expr)
                    )
                new_cols.append(
                    (
                        branch
                        if branch is not None
                        else F.lit(None).cast(schema[c].dataType)
                    ).alias(nm)
                )
            per_pair = pairs.select(
                F.col("__mrg_base"),
                F.col("__mrg_pos"),
                clause_col.alias("__mrg_clause"),
                *new_cols,
            )
            dec = (
                per_pair.groupBy("__mrg_base", "__mrg_pos")
                .agg(
                    F.count(
                        F.when(F.col("__mrg_clause").isNotNull(), 1)
                    ).alias("__mrg_nmod"),
                    F.min("__mrg_clause").alias("__mrg_clause"),
                    *[
                        F.first(F.col(nm), ignorenulls=True).alias(nm)
                        for nm in new_names.values()
                    ],
                )
                .withColumn("__mrg_matched", F.lit(True))
            )
            if not nmbs:
                # matched-but-unmodified rows are only needed to tell
                # "matched" from "not matched by source" — skip them
                # entirely when no by-source clause exists
                dec = dec.filter(F.col("__mrg_clause").isNotNull())
            dec = dec.persist()

            per_file = (
                dec.groupBy("__mrg_base")
                .agg(
                    F.max("__mrg_nmod").alias("mx"),
                    F.sum(
                        F.col("__mrg_clause").isNotNull().cast("long")
                    ).alias("nmod_rows"),
                )
                .collect()
            )
            if any(int(r["mx"] or 0) > 1 for r in per_file):
                raise ValueError(
                    "merge_rows: multiple source rows match (and would "
                    "modify) the same target row — deduplicate the "
                    "source on the merge keys first (delta-spark raises "
                    "the same error)"
                )
            # per-file MODIFIED-row counts: drives the touched set and
            # (r13) the DV-vs-rewrite routing
            touched_counts: dict[str, int] = {
                base_to_rel[r["__mrg_base"]]: int(r["nmod_rows"] or 0)
                for r in per_file
                if int(r["nmod_rows"] or 0)
                and r["__mrg_base"] in base_to_rel
            }
            if nmbs:
                any_nmbs = F.lit(False)
                for _k, cond, _v in nmbs:
                    any_nmbs = any_nmbs | _merge_cond_col(cond)
                nmbs_b = (
                    _tgt_scan(True)
                    .alias("t")
                    .join(
                        dec.select("__mrg_base", "__mrg_pos"),
                        ["__mrg_base", "__mrg_pos"],
                        "left_anti",
                    )
                    .filter(any_nmbs)
                    .groupBy("__mrg_base")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .collect()
                )
                for r in nmbs_b:
                    rel_b = base_to_rel.get(r["__mrg_base"])
                    if rel_b is not None:
                        touched_counts[rel_b] = touched_counts.get(
                            rel_b, 0
                        ) + int(r["cnt"])
            touched = sorted(touched_counts)

        # ---- per-file routing: deletion-vector write vs rewrite ------
        dv_feature_on = "deletionVectors" in set(
            (state.protocol or {}).get("readerFeatures") or ()
        ) or str(
            (state.metadata.get("configuration") or {}).get(
                "delta.enableDeletionVectors", ""
            )
        ).lower() == "true"
        if use_dvs is False or not touched:
            touched_dv: list[str] = []
        elif use_dvs is True:
            touched_dv = list(touched)
        elif not dv_feature_on:
            touched_dv = []
        else:
            touched_dv = []
            for rel in touched:
                stats_json = (state.adds.get(rel) or {}).get("stats")
                if not stats_json:
                    continue
                try:
                    n_rec = int(json.loads(stats_json)["numRecords"])
                except (ValueError, KeyError, TypeError):
                    continue
                live_n = n_rec - int(
                    (state.dvs.get(rel) or {}).get("cardinality", 0)
                )
                if live_n > 0 and touched_counts[rel] <= (
                    DV_WRITE_MAX_FRACTION * live_n
                ):
                    touched_dv.append(rel)
        touched_rw = [r for r in touched if r not in set(touched_dv)]

        actions: list[dict] = [{
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                # delta-spark string-encodes every value; clause lists
                # are JSON arrays of {predicate?, actionType}
                "operationParameters": {
                    "predicate": _predicate_sql(on),
                    "matchedPredicates": json.dumps(
                        [
                            {
                                **(
                                    {"predicate": _predicate_sql(c)}
                                    if c is not None
                                    else {}
                                ),
                                "actionType": k,
                            }
                            for k, c, _v in matched
                        ]
                    ),
                    "notMatchedPredicates": json.dumps(
                        [
                            {
                                **(
                                    {"predicate": _predicate_sql(c)}
                                    if c is not None
                                    else {}
                                ),
                                "actionType": k,
                            }
                            for k, c, _v in not_matched
                        ]
                    ),
                    "notMatchedBySourcePredicates": json.dumps(
                        [
                            {
                                **(
                                    {"predicate": _predicate_sql(c)}
                                    if c is not None
                                    else {}
                                ),
                                "actionType": k,
                            }
                            for k, c, _v in nmbs
                        ]
                    ),
                },
            }
        }]
        if rt_meta_changed or meta_out is not None:
            # ONE metaData action carries both the evolved schema and
            # the rowTracking materialized-column config
            mo = meta_out if meta_out is not None else dict(state.metadata)
            if rt_meta_changed:
                mo["configuration"] = rt_cfg
            actions.append({"metaData": mo})

        staged: list[str] = []
        try:
            if touched_dv:
                upgrade = _dv_protocol_upgrade_action(state, mapping)
                if upgrade is not None:
                    actions.append(upgrade)
            next_row_id = _merge_rewrite_groups(
                spark=spark,
                base=base,
                path=path,
                state=state,
                touched=touched_rw,
                dec=dec,
                matched=matched,
                nmbs=nmbs,
                schema=schema,
                phys_schema=phys_schema,
                logical_to_phys=logical_to_phys,
                phys_part_cols=phys_part_cols,
                gen_cols=gen_cols,
                new_names=new_names,
                assigners=assigners,
                upd_idx=upd_idx,
                del_idx=del_idx,
                dv_ver=dv_ver,
                row_tracking=row_tracking,
                rid_col=rid_col,
                rcv_col=rcv_col,
                cdf_on=cdf_on,
                constraints=constraints,
                now_ms=now_ms,
                version=version,
                next_row_id=next_row_id,
                staged=staged,
                actions=actions,
                persisted=persisted,
                metrics=metrics,
            )
            if touched_dv:
                next_row_id = _merge_rewrite_groups(
                    spark=spark,
                    base=base,
                    path=path,
                    state=state,
                    touched=touched_dv,
                    dec=dec,
                    matched=matched,
                    nmbs=nmbs,
                    schema=schema,
                    phys_schema=phys_schema,
                    logical_to_phys=logical_to_phys,
                    phys_part_cols=phys_part_cols,
                    gen_cols=gen_cols,
                    new_names=new_names,
                    assigners=assigners,
                    upd_idx=upd_idx,
                    del_idx=del_idx,
                    dv_ver=dv_ver,
                    row_tracking=row_tracking,
                    rid_col=rid_col,
                    rcv_col=rcv_col,
                    cdf_on=cdf_on,
                    constraints=constraints,
                    now_ms=now_ms,
                    version=version,
                    next_row_id=next_row_id,
                    staged=staged,
                    actions=actions,
                    persisted=persisted,
                    metrics=metrics,
                    dv_mode=True,
                    touched_counts=touched_counts,
                    inline_threshold=inline_threshold,
                )
            next_row_id = _merge_inserts(
                spark=spark,
                base=base,
                path=path,
                rels=rels,
                tgt_scan=_tgt_scan,
                src=src,
                on_cond=on_cond,
                not_matched=not_matched,
                schema=schema,
                phys_schema=phys_schema,
                phys_part_cols=phys_part_cols,
                gen_cols=gen_cols,
                row_tracking=row_tracking,
                rid_col=rid_col,
                rcv_col=rcv_col,
                cdf_on=cdf_on,
                constraints=constraints,
                now_ms=now_ms,
                version=version,
                next_row_id=next_row_id,
                staged=staged,
                actions=actions,
                persisted=persisted,
                metrics=metrics,
            )

            n_adds = sum(1 for a in actions if "add" in a)
            n_removes = sum(1 for a in actions if "remove" in a)
            if n_adds == 0 and n_removes == 0:
                return state.version  # nothing matched any clause

            dv_files = int(metrics.get("dv_files", 0))
            op_metrics = {
                "numSourceRows": str(n_source_rows),
                "numTargetRowsUpdated": str(metrics["updated"]),
                "numTargetRowsInserted": str(metrics["inserted"]),
                # a DV file's remove+add pair is a mask update, not a
                # file removal
                "numTargetFilesRemoved": str(n_removes - dv_files),
                "numTargetFilesAdded": str(n_adds - dv_files),
            }
            if dv_files:
                op_metrics["numDeletionVectorsAdded"] = str(dv_files)
            removed_live = 0
            for rel in touched_rw:
                stats_s = (state.adds.get(rel) or {}).get("stats")
                n = None
                if stats_s:
                    try:
                        n = int(json.loads(stats_s)["numRecords"])
                    except Exception:
                        n = None
                if n is None:
                    try:
                        import pyarrow.parquet as _pq

                        n = _pq.ParquetFile(
                            os.path.join(base, rel)
                        ).metadata.num_rows
                    except Exception:
                        metrics["derivable"] = False
                        break
                card = int(
                    (state.dvs.get(rel) or {}).get("cardinality", 0)
                )
                removed_live += max(0, n - card)
            if metrics["derivable"]:
                # rewrites conserve non-deleted rows, so deletes fall
                # out of the arithmetic — no extra pass. DV groups:
                # mask growth counts updated+deleted positions, and the
                # replacement rows are exactly the updates
                op_metrics["numTargetRowsDeleted"] = str(
                    max(0, removed_live - metrics["rewritten_rows"])
                    + max(
                        0,
                        int(metrics.get("dv_mask_growth", 0))
                        - int(metrics.get("dv_rewritten", 0)),
                    )
                )
            actions[0]["commitInfo"]["operationMetrics"] = op_metrics

            if row_tracking:
                actions.append({
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": next_row_id - 1}
                        ),
                        "removed": False,
                    }
                })
            commit_path = os.path.join(
                _log_dir(path), f"{version:020d}.json"
            )
            _write_commit_file(commit_path, actions)
        except BaseException:
            for rel in staged:
                try:
                    os.remove(os.path.join(base, rel))
                except OSError:
                    pass
            raise
    finally:
        for frame in persisted:
            frame.unpersist(blocking=False)
        if dec is not None:
            dec.unpersist(blocking=False)
        if not caller_persisted:
            src.unpersist(blocking=False)
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        try:
            write_checkpoint(spark, path)
        except Exception:
            pass
    return version


def _dv_bin_rel(base: str, dv: dict | None) -> str | None:
    """The table-relative path of a u-storage deletion vector's .bin
    file, None for inline/absent descriptors (retention accounting —
    the same uuid derivation _resolve_dv_blob reads through)."""
    if not dv or dv.get("storageType") != "u":
        return None
    enc = dv["pathOrInlineDv"]
    prefix, uuid_z85 = enc[:-20], enc[-20:]
    uuid_hex = z85_decode(uuid_z85).hex()
    name = (
        f"{uuid_hex[0:8]}-{uuid_hex[8:12]}-{uuid_hex[12:16]}-"
        f"{uuid_hex[16:20]}-{uuid_hex[20:32]}"
    )
    return os.path.join(
        *([prefix] if prefix else []), f"deletion_vector_{name}.bin"
    )


def vacuum(
    spark: SparkSession, path: str, retain_hours: float | None = None
) -> list[str]:
    """Reclaim dead files. Two modes:

    - ``retain_hours=None`` (default, unchanged): remove ONLY ORPHANS —
      data files referenced by NO version of the log (a writer that
      crashed between staging and commit, or a concurrent-commit loser
      whose rollback was interrupted) plus leftover ``_staging-*``
      directories. Files referenced by any historical version are kept,
      so time travel to every committed version keeps working.
    - ``retain_hours=H`` (r11): ALSO remove files whose every log
      reference is OLDER than the horizon (now - H, against the same
      canonicalized non-decreasing commit timestamps TIMESTAMP AS OF
      resolves with) and which the current snapshot does not use —
      delta-spark's retention VACUUM semantics, except STRICTER: every
      file referenced by any retained-window commit is kept too, so
      time travel AND change-feed reads within the retention window
      keep working by construction (delta-spark only guarantees the
      current snapshot). Time travel PAST the horizon breaks, exactly
      as documented for delta-spark. Deletion-vector ``.bin`` files
      join the referenced-set accounting (live DVs and DVs referenced
      in the window are kept; expired ones reclaim); ``_change_data``
      files reclaim with their commits. Without a fresh checkpoint the
      log itself still references old versions — run ``write_checkpoint``
      + ``cleanup_log`` for the full lifecycle.

    Returns the removed paths (relative to the table root). Orphaned DV
    bins are still never reclaimed (an in-flight delete_rows stages its
    .bin BEFORE committing; reclaiming those would corrupt the racing
    writer) — only log-referenced-then-expired ones are."""
    import time as _time

    base = _local(path)
    log_dir = _log_dir(path)
    state = replay_log(spark, path)  # validates before touching files
    horizon_ms = (
        None
        if retain_hours is None
        else int(_time.time() * 1000) - int(retain_hours * 3_600_000)
    )
    referenced: set[str] = set()
    last_ref_ms: dict[str, int] = {}
    keep: set[str] = set()
    # current snapshot: data files + their live DV bins are untouchable
    keep.update(state.files)
    for dv in state.dvs.values():
        rel = _dv_bin_rel(base, dv)
        if rel:
            keep.add(rel)
    commits = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    )
    running_ts = -(1 << 62)
    for v, f in commits:
        cpath = os.path.join(log_dir, f)
        ts_ms = None
        acts: list[dict] = []
        with open(cpath) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action and ts_ms is None:
                    ts_ms = action["commitInfo"].get("timestamp")
                acts.append(action)
        if ts_ms is None:
            ts_ms = int(os.path.getmtime(cpath) * 1000)
        running_ts = max(running_ts, int(ts_ms))
        for action in acts:
            # cdc change files are referenced ONLY by their commit's
            # cdc actions (never by checkpoints — cdc is transient log
            # state): missing them here would reclaim live change data
            # out from under CDF readers. Once cleanup_log removes the
            # commit, its window is unreadable anyway and the
            # then-orphaned cdc files reclaim correctly.
            a = (
                action.get("add")
                or action.get("remove")
                or action.get("cdc")
            )
            if a:
                rel = urllib.parse.unquote(a["path"])
                referenced.add(rel)
                last_ref_ms[rel] = running_ts
                dv_rel = _dv_bin_rel(base, a.get("deletionVector"))
                if dv_rel:
                    referenced.add(dv_rel)
                    last_ref_ms[dv_rel] = running_ts
        if horizon_ms is not None and running_ts >= horizon_ms:
            # retained-window commit: everything it names stays
            for action in acts:
                a = (
                    action.get("add")
                    or action.get("remove")
                    or action.get("cdc")
                )
                if a:
                    keep.add(urllib.parse.unquote(a["path"]))
                    dv_rel = _dv_bin_rel(base, a.get("deletionVector"))
                    if dv_rel:
                        keep.add(dv_rel)
    for f in os.listdir(log_dir):
        if _CHECKPOINT_FILE_RE.match(f) or _CHECKPOINT_V2_RE.match(f):
            # every checkpoint layout (single-part, multi-part AND v2
            # UUID-named incl. sidecars): a table whose pre-checkpoint
            # commits were cleaned up is referenced ONLY here — missing
            # any form would delete every active file it names
            full = os.path.join(log_dir, f)
            if f.endswith(".json"):
                with open(full) as fh:
                    actions = [
                        json.loads(line) for line in fh if line.strip()
                    ]
            else:
                actions = _parquet_actions(spark, [full], ("add", "sidecar"))
            for action in _expand_sidecars(spark, log_dir, actions):
                if action.get("add"):
                    rel = urllib.parse.unquote(action["add"]["path"])
                    referenced.add(rel)
                    keep.add(rel)  # checkpoint state is always live
                    dv_rel = _dv_bin_rel(
                        base, action["add"].get("deletionVector")
                    )
                    if dv_rel:
                        referenced.add(dv_rel)
                        keep.add(dv_rel)
    removed: list[str] = []
    for entry in os.listdir(base):
        if entry.startswith("_staging-"):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            removed.append(entry)
    for root, dirs, names in os.walk(base):
        dirs[:] = [
            d for d in dirs
            if d != "_delta_log" and not d.startswith("_staging-")
        ]
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, name), base)
            if rel not in referenced:
                os.remove(os.path.join(root, name))
                removed.append(rel)
    if horizon_ms is not None:
        # referenced-but-expired: every log reference precedes the
        # horizon and the retained window does not use the file
        for rel in sorted(referenced - keep):
            if last_ref_ms.get(rel, horizon_ms) >= horizon_ms:
                continue
            full = os.path.join(base, rel)
            if os.path.isfile(full):
                os.remove(full)
                removed.append(rel)
    return removed


_CP_ADD_STRUCT = (
    "struct<path:string,partitionValues:map<string,string>,"
    "size:long,modificationTime:long,dataChange:boolean,"
    "stats:string,tags:map<string,string>,"
    "baseRowId:long,defaultRowCommitVersion:long,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:long,maxRowIndex:long>>"
)
_CP_STATE_STRUCTS = (
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>,"
    "createdTime:long>,"
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>,"
    "txn struct<appId:string,version:long,lastUpdated:long>,"
    "domainMetadata struct<domain:string,configuration:string,"
    "removed:boolean>"
)


def _write_actions_parquet(
    spark: SparkSession, log_dir: str, rows: list[dict], schema: str,
    dest: str,
) -> None:
    """Serialize action dicts through from_json into ONE parquet file at
    ``dest`` (stage-and-move, like every other commit artifact here)."""
    staging = os.path.join(log_dir, f"_cp-staging-{uuid.uuid4().hex}")
    (
        spark.createDataFrame([(json.dumps(r),) for r in rows], "raw string")
        .select(F.from_json("raw", schema).alias("a"))
        .select("a.*")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging)
    )
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), dest)
    shutil.rmtree(staging, ignore_errors=True)


def enable_v2_checkpoint(spark: SparkSession, path: str) -> int:
    """Commit a protocol upgrade adding the ``v2Checkpoint`` table
    feature (reader AND writer lists, per the public protocol's table
    features spec) AND setting ``delta.checkpointPolicy=v2`` in the
    table configuration — the property real writers key the layout off,
    committed together the way delta-spark's enablement does;
    subsequent ``write_checkpoint`` calls emit the UUID-named v2 layout
    the policy mandates. Preserves every feature already listed (a
    legacy writer-v2 protocol carries its implicit appendOnly/
    invariants forward, like delete_rows' upgrade). No-op returning the
    current version if both halves are already in place."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    reader_feats = set(proto.get("readerFeatures") or ())
    writer_feats = set(proto.get("writerFeatures") or ())
    config = dict((state.metadata or {}).get("configuration") or {})
    needs_cm = (
        _column_mapping_mode(state.metadata) != "none"
        or int(proto.get("minReaderVersion", 1)) == 2
    )
    if (
        "v2Checkpoint" in reader_feats
        and "v2Checkpoint" in writer_feats
        and config.get("delta.checkpointPolicy") == "v2"
        and (not needs_cm or (
            "columnMapping" in reader_feats
            and "columnMapping" in writer_feats
        ))
    ):
        return state.version
    reader_feats.add("v2Checkpoint")
    writer_feats.add("v2Checkpoint")
    if (pw := int(proto.get("minWriterVersion", 2))) < 7:
        # FULL implicit set of the legacy tier, not just v2's
        writer_feats |= _implicit_legacy_writer_features(pw)
    if needs_cm:
        # A legacy minReaderVersion=2 table (or any column-mapped one)
        # carries an IMPLICIT columnMapping reader requirement;
        # upgrading to reader v3 with only v2Checkpoint listed would
        # let a feature-gated reader resolve columns by logical name
        # and read NULLs. Mirror delete_rows' upgrade and make it
        # explicit. The no-op early return above ALSO requires this
        # half, so a table upgraded by the pre-fix code is repairable
        # by calling enable_v2_checkpoint again.
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")
    config["delta.checkpointPolicy"] = "v2"
    metadata = dict(state.metadata)
    metadata["configuration"] = config
    version = state.version + 1
    commit_path = os.path.join(_log_dir(path), f"{version:020d}.json")
    _write_commit_file(
        commit_path,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(reader_feats),
                    "writerFeatures": sorted(writer_feats),
                }
            },
            {"metaData": metadata},
        ],
    )
    return version


def cleanup_log(spark: SparkSession, path: str) -> list[str]:
    """The protocol's METADATA-CLEANUP counterpart to write_checkpoint:
    delete JSON commits and checkpoint files strictly BELOW the newest
    complete checkpoint, plus ``_sidecars/`` parquet files no retained
    checkpoint references — so a long-lived table's ``_delta_log`` stays
    bounded by checkpoint cadence instead of growing forever.

    Safety contract, checked before anything is deleted: the newest
    discovered checkpoint must actually PARSE (a present-but-corrupt
    file must not become the only route to the state). After cleanup,
    replay_log reconstructs (a) the latest state and (b) time travel AT
    any retained checkpoint version from checkpoints alone; versions
    below the horizon become unreachable with the existing clear
    gap/missing-version errors — the same contract as delta-spark's log
    cleanup, minus wall-clock retention (the caller decides WHEN).
    Returns removed names relative to ``_delta_log``. No-op (``[]``)
    when the table has no checkpoint."""
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a Delta table: {path!r} has no _delta_log directory"
        )
    cp = _discover_checkpoint(log_dir, None)
    if cp is None:
        return []
    horizon = cp[0]
    _read_checkpoint(spark, log_dir, cp[0], cp[1])  # must parse
    removed: list[str] = []
    for f in sorted(os.listdir(log_dir)):
        m = (
            _COMMIT_RE.match(f)
            or _CHECKPOINT_SINGLE_RE.match(f)
            or _CHECKPOINT_MULTI_RE.match(f)
            or _CHECKPOINT_V2_RE.match(f)
        )
        if m and int(m.group(1)) < horizon:
            os.remove(os.path.join(log_dir, f))
            removed.append(f)
    # sidecar GC: keep exactly the files some RETAINED v2 checkpoint
    # references (an older v2 checkpoint just deleted may have been the
    # only referent of its sidecars)
    side_dir = os.path.join(log_dir, "_sidecars")
    if os.path.isdir(side_dir):
        referenced: set[str] = set()
        for f in os.listdir(log_dir):
            m = _CHECKPOINT_V2_RE.match(f)
            if not m or int(m.group(1)) < horizon:
                continue
            full = os.path.join(log_dir, f)
            if f.endswith(".json"):
                with open(full) as fh:
                    actions = [
                        json.loads(line) for line in fh if line.strip()
                    ]
            else:
                actions = _parquet_actions(spark, [full], ("sidecar",))
            for a in actions:
                sc = a.get("sidecar")
                if sc:
                    p = urllib.parse.unquote(sc["path"])
                    referenced.add(p)
                    # a foreign manifest may reference by absolute path;
                    # keep the file either way
                    referenced.add(os.path.basename(p))
        for f in sorted(os.listdir(side_dir)):
            if f.endswith(".parquet") and f not in referenced:
                os.remove(os.path.join(side_dir, f))
                removed.append(os.path.join("_sidecars", f))
    return removed


def write_checkpoint(spark: SparkSession, path: str) -> int:
    """Materialize the current replayed state as a parquet checkpoint +
    ``_last_checkpoint`` pointer (the protocol's replay shortcut):
    subsequent reads replay from here instead of from version 0, so
    log-replay cost stays bounded by CHECKPOINT_INTERVAL no matter how
    many commits the table accumulates. Returns the checkpointed
    version.

    Layout follows the protocol's own rule: tables listing the
    ``v2Checkpoint`` reader feature get the V2 layout (r9) — a
    UUID-named top-level ``{v}.checkpoint.{uuid}.parquet`` holding the
    checkpointMetadata/protocol/metaData/txn/domainMetadata actions
    plus ONE ``sidecar`` reference whose ``_sidecars/{uuid}.parquet``
    carries the add actions — everything ``_read_checkpoint`` (and
    delta-spark's v2 reader) resolves. Every other table gets the
    feature-aware CLASSIC single-part layout (r8). Both carry the full
    state: files + DVs (descriptors incl. maxRowIndex) + stats/tags +
    rowTracking's per-file baseRowId/defaultRowCommitVersion + metadata
    + protocol + txn + domainMetadata."""
    state = replay_log(spark, path)
    proto = state.protocol or {}
    # layout switch: delta.checkpointPolicy is the property real
    # writers key off ('v2' mandates the v2 layout; 'classic' mandates
    # classic even with the feature listed); a feature-listed table
    # with NO explicit policy (some foreign enablements) defaults to v2
    # — the layout every v2Checkpoint-supporting reader must handle
    _policy = str(
        ((state.metadata or {}).get("configuration") or {}).get(
            "delta.checkpointPolicy", ""
        )
    )
    _has_v2_feature = "v2Checkpoint" in (proto.get("readerFeatures") or ())
    if _policy == "v2" and not _has_v2_feature:
        # the protocol gates WRITING v2 checkpoints on the table
        # feature; a foreign/malformed table saying policy=v2 without
        # listing it would strand feature-gated readers on a layout the
        # protocol never told them to support — refuse, don't guess
        raise NotImplementedError(
            "delta.checkpointPolicy=v2 is set but the v2Checkpoint "
            "reader feature is not listed; refusing to emit a v2 "
            "checkpoint the protocol does not authorize (run "
            "enable_v2_checkpoint, or fix the table's protocol)"
        )
    use_v2 = _has_v2_feature and _policy != "classic"
    # state-bearing gate: a checkpoint must REPRESENT every feature's
    # state (files+DVs+optional add fields+metadata+protocol+txn+
    # domainMetadata here); features whose state lives elsewhere or
    # that we've never seen must refuse, or cleanup of pre-checkpoint
    # commits silently erases them.
    unsafe = set(proto.get("writerFeatures") or ()) - _CHECKPOINT_SAFE
    if unsafe:
        raise NotImplementedError(
            f"writerFeatures {sorted(unsafe)} carry state this "
            "checkpoint writer does not represent (use delta-spark)"
        )
    # lossless-or-refuse gate (vs silent from_json field drops): every
    # key present in the replayed state must be representable by the
    # fixed checkpoint schema below, else replay-from-checkpoint would
    # diverge from JSON-log replay (delta-spark-authored add.stats/tags,
    # DV maxRowIndex, metaData name/description ARE represented; e.g. a
    # foreign writer's add.baseRowId or clusteringProvider is not)
    bad: set[str] = set()
    for rel in state.files:
        bad |= set(state.adds.get(rel, ())) - _CP_ADD_OPTIONAL
    for dv in state.dvs.values():
        bad |= {f"deletionVector.{k}" for k in set(dv) - _CP_DV_KEYS}
    bad |= {
        f"metaData.{k}" for k in set(state.metadata or ()) - _CP_META_KEYS
    }
    for t in state.txns.values():
        bad |= {f"txn.{k}" for k in set(t) - _CP_TXN_KEYS}
    for d in state.domains.values():
        bad |= {f"domainMetadata.{k}" for k in set(d) - _CP_DOMAIN_KEYS}
    if bad:
        raise NotImplementedError(
            f"replayed state of {path!r} carries action fields the "
            f"classic checkpoint schema does not represent: "
            f"{sorted(bad)}; refusing rather than writing a checkpoint "
            "that loses them relative to JSON-log replay (use "
            "delta-spark)"
        )

    base = _local(path)
    log_dir = _log_dir(path)

    def _size(rel: str) -> int:
        try:
            return os.path.getsize(os.path.join(base, rel))
        except OSError:
            return 0

    add_rows = [
        {
            "add": {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": pv,
                "size": _size(rel),
                "modificationTime": 0,
                "dataChange": False,
                "deletionVector": state.dvs.get(rel),
                **state.adds.get(rel, {}),
            },
        }
        for rel, pv in sorted(state.files.items())
    ]
    state_rows: list[dict] = [
        {"metaData": state.metadata},
        {
            "protocol": state.protocol
            or {"minReaderVersion": 1, "minWriterVersion": 2},
        },
    ]
    for app_id in sorted(state.txns):
        state_rows.append({"txn": state.txns[app_id]})
    for domain in sorted(state.domains):
        state_rows.append({"domainMetadata": state.domains[domain]})

    if use_v2:
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sidecar_dir, exist_ok=True)
        top_rows = [
            {"checkpointMetadata": {"version": state.version}}
        ] + state_rows
        sidecar_written: str | None = None
        if add_rows:
            sidecar_name = f"{uuid.uuid4()}.parquet"
            sidecar_path = os.path.join(sidecar_dir, sidecar_name)
            _write_actions_parquet(
                spark, log_dir,
                [{**r, "remove": None} for r in add_rows],
                f"add {_CP_ADD_STRUCT},"
                "remove struct<path:string,deletionTimestamp:long,"
                "dataChange:boolean>",
                sidecar_path,
            )
            sidecar_written = sidecar_path
            import time as _time

            top_rows.append({
                "sidecar": {
                    "path": sidecar_name,
                    "sizeInBytes": os.path.getsize(sidecar_path),
                    "modificationTime": int(_time.time() * 1000),
                }
            })
        cp_path = os.path.join(
            log_dir,
            f"{state.version:020d}.checkpoint.{uuid.uuid4()}.parquet",
        )
        try:
            _write_actions_parquet(
                spark, log_dir, top_rows,
                "checkpointMetadata struct<version:long,"
                "tags:map<string,string>>,"
                f"{_CP_STATE_STRUCTS},"
                "sidecar struct<path:string,sizeInBytes:long,"
                "modificationTime:long>",
                cp_path,
            )
        except BaseException:
            if sidecar_written:  # don't strand a referenced-by-nothing
                try:             # sidecar on a failed manifest write
                    os.remove(sidecar_written)
                except OSError:
                    pass
            raise
        size = len(top_rows) + len(add_rows)
    else:
        cp_path = os.path.join(
            log_dir, _CHECKPOINT_SINGLE.format(v=state.version)
        )
        _write_actions_parquet(
            spark, log_dir,
            [{**r, "metaData": None} for r in add_rows] + state_rows,
            f"add {_CP_ADD_STRUCT},{_CP_STATE_STRUCTS}",
            cp_path,
        )
        size = len(add_rows) + len(state_rows)
    tmp = os.path.join(log_dir, f"_last_checkpoint.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"version": state.version, "size": size}, fh)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return state.version


# ---- change data feed (emulated reader) ----------------------------------


def _diff_commit(state: TableState, actions: list[dict]) -> tuple:
    """Apply one commit's actions to ``state`` and categorize its
    row-level file changes (pure Python, no Spark):

    returns (inserted {rel: (pvals, new_dv)}, deleted {rel: (pvals,
    old_dv)}, dv_changed {rel: (pvals, old_dv, new_dv)}, ts_ms|None).
    dataChange=false actions (layout rewrites) never contribute."""
    ts_ms = next(
        (
            a["commitInfo"]["timestamp"]
            for a in actions
            if "commitInfo" in a
            and a["commitInfo"].get("timestamp") is not None
        ),
        None,
    )
    files_b, dvs_b = dict(state.files), dict(state.dvs)
    data_change: dict[str, bool] = {}
    for a in actions:
        act = a.get("add") or a.get("remove")
        if act is not None:
            rel = urllib.parse.unquote(act["path"])
            data_change[rel] = data_change.get(rel, False) or bool(
                act.get("dataChange", True)
            )
        _apply_action(state, a)
    inserted: dict[str, tuple] = {}
    deleted: dict[str, tuple] = {}
    dv_changed: dict[str, tuple] = {}
    for rel in state.files.keys() - files_b.keys():
        if data_change.get(rel):
            inserted[rel] = (state.files[rel], state.dvs.get(rel))
    for rel in files_b.keys() - state.files.keys():
        if data_change.get(rel):
            deleted[rel] = (files_b[rel], dvs_b.get(rel))
    for rel in state.files.keys() & files_b.keys():
        if data_change.get(rel) and _dv_uid(
            state.dvs.get(rel)
        ) != _dv_uid(dvs_b.get(rel)):
            dv_changed[rel] = (
                state.files[rel],
                dvs_b.get(rel),
                state.dvs.get(rel),
            )
    return inserted, deleted, dv_changed, ts_ms


def _schema_identity(schema_str: str) -> str:
    """Schema identity for change-window compatibility: field NAMES and
    TYPES, positionally, with nullability and field metadata stripped —
    a nullable-widened rewrite of the same columns is read-compatible
    and must not split a change window."""

    def strip(node):
        if isinstance(node, dict):
            return {
                k: strip(v)
                for k, v in node.items()
                if k not in ("nullable", "metadata")
            }
        if isinstance(node, list):
            return [strip(x) for x in node]
        return node

    return json.dumps(strip(json.loads(schema_str)), sort_keys=True)


def read_delta_changes(
    spark: SparkSession,
    path: str,
    start_version: int,
    end_version: int | None = None,
) -> DataFrame:
    """Row-level changes in ``[start_version, end_version]`` — the CDC
    primitive an incremental 100 TB consumer needs: read ONLY what a
    commit touched instead of diffing full snapshots.

    Computed from add/remove actions (the Delta spec's own fallback
    semantics for insert-only/delete-only commits), refined with
    deletion-vector diffs so a DV update yields exactly the rows it
    deleted (or restored), not a whole-file churn:

    - new file (dataChange)            -> its live rows as ``insert``
    - retired file (dataChange)        -> its previously-live rows as
      ``delete``
    - same file, DV changed            -> rows in (new minus old) as
      ``delete``; rows in (old minus new) as ``insert`` (restore)
    - ``dataChange=false`` actions (compaction/optimize rewrites) are
      layout moves, not changes: skipped entirely.

    Output: the table columns plus ``_change_type``, ``_commit_version``
    and ``_commit_timestamp`` (commitInfo timestamp, else the commit
    file's mtime). Commits carrying writer-materialized ``cdc`` actions
    (delta-spark UPDATE/MERGE/DELETE on a CDF-enabled table, or this
    writer's own delete_rows when delta.enableChangeDataFeed=true) are
    served FROM their change files exclusively — the spec's rule; their
    add/remove actions advance state but contribute no derived rows, so
    nothing double-counts. Change-file rows pass their ``_change_type``
    through verbatim, so ``update_preimage``/``update_postimage`` appear
    for foreign updates; commits WITHOUT cdc actions derive
    'insert'|'delete' as below (this writer's own appends/overwrites
    never need change files — their add/remove derivation is exact).

    Refuses on schema / partitioning / column-mapping changes inside a
    window that produces rows (per-commit schemas would otherwise union
    incoherently): split the read at the schema-change commit.

    Scale shape: one parquet scan per (commit, change class, partition
    tuple) over ONLY the changed files; DV diffs reuse the executor-side
    position expansion and broadcast-vs-shuffle valve of the main
    reader. Nothing driver-side grows beyond the file descriptors and
    the serialized DV containers.
    """
    base = _local(path)
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a Delta table: {path!r} has no _delta_log directory"
        )
    commit_map = {
        int(m.group(1)): os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    }
    if not commit_map:
        raise FileNotFoundError(f"empty _delta_log in {path!r}")
    latest = max(commit_map)
    end = latest if end_version is None else end_version
    if not (0 <= start_version <= end <= latest):
        raise ValueError(
            f"invalid change window [{start_version}, {end}] "
            f"(latest commit: {latest})"
        )
    state = (
        replay_log(spark, path, start_version - 1)
        if start_version > 0
        else TableState()
    )

    def _key(meta):
        return (
            _schema_identity(meta["schemaString"]),
            meta["schemaString"],
            tuple(meta.get("partitionColumns") or []),
            _column_mapping_mode(meta),
        )

    branches: list[tuple] = []
    schema_keys: set[tuple] = set()
    for v in range(start_version, end + 1):
        cpath = commit_map.get(v)
        if cpath is None:
            raise ValueError(
                f"commit {v} is missing from {log_dir} (cleaned up?) — "
                "row-level changes for it are unrecoverable"
            )
        with open(cpath) as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        cdc_files = {
            urllib.parse.unquote(a["cdc"]["path"]): (
                a["cdc"].get("partitionValues") or {}
            )
            for a in actions
            if "cdc" in a
        }
        key_before = _key(state.metadata) if state.metadata else None
        inserted, deleted, dv_changed, ts_ms = _diff_commit(state, actions)
        state.version = v
        if ts_ms is None:
            ts_ms = int(os.path.getmtime(cpath) * 1000)
        if cdc_files:
            # cdc actions are AUTHORITATIVE for their commit (the
            # spec's rule): serve the change files, ignore derivation —
            # deriving too would double-count
            assert state.metadata is not None
            schema_keys.add(_key(state.metadata))
            branches.append((v, ts_ms, None, None, None, cdc_files))
            continue
        if not (inserted or deleted or dv_changed):
            continue
        assert state.metadata is not None
        # each change class reads files written under a specific schema:
        # inserts under the post-commit one, deletes/DV-diffs under the
        # pre-commit one (those files predate this commit)
        if inserted:
            schema_keys.add(_key(state.metadata))
        if deleted or dv_changed:
            assert key_before is not None
            schema_keys.add(key_before)
        branches.append((v, ts_ms, inserted, deleted, dv_changed, None))

    if not branches:
        meta = state.metadata
        if meta is None:
            raise ValueError(f"no metaData action found in {log_dir}")
        empty_schema = T.StructType(
            list(T.StructType.fromJson(json.loads(meta["schemaString"])))
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ]
        )
        return spark.createDataFrame([], empty_schema)

    if len({(sid, pc, mm) for sid, _, pc, mm in schema_keys}) > 1:
        raise NotImplementedError(
            "schema / partitioning / column-mapping changed inside the "
            "change window (nullability-insensitive compare); split the "
            "read at the metadata-change commit"
        )
    _, schema_str, part_cols, mapping = next(iter(schema_keys))
    schema = T.StructType.fromJson(json.loads(schema_str))
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    phys_part_cols = [
        pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name in part_cols
    ]
    data_schema = T.StructType(
        [f for f in phys_schema.fields if f.name not in phys_part_cols]
    )
    types = {f.name: f.dataType for f in phys_schema.fields}

    def _scan(entries: dict[str, dict]) -> DataFrame:
        """Physical-schema scan of the given rel->partitionValues files
        with (__f, __i) keys materialized for DV joins."""
        by_group: dict[tuple, list[str]] = {}
        for rel, pvals in entries.items():
            key = tuple((pvals or {}).get(c) for c in phys_part_cols)
            by_group.setdefault(key, []).append(rel)
        parts = []
        for key, rels in sorted(by_group.items(), key=lambda kv: str(kv[0])):
            df = spark.read.schema(data_schema).parquet(
                *[os.path.join(base, rel) for rel in sorted(rels)]
            )
            df = df.selectExpr(
                "*",
                f"{_FILE_KEY_SQL} AS __f",
                "_metadata.row_index AS __i",
            )
            for c, vv in zip(phys_part_cols, key):
                df = df.withColumn(c, _typed_partition_lit(vv, types[c]))
            parts.append(
                df.select(
                    *[_quoted(f.name) for f in phys_schema.fields],
                    "__f",
                    "__i",
                )
            )
        out = parts[0]
        for b in parts[1:]:
            out = out.unionByName(b)
        return out

    to_logical = _renames(phys_schema, schema)

    def _dv_join(df: DataFrame, dv_map: dict[str, dict | None], how: str):
        present = {r: d for r, d in dv_map.items() if d}
        pos = _dv_positions(
            spark, base, _dv_verify(base, present), list(present)
        )
        if pos is None:
            return df if how == "left_anti" else df.filter(F.lit(False))
        return df.join(
            pos,
            (F.col("__f") == pos["__dv_file"])
            & (F.col("__i") == pos["__dv_idx"]),
            how,
        )

    def _finish(df: DataFrame, ctype: str, v: int, ts_ms: int) -> DataFrame:
        df = df.drop("__f", "__i")
        if mapping != "none":
            df = _cast_select(df, to_logical)
        return df.select(
            "*",
            F.lit(ctype).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(int(ts_ms))).alias(
                "_commit_timestamp"
            ),
        )

    def _scan_cdc(entries: dict[str, dict]) -> DataFrame:
        """Change-file scan: the data columns (physical names, like the
        data files they sit beside) plus the file-resident _change_type
        column; partition values injected from the cdc action, exactly
        like the data-file scan."""
        cdc_schema = T.StructType(
            list(data_schema.fields)
            + [T.StructField("_change_type", T.StringType())]
        )
        by_group: dict[tuple, list[str]] = {}
        for rel, pvals in entries.items():
            key = tuple((pvals or {}).get(c) for c in phys_part_cols)
            by_group.setdefault(key, []).append(rel)
        parts = []
        for key, rels in sorted(by_group.items(), key=lambda kv: str(kv[0])):
            df = spark.read.schema(cdc_schema).parquet(
                *[os.path.join(base, rel) for rel in sorted(rels)]
            )
            for c, vv in zip(phys_part_cols, key):
                df = df.withColumn(c, _typed_partition_lit(vv, types[c]))
            parts.append(
                df.select(
                    *[_quoted(f.name) for f in phys_schema.fields],
                    "_change_type",
                )
            )
        out = parts[0]
        for b in parts[1:]:
            out = out.unionByName(b)
        return out

    def _finish_cdc(df: DataFrame, v: int, ts_ms: int) -> DataFrame:
        if mapping != "none":
            df = _cast_select(df, to_logical, "_change_type")
        return df.select(
            *[_quoted(f.name) for f in schema.fields],
            F.col("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(int(ts_ms))).alias(
                "_commit_timestamp"
            ),
        )

    out_parts: list[DataFrame] = []
    for v, ts_ms, inserted, deleted, dv_changed, cdc_files in branches:
        if cdc_files:
            out_parts.append(_finish_cdc(_scan_cdc(cdc_files), v, ts_ms))
            continue
        if inserted:
            df = _scan({r: pv for r, (pv, _) in inserted.items()})
            df = _dv_join(
                df, {r: dv for r, (_, dv) in inserted.items()}, "left_anti"
            )
            out_parts.append(_finish(df, "insert", v, ts_ms))
        if deleted:
            df = _scan({r: pv for r, (pv, _) in deleted.items()})
            df = _dv_join(
                df, {r: dv for r, (_, dv) in deleted.items()}, "left_anti"
            )
            out_parts.append(_finish(df, "delete", v, ts_ms))
        if dv_changed:
            pvals = {r: pv for r, (pv, _, _) in dv_changed.items()}
            old = {r: o for r, (_, o, _) in dv_changed.items()}
            new = {r: nw for r, (_, _, nw) in dv_changed.items()}
            dels = _dv_join(
                _dv_join(_scan(pvals), new, "left_semi"), old, "left_anti"
            )
            out_parts.append(_finish(dels, "delete", v, ts_ms))
            if any(old.values()):
                restores = _dv_join(
                    _dv_join(_scan(pvals), old, "left_semi"),
                    new,
                    "left_anti",
                )
                out_parts.append(_finish(restores, "insert", v, ts_ms))
    out = out_parts[0]
    for b in out_parts[1:]:
        out = out.unionByName(b)
    return out


def latest_version(path: str) -> int:
    """Newest commit version present in the log (no replay)."""
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a Delta table: {path!r} has no _delta_log directory"
        )
    versions = [
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    ]
    if not versions:
        raise FileNotFoundError(f"empty _delta_log in {path!r}")
    return max(versions)


# ---- OPTIMIZE (bin-packing compaction + Z-order clustering) --------------


_MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_MAT_ROW_CV_KEY = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)


def _with_materialized_row_ids(
    spark: SparkSession,
    base: str,
    rels: list[str],
    adds: dict[str, dict],
    read_schema: T.StructType,
    rid_col: str,
    rcv_col: str,
    dv_ver: dict | None = None,
    keep_basename: bool = False,
    keep_position: bool = False,
    keep_path: bool = False,
) -> DataFrame:
    """Scan ``rels`` with each row's RESOLVED row-tracking identity
    materialized into ``rid_col``/``rcv_col`` (protocol rule: the
    file's materialized column value when non-null, else
    baseRowId + row position / defaultRowCommitVersion).

    ONE scan over all files + a broadcast join against a one-row-per-
    file descriptor frame (baseRowId, defaultRowCommitVersion keyed by
    part-file basename — globally unique within a table: every writer
    path stages through uuid-carrying part names), so the plan does not
    grow with file count the way a per-file union would. ``read_schema``
    must already include ``rid_col``/``rcv_col`` as nullable longs —
    parquet null-fills them for files that never materialized ids.
    Deletion vectors (``dv_ver``) apply BEFORE the join — the DV filter
    resolves ``_metadata`` columns, which joins sever. ``keep_basename``
    leaves the ``__rt_base`` key column for callers that need further
    per-file joins (partition-value injection) downstream;
    ``keep_position`` leaves ``__rt_idx`` (the parquet row position)
    for callers joining per-row decisions (merge_rows)."""
    basenames = [os.path.basename(r) for r in rels]
    if len(set(basenames)) != len(basenames):
        raise AssertionError(
            f"part-file basename collision among {rels!r}"
        )
    desc = spark.createDataFrame(
        [
            (
                os.path.basename(rel),
                (adds.get(rel) or {}).get("baseRowId"),
                (adds.get(rel) or {}).get("defaultRowCommitVersion"),
            )
            for rel in rels
        ],
        "__rt_base string, __rt_rid bigint, __rt_dcv bigint",
    )
    df = (
        spark.read.schema(read_schema)
        .parquet(*[os.path.join(base, r) for r in rels])
        .select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__rt_base"),
            F.col("_metadata.row_index").alias("__rt_idx"),
            *(
                [
                    F.expr(_FILE_KEY_SQL).alias("__rt_path")
                ]
                if keep_path
                else []
            ),
        )
    )
    if dv_ver:
        df = _apply_dv_filter(spark, df, base, dv_ver, rels)
    df = df.join(F.broadcast(desc), "__rt_base", "left")
    df = (
        df.withColumn(
            rid_col,
            F.coalesce(
                _quoted(rid_col), F.col("__rt_rid") + F.col("__rt_idx")
            ),
        )
        .withColumn(
            rcv_col, F.coalesce(_quoted(rcv_col), F.col("__rt_dcv"))
        )
        .drop("__rt_rid", "__rt_dcv")
    )
    if not keep_position:
        df = df.drop("__rt_idx")
    return df if keep_basename else df.drop("__rt_base")


def set_cluster_by(
    spark: SparkSession, path: str, columns: list[str]
) -> int:
    """ALTER TABLE ... CLUSTER BY (r11, the clusteredTable feature):
    record the clustering columns in the ``delta.clustering`` domain —
    PHYSICAL names under columnMapping, as the protocol stores them —
    and upgrade the protocol to list clusteredTable (+ its
    domainMetadata dependency). ``optimize()`` then defaults its
    Z-order rewrite to these columns, so a plain OPTIMIZE call is a
    clustering rewrite, delta-spark's contract. Pass ``[]`` to remove
    the clustering spec (CLUSTER BY NONE). Returns the committed
    version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    schema = state.schema
    mapping = _column_mapping_mode(state.metadata)
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    logical_to_phys = {
        f.name: pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    bad = [c for c in columns if c not in logical_to_phys]
    if bad:
        raise ValueError(f"cluster-by columns not in schema: {bad}")
    in_part = [c for c in columns if c in state.partition_columns]
    if in_part:
        raise ValueError(
            f"cluster-by columns {in_part} are partition columns — "
            "constant within every file, nothing to cluster"
        )
    import time as _time

    version = state.version + 1
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": int(_time.time() * 1000),
            "operation": "CLUSTER BY",
            "operationParameters": {
                "clusteringColumns": json.dumps(list(columns))
            },
        }
    }]
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    writer_feats = set(proto.get("writerFeatures") or ())
    if "clusteredTable" not in writer_feats or int(
        proto.get("minWriterVersion", 2)
    ) < 7:
        writer_feats |= {"clusteredTable", "domainMetadata"}
        if (pw := int(proto.get("minWriterVersion", 2))) < 7:
            writer_feats |= _implicit_legacy_writer_features(pw)
        pact = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(writer_feats),
        }
        if proto.get("readerFeatures"):
            pact["readerFeatures"] = proto["readerFeatures"]
        actions.append({"protocol": pact})
    actions.append({
        "domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                # physical names, nested-path arrays — the protocol's
                # stored form (top-level columns only here: nested
                # clustering keys don't exist in this engine's tables)
                {"clusteringColumns": [
                    [logical_to_phys[c]] for c in columns
                ]}
            ),
            "removed": False,
        }
    })
    _write_commit_file(
        os.path.join(_log_dir(path), f"{version:020d}.json"), actions
    )
    return version


def cluster_columns(spark: SparkSession, path: str) -> list[str]:
    """The table's clustering columns as LOGICAL names ([] when not a
    clustered table) — the delta.clustering domain's stored physical
    names translated back through the schema."""
    state = replay_log(spark, path)
    domain = state.domains.get("delta.clustering")
    if not domain or domain.get("removed"):
        return []
    stored = json.loads(domain.get("configuration") or "{}").get(
        "clusteringColumns"
    ) or []
    schema = state.schema
    mapping = _column_mapping_mode(state.metadata)
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    phys_to_logical = {
        pf.name: f.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    out = []
    for parts in stored:
        name = parts[0] if isinstance(parts, list) else parts
        out.append(phys_to_logical.get(name, name))
    return out


def read_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table's rows (logical schema) plus ``_row_id`` and
    ``_row_commit_version`` resolved per the rowTracking protocol rule:
    a file's materialized shadow-column value when non-null (written by
    row-id-preserving OPTIMIZE), else baseRowId + position within the
    file / defaultRowCommitVersion. Deletion vectors apply as in the
    normal reader, and a surviving row keeps the id it was assigned at
    ingest — across deletes, compactions and Z-ORDER rewrites.

    Plan shape: one parquet scan over the active files + a broadcast
    join against a one-row-per-file descriptor frame — no per-file plan
    growth. Refuses tables where some file carries NO assignment and NO
    materialized ids (foreign writer that ignored the feature)."""
    state = replay_log(spark, path, version)
    schema = state.schema
    mapping = _column_mapping_mode(state.metadata)
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    cfg = (state.metadata or {}).get("configuration") or {}
    rid_col = cfg.get(_MAT_ROW_ID_KEY) or f"_row-id-{uuid.uuid4().hex}"
    rcv_col = cfg.get(_MAT_ROW_CV_KEY) or f"_row-cv-{uuid.uuid4().hex}"
    rels = sorted(state.files)
    if not rels:
        empty = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_row_id", T.LongType()),
                T.StructField("_row_commit_version", T.LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    for rel in rels:
        extras = state.adds.get(rel) or {}
        if "baseRowId" not in extras and cfg.get(_MAT_ROW_ID_KEY) is None:
            raise ValueError(
                f"file {rel!r} carries no baseRowId and the table "
                "configures no materialized row-id column — row ids "
                "are undefined (was rowTracking ever enabled?)"
            )
    base = _local(path)
    phys_part_cols = [
        pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name in state.partition_columns
    ]
    data_fields = [
        f for f in phys_schema.fields if f.name not in phys_part_cols
    ]
    read_schema = T.StructType(
        data_fields
        + [
            T.StructField(rid_col, T.LongType()),
            T.StructField(rcv_col, T.LongType()),
        ]
    )
    dv_ver = _dv_verify(base, state.dvs) if state.dvs else None
    df = _with_materialized_row_ids(
        spark,
        base,
        rels,
        state.adds,
        read_schema,
        rid_col,
        rcv_col,
        dv_ver=dv_ver,
        keep_basename=bool(phys_part_cols),
    )
    # partition columns live in directory names, not the files; inject
    # them from each file's logged partitionValues via the same
    # basename-keyed broadcast descriptor
    if phys_part_cols:
        logical_parts = [
            (f, pf)
            for f, pf in zip(schema.fields, phys_schema.fields)
            if f.name in state.partition_columns
        ]
        pdesc = spark.createDataFrame(
            [
                tuple(
                    [os.path.basename(rel)]
                    + [
                        (state.files.get(rel) or {}).get(pf.name)
                        for _, pf in logical_parts
                    ]
                )
                for rel in rels
            ],
            T.StructType(
                [T.StructField("__rt_base", T.StringType())]
                + [
                    T.StructField(f"__rt_p{i}", T.StringType())
                    for i in range(len(logical_parts))
                ]
            ),
        )
        df = df.join(F.broadcast(pdesc), "__rt_base", "left")
        for i, (f, pf) in enumerate(logical_parts):
            df = df.withColumn(
                pf.name, F.col(f"__rt_p{i}").cast(f.dataType)
            )
        df = df.drop(
            "__rt_base", *[f"__rt_p{i}" for i in range(len(logical_parts))]
        )
    out_cols = [
        _quoted(pf.name).alias(f.name)
        for f, pf in zip(schema.fields, phys_schema.fields)
    ]
    return df.select(
        *out_cols,
        _quoted(rid_col).alias("_row_id"),
        _quoted(rcv_col).alias("_row_commit_version"),
    )


def optimize(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> dict:
    """Rewrite the table's physical layout without changing its rows:
    small files bin-pack toward ``target_file_bytes`` per partition, and
    with ``zorder_by`` every partition rewrites clustered on the Morton
    curve of those (logical) columns (operators/layout.py — the
    OPTIMIZE ZORDER composition). On a CLUSTERED table (set_cluster_by /
    the clusteredTable feature) a plain call defaults ``zorder_by`` to
    the declared clustering columns — delta-spark's contract that
    OPTIMIZE on a clustered table IS the clustering rewrite. Deletion vectors are MATERIALIZED:
    rewritten files carry only live rows and drop their DVs.

    The commit is remove+add with ``dataChange=false`` — invisible to
    the change feed (read_delta_changes skips it, by test), snapshots
    identical before and after, and the retired files stay on disk for
    time travel until a cleanup. At 100 TB this is the small-files
    remedy: scans pay per-file open cost and footer round trips, so a
    drip-fed table degrades until someone compacts it.

    rowTracking tables rewrite row-ID-PRESERVINGLY (r11): each row's
    resolved identity (its file's materialized shadow-column value when
    non-null, else baseRowId + position) is written into the protocol's
    materialized row-id / row-commit-version columns — named by the
    ``delta.rowTracking.materializedRowIdColumnName`` /
    ``...RowCommitVersionColumnName`` configuration, created on first
    use — and the rewritten adds take fresh baseRowId ranges from the
    ``delta.rowTracking`` domain watermark (delta-spark's scheme: the
    materialized values override the per-file defaults, so logical row
    ids survive merging and reordering; ``read_row_ids`` pins it).
    Derived stats/tags are droppable. Only same-partitionValues files
    ever merge. Returns ``{"version", "rewritten", "added"}`` (version
    None = nothing to do).
    """
    base = _local(path)
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    mapping = _column_mapping_mode(state.metadata)
    schema = state.schema
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    if zorder_by is None:
        # clusteredTable writer obligation (r11): a plain OPTIMIZE on a
        # clustered table IS a clustering rewrite on the declared
        # columns (set_cluster_by / the delta.clustering domain)
        domain = state.domains.get("delta.clustering")
        if domain and not domain.get("removed"):
            stored = json.loads(
                domain.get("configuration") or "{}"
            ).get("clusteringColumns") or []
            phys_to_logical = {
                pf.name: f.name
                for f, pf in zip(schema.fields, phys_schema.fields)
            }
            cols = [
                phys_to_logical.get(
                    p[0] if isinstance(p, list) else p,
                    p[0] if isinstance(p, list) else p,
                )
                for p in stored
            ]
            if cols:
                zorder_by = cols
    phys_part_cols = [
        pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name in state.partition_columns
    ]
    data_schema = T.StructType(
        [f for f in phys_schema.fields if f.name not in phys_part_cols]
    )
    logical_to_phys = {
        f.name: pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    if zorder_by:
        bad = [c for c in zorder_by if c not in logical_to_phys]
        if bad:
            raise ValueError(f"zorder_by columns not in schema: {bad}")
        in_part = [c for c in zorder_by if c in state.partition_columns]
        if in_part:
            raise ValueError(
                f"zorder_by columns {in_part} are partition columns — "
                "they are constant within every rewrite group"
            )

    sizes = {
        rel: int((state.adds.get(rel) or {}).get("size", 0))
        for rel in state.files
    }
    # fall back to the filesystem when the add didn't carry size
    for rel in sizes:
        if sizes[rel] <= 0:
            try:
                sizes[rel] = os.path.getsize(os.path.join(base, rel))
            except OSError:
                sizes[rel] = 0

    by_part: dict[tuple, list[str]] = {}
    for rel, pvals in state.files.items():
        key = tuple(sorted((pvals or {}).items()))
        by_part.setdefault(key, []).append(rel)

    groups: list[tuple[dict, list[str]]] = []  # (pvals, rels to rewrite)
    for key, rels in sorted(by_part.items()):
        pvals = dict(key)
        if zorder_by:
            if len(rels) >= 1:
                groups.append((pvals, sorted(rels)))
            continue
        small = sorted(
            r for r in rels
            if sizes[r] < target_file_bytes or r in state.dvs
        )
        # bin-pack: rewrite when something merges or a DV materializes
        if len(small) >= 2 or any(r in state.dvs for r in small):
            groups.append((pvals, small))

    if not groups:
        return {"version": None, "rewritten": 0, "added": 0}

    undroppable = ("baseRowId", "defaultRowCommitVersion")
    row_tracking = "rowTracking" in set(
        (state.protocol or {}).get("writerFeatures") or ()
    )
    ids_carried = any(
        k in (state.adds.get(rel) or {})
        for _, rels in groups
        for rel in rels
        for k in undroppable
    )
    if ids_carried and not row_tracking:
        # ids without the feature: a foreign anomaly this writer cannot
        # rewrite protocol-correctly (no feature, no config keys)
        raise NotImplementedError(
            "optimize would rewrite files carrying baseRowId/"
            "defaultRowCommitVersion on a table whose protocol does "
            "not list rowTracking — cannot preserve row identity "
            "without the feature's materialized-column machinery"
        )
    rt_cfg = dict((state.metadata or {}).get("configuration") or {})
    rid_col = rt_cfg.get(_MAT_ROW_ID_KEY)
    rcv_col = rt_cfg.get(_MAT_ROW_CV_KEY)
    rt_meta_changed = False
    if row_tracking:
        # row-ID-PRESERVING rewrite (r11): each row's resolved identity
        # (materialized value, else baseRowId + position) is written
        # into the protocol's materialized shadow columns — named by
        # table configuration, created here on first use, invisible to
        # normal reads (every reader scans with the table schema, so
        # parquet prunes them). The rewritten adds then take FRESH
        # baseRowId ranges (delta-spark's scheme: the materialized
        # values override the defaults, so logical ids survive any
        # reordering or merging of files).
        if rid_col is None:
            rid_col = f"_row-id-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_ID_KEY] = rid_col
            rt_meta_changed = True
        if rcv_col is None:
            rcv_col = f"_row-commit-version-col-{uuid.uuid4().hex}"
            rt_cfg[_MAT_ROW_CV_KEY] = rcv_col
            rt_meta_changed = True

    import time as _time

    dv_ver = _dv_verify(base, state.dvs) if state.dvs else {}
    now_ms = int(_time.time() * 1000)
    version = state.version + 1
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "OPTIMIZE",
            "operationParameters": {
                "targetFileBytes": int(target_file_bytes),
                "zorderBy": list(zorder_by or []),
            },
        }
    }]
    if rt_meta_changed:
        meta_out = dict(state.metadata)
        meta_out["configuration"] = rt_cfg
        actions.append({"metaData": meta_out})
    next_row_id = 0
    if row_tracking:
        domain = state.domains.get("delta.rowTracking")
        if domain and not domain.get("removed"):
            next_row_id = int(
                json.loads(domain.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            ) + 1
    n_added = 0
    n_rewritten = 0
    for pvals, rels in groups:
        if row_tracking:
            rt_read_schema = T.StructType(
                list(data_schema.fields)
                + [
                    T.StructField(rid_col, T.LongType()),
                    T.StructField(rcv_col, T.LongType()),
                ]
            )
            df = _with_materialized_row_ids(
                spark,
                base,
                rels,
                state.adds,
                rt_read_schema,
                rid_col,
                rcv_col,
                dv_ver=dv_ver,
            )
        else:
            df = spark.read.schema(data_schema).parquet(
                *[os.path.join(base, r) for r in rels]
            )
            df = _apply_dv_filter(spark, df, base, dv_ver, rels)
        total = sum(sizes[r] for r in rels)
        n_out = max(1, -(-total // target_file_bytes))
        if zorder_by:
            from lcr_etl_upgrade_spark.operators.layout import optimize_layout

            df = optimize_layout(
                df,
                [logical_to_phys[c] for c in zorder_by],
                n_out,
                bits=zorder_bits,
            )
        else:
            df = df.coalesce(n_out)
        # stage flat, then move into this partition's hive directory so
        # the layout invariant every reader fast-path relies on holds
        part_dir = os.path.dirname(rels[0])
        staging = os.path.join(base, f"_staging-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        try:
            for name in sorted(os.listdir(staging)):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(staging, name)
                rel_new = os.path.join(part_dir, name) if part_dir else name
                dst = os.path.join(base, rel_new)
                os.makedirs(os.path.dirname(dst) or base, exist_ok=True)
                size = os.path.getsize(src)
                shutil.move(src, dst)
                add = {
                    "path": urllib.parse.quote(rel_new, safe="/="),
                    "partitionValues": pvals,
                    "size": size,
                    "modificationTime": now_ms,
                    "dataChange": False,
                }
                stats = _file_stats_json(dst)
                if stats is not None:
                    add["stats"] = stats
                if row_tracking:
                    if stats is None:
                        raise NotImplementedError(
                            f"the table at {path!r} demands rowTracking "
                            f"but the rewritten file {rel_new!r} yielded "
                            "no readable footer statistics to size its "
                            "baseRowId range; refusing rather than "
                            "committing colliding row ids"
                        )
                    n_records = int(json.loads(stats)["numRecords"])
                    add["baseRowId"] = next_row_id
                    add["defaultRowCommitVersion"] = version
                    next_row_id += n_records
                actions.append({"add": add})
                n_added += 1
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        for rel in rels:
            remove = {
                "path": urllib.parse.quote(rel, safe="/="),
                "deletionTimestamp": now_ms,
                "dataChange": False,
            }
            if rel in state.dvs:
                remove["deletionVector"] = state.dvs[rel]
            actions.append({"remove": remove})
            n_rewritten += 1
    if row_tracking and n_added:
        actions.append({
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": next_row_id - 1}
                ),
                "removed": False,
            }
        })
    actions[0]["commitInfo"]["operationMetrics"] = {
        "numRemovedFiles": str(n_rewritten),
        "numAddedFiles": str(n_added),
    }
    commit_path = os.path.join(_log_dir(path), f"{version:020d}.json")
    _write_commit_file(commit_path, actions)
    return {"version": version, "rewritten": n_rewritten, "added": n_added}


# ---------------------------------------------------------------------------
# ALTER TABLE commands (round 12): pure-metadata schema/constraint
# changes. None of these touches a data file — add/rename/drop column
# are one metaData commit (rename/drop REQUIRE column mapping, the
# protocol's rule: physical parquet names must stay resolvable), and
# ADD CONSTRAINT validates the EXISTING rows first (one scan), which
# delta-spark also requires — an unvalidated constraint would make
# every later rewrite of an old file fail retroactively.
# ---------------------------------------------------------------------------


def _identifier_referenced(name: str, sql: str) -> bool:
    """Crude-but-safe word-boundary check for a column identifier in a
    constraint / generation expression. Errs toward refusal."""
    return re.search(
        rf"(?i)(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_`])", sql
    ) is not None


def _schema_references(
    schema: T.StructType, metadata: dict, name: str
) -> list[str]:
    """Human-readable list of constraint/generated-column expressions
    that reference ``name``."""
    refs = []
    for key, sql in (metadata.get("configuration") or {}).items():
        if key.startswith("delta.constraints.") and _identifier_referenced(
            name, sql
        ):
            refs.append(f"CHECK constraint {key.split('.', 2)[2]!r} ({sql!r})")
    for gname, gexpr in _generated_columns(schema):
        if gname != name and _identifier_referenced(name, gexpr):
            refs.append(f"generated column {gname!r} ({gexpr!r})")
    return refs


def _alter_commit(
    path: str, state, meta_out: dict, operation: str, params: dict,
    extra_actions: list[dict] | None = None,
) -> int:
    import time as _time

    version = state.version + 1
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": int(_time.time() * 1000),
            "operation": operation,
            "operationParameters": params,
        }
    }]
    actions.extend(extra_actions or [])
    actions.append(
        {
            "metaData": _fold_lineage_names(
                meta_out, state.historical_physical_names
            )
        }
    )
    _write_commit_file(
        os.path.join(_log_dir(path), f"{version:020d}.json"), actions
    )
    return version


def add_columns(
    spark: SparkSession, path: str, fields: list[T.StructField]
) -> int:
    """ALTER TABLE ... ADD COLUMNS: extend the schema with nullable
    columns in one metaData commit; every existing file reads them as
    null. Same gates as merge_schema appends: case clashes refuse, as
    do new columns carrying invariants / identity / generation
    metadata (existing rows would retroactively violate them) and
    non-nullable fields. Under column mapping new fields draw fresh
    ids above maxColumnId. Returns the committed version."""
    if not fields:
        raise ValueError("add_columns needs at least one field")
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    schema = state.schema
    mapping = _column_mapping_mode(state.metadata)
    existing = {f.name for f in schema.fields}
    first_lower: dict[str, str] = {}
    for c in existing:
        first_lower.setdefault(c.lower(), c)
    for f in fields:
        if f.name in existing:
            raise ValueError(f"column {f.name!r} already exists")
        if f.name.lower() in first_lower:
            raise ValueError(
                f"new column {f.name!r} differs only in case from "
                f"existing column {first_lower[f.name.lower()]!r}"
            )
        if not f.nullable:
            raise ValueError(
                f"new column {f.name!r} is non-nullable; existing rows "
                "could not be distinguished from the nulls they read as"
            )
    probe = T.StructType(list(fields))
    if (
        _schema_declares_invariants(probe)
        or _identity_columns(probe)
        or _generated_columns(probe)
    ):
        raise ValueError(
            "new columns carry delta.invariants, delta.identity, or "
            "delta.generationExpression metadata; existing rows read "
            "them as null and would retroactively violate them — add "
            "the column, backfill, then add the obligation"
        )
    new_schema = T.StructType(list(schema.fields) + list(fields))
    meta_out = dict(state.metadata)
    if mapping != "none":
        cfg = dict(meta_out.get("configuration") or {})
        prior_max = max(
            int(cfg.get("delta.columnMapping.maxColumnId", 0)),
            _max_mapped_id(schema),
        )
        counter = [prior_max + 1]
        new_schema = _mapped_schema(new_schema, schema, counter)
        cfg["delta.columnMapping.maxColumnId"] = max(
            _max_mapped_id(new_schema), prior_max
        )
        meta_out["configuration"] = cfg
    meta_out["schemaString"] = new_schema.json()
    return _alter_commit(
        path, state, meta_out, "ADD COLUMNS",
        {"columns": json.dumps([f.name for f in fields])},
    )


def rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN: a pure-metadata rename — the
    field keeps its columnMapping id and physicalName, so every
    existing parquet file stays resolvable and TIME TRAVEL still reads
    the old name at old versions. REQUIRES column mapping (the
    protocol's rule: without it the logical name IS the parquet name).
    Refuses when a CHECK constraint or generated-column expression
    references the old name (drop/redefine those first, as delta-spark
    requires). Returns the committed version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("name", "id"):
        raise NotImplementedError(
            "RENAME COLUMN requires delta.columnMapping.mode name/id "
            "(without mapping the logical name is the physical parquet "
            "name); enable column mapping first"
        )
    schema = state.schema
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    lower = {c.lower() for c in names if c != old}
    if new.lower() in lower:
        raise ValueError(
            f"new name {new!r} differs only in case from an existing "
            "column"
        )
    refs = _schema_references(schema, state.metadata, old)
    if refs:
        raise ValueError(
            f"column {old!r} is referenced by {'; '.join(refs)} — drop "
            "or redefine those first"
        )
    new_fields = [
        T.StructField(
            new if f.name == old else f.name,
            f.dataType,
            f.nullable,
            f.metadata,
        )
        for f in schema.fields
    ]
    meta_out = dict(state.metadata)
    meta_out["schemaString"] = T.StructType(new_fields).json()
    if old in (state.partition_columns or []):
        meta_out["partitionColumns"] = [
            new if c == old else c for c in state.partition_columns
        ]
    return _alter_commit(
        path, state, meta_out, "RENAME COLUMN",
        {"oldColumnPath": old, "newColumnPath": new},
    )


def drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN: pure-metadata drop — the physical
    parquet data stays on disk (time travel still reads it at old
    versions) but the column leaves the schema. REQUIRES column
    mapping; a column re-added later under the SAME logical name draws
    a FRESH id and physical name, so it never resurrects the dropped
    data (the protocol's rule). Refuses for partition columns, columns
    referenced by constraints / generated columns, and the last
    remaining column. Returns the committed version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    mapping = _column_mapping_mode(state.metadata)
    if mapping not in ("name", "id"):
        raise NotImplementedError(
            "DROP COLUMN requires delta.columnMapping.mode name/id "
            "(without mapping, readers would resolve the physical "
            "column by its logical name again); enable mapping first"
        )
    schema = state.schema
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    if name in (state.partition_columns or []):
        raise ValueError(
            f"column {name!r} is a partition column; repartition via "
            "overwrite instead"
        )
    if len(names) == 1:
        raise ValueError("cannot drop the last remaining column")
    refs = _schema_references(schema, state.metadata, name)
    if refs:
        raise ValueError(
            f"column {name!r} is referenced by {'; '.join(refs)} — drop "
            "or redefine those first"
        )
    meta_out = dict(state.metadata)
    meta_out["schemaString"] = T.StructType(
        [f for f in schema.fields if f.name != name]
    ).json()
    return _alter_commit(
        path, state, meta_out, "DROP COLUMNS",
        {"columns": json.dumps([name])},
    )


def add_check_constraint(
    spark: SparkSession, path: str, name: str, sql: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT: validate the EXISTING rows (one
    scan — a row violates when the expression is not <=> TRUE,
    delta-spark's null-violates semantics), then commit the
    ``delta.constraints.<name>`` configuration, upgrading the writer
    protocol to cover checkConstraints (legacy tier 3, or the feature
    on v7 tables). Every later write enforces it via the staging-write
    observer. Returns the committed version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    key = f"delta.constraints.{name.lower()}"
    cfg = dict((state.metadata or {}).get("configuration") or {})
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists")
    live = read_delta_lite(spark, path)
    try:
        bad = live.filter(
            ~F.expr(sql).eqNullSafe(F.lit(True))
        ).count()
    except Exception as exc:
        raise ValueError(
            f"constraint expression {sql!r} does not analyze against "
            f"the table schema: {exc}"
        ) from exc
    if bad:
        raise ValueError(
            f"{bad} existing row(s) violate {sql!r}; backfill first "
            "(delta-spark refuses unvalidated constraints too)"
        )
    cfg[key] = sql
    meta_out = dict(state.metadata)
    meta_out["configuration"] = cfg
    extra: list[dict] = []
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    writer_v = int(proto.get("minWriterVersion", 2))
    if writer_v == 7:
        feats = set(proto.get("writerFeatures") or ())
        if "checkConstraints" not in feats:
            feats.add("checkConstraints")
            pact = dict(proto)
            pact["writerFeatures"] = sorted(feats)
            extra.append({"protocol": pact})
    elif writer_v < 3:
        pact = dict(proto)
        pact["minWriterVersion"] = 3
        extra.append({"protocol": pact})
    return _alter_commit(
        path, state, meta_out, "ADD CONSTRAINT",
        {"name": name.lower(), "expr": sql},
        extra_actions=extra,
    )


def drop_check_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT. Returns the committed
    version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    key = f"delta.constraints.{name.lower()}"
    cfg = dict((state.metadata or {}).get("configuration") or {})
    if key not in cfg:
        raise ValueError(f"no constraint {name!r} on {path!r}")
    cfg.pop(key)
    meta_out = dict(state.metadata)
    meta_out["configuration"] = cfg
    return _alter_commit(
        path, state, meta_out, "DROP CONSTRAINT",
        {"name": name.lower()},
    )


# Properties whose ENABLEMENT obligates a writer feature the commit
# must also declare (delta-spark's SET TBLPROPERTIES does the same
# implicit protocol upgrade). readerFeature is None for writer-only
# features.
_PROPERTY_FEATURES: dict[str, tuple[str, str | None]] = {
    "delta.enablechangedatafeed": ("changeDataFeed", None),
    "delta.enabledeletionvectors": ("deletionVectors", "deletionVectors"),
    "delta.appendonly": ("appendOnly", None),
}


def set_table_properties(
    spark: SparkSession,
    path: str,
    set_props: dict[str, str] | None = None,
    unset: tuple[str, ...] | list[str] = (),
) -> int:
    """ALTER TABLE ... SET/UNSET TBLPROPERTIES (r13): one metaData
    commit updating the table configuration. Completes the ALTER family
    — and is the public enablement path for the feature-gated write
    behaviors (``delta.enableChangeDataFeed`` for CDF writes,
    ``delta.enableDeletionVectors`` for update_rows' DV path,
    ``delta.appendOnly``): enabling one of those upgrades the protocol
    to carry its feature in the same commit, exactly as delta-spark's
    SET TBLPROPERTIES does implicitly.

    Refusals (each names the right tool): ``delta.columnMapping.*``
    (mode changes are a migration, not a property set),
    ``delta.constraints.*`` (add_check_constraint validates existing
    rows first), ``delta.enableRowTracking`` (enablement requires a
    baseRowId backfill this command does not perform — write the table
    with row tracking instead). Returns the committed version."""
    state = replay_log(spark, path)
    _check_writer_protocol(state.protocol, path)
    set_props = dict(set_props or {})
    cfg = dict((state.metadata or {}).get("configuration") or {})
    for key in list(set_props) + list(unset):
        low = key.lower()
        if low.startswith("delta.columnmapping."):
            raise NotImplementedError(
                f"{key!r}: column-mapping mode changes are a table "
                "migration, not a property set — create the table with "
                "column_mapping= instead"
            )
        if low.startswith("delta.constraints."):
            raise ValueError(
                f"{key!r}: use add_check_constraint / "
                "drop_check_constraint (constraints must validate "
                "existing rows)"
            )
        if low == "delta.enablerowtracking":
            raise NotImplementedError(
                f"{key!r}: enabling row tracking on an existing table "
                "requires a baseRowId backfill; write the table with "
                "row tracking from the start instead"
            )
    for key in unset:
        # delta-spark's UNSET is lenient about absent keys; matching
        # case-insensitively would mutate keys we don't own, so exact
        cfg.pop(key, None)
    cfg.update({str(k): str(v) for k, v in set_props.items()})

    # implicit protocol obligations for newly-enabled feature gates
    proto = state.protocol or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    reader_feats = set(proto.get("readerFeatures") or ())
    writer_feats = set(proto.get("writerFeatures") or ())
    need: list[tuple[str, str | None]] = []
    for k, v in set_props.items():
        feat = _PROPERTY_FEATURES.get(k.lower())
        if feat and str(v).lower() == "true":
            wf, rf = feat
            implied = wf in writer_feats or (
                wf == "changeDataFeed"
                and int(proto.get("minWriterVersion", 2)) >= 4
            ) or (
                wf == "appendOnly"
                and int(proto.get("minWriterVersion", 2)) >= 2
            )
            if not implied:
                need.append(feat)
    extra_actions: list[dict] = []
    if need:
        for wf, rf in need:
            writer_feats.add(wf)
            if rf:
                reader_feats.add(rf)
        if (pw := int(proto.get("minWriterVersion", 2))) < 7:
            # legacy upgrade carries the FULL implicit feature set of
            # its tier, or downstream writers stop enforcing
            writer_feats |= _implicit_legacy_writer_features(pw)
        if reader_feats and (
            _column_mapping_mode(state.metadata) != "none"
            or int(proto.get("minReaderVersion", 1)) == 2
        ):
            # a column-mapped (or legacy reader-v2) table upgrading to
            # reader v3 must list its implicit columnMapping requirement
            reader_feats.add("columnMapping")
            writer_feats.add("columnMapping")
        new_proto: dict = {
            "minReaderVersion": 3
            if reader_feats
            else int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            "writerFeatures": sorted(writer_feats),
        }
        if reader_feats:
            new_proto["readerFeatures"] = sorted(reader_feats)
        extra_actions.append({"protocol": new_proto})

    meta_out = dict(state.metadata)
    meta_out["configuration"] = cfg
    return _alter_commit(
        path,
        state,
        meta_out,
        "SET TBLPROPERTIES" if set_props else "UNSET TBLPROPERTIES",
        {
            "properties": json.dumps(set_props)
            if set_props
            else json.dumps(sorted(unset)),
        },
        extra_actions=extra_actions,
    )


def table_detail(spark: SparkSession, path: str) -> dict:
    """DESCRIBE DETAIL parity: one dict from the replayed state —
    format/id/name/description, location, created/modified times,
    partition columns, active file count and total bytes, table
    properties, protocol versions and features, clustering columns.
    Pure metadata plus the add-action sizes already in the log; no data
    file is opened."""
    state = replay_log(spark, path)
    meta = state.metadata or {}
    cfg = dict(meta.get("configuration") or {})
    proto = state.protocol or {}
    log = _log_dir(path)
    created = None
    try:
        v0 = os.path.join(log, f"{0:020d}.json")
        with open(v0) as fh:
            for ln in fh:
                a = json.loads(ln)
                if "commitInfo" in a:
                    created = a["commitInfo"].get("timestamp")
                    break
    except OSError:
        pass
    last_modified = None
    for rec in table_history(path)[:1]:
        last_modified = rec.get("timestamp")
    sizes = 0
    for rel in state.files:
        extras = state.adds.get(rel) or {}
        s = extras.get("size")
        if s is None:
            try:
                s = os.path.getsize(os.path.join(_local(path), rel))
            except OSError:
                s = 0
        sizes += int(s)
    clustering = None
    dom = state.domains.get("delta.clustering")
    if dom and not dom.get("removed"):
        try:
            clustering = json.loads(dom.get("configuration") or "{}").get(
                "clusteringColumns"
            )
        except Exception:
            clustering = None
    return {
        "format": "delta",
        "id": meta.get("id"),
        "name": meta.get("name"),
        "description": meta.get("description"),
        "location": os.path.abspath(_local(path)),
        "createdAt": created,
        "lastModified": last_modified,
        "partitionColumns": list(state.partition_columns or []),
        "clusteringColumns": clustering,
        "numFiles": len(state.files),
        "sizeInBytes": sizes,
        "properties": cfg,
        "minReaderVersion": proto.get("minReaderVersion"),
        "minWriterVersion": proto.get("minWriterVersion"),
        "tableFeatures": sorted(
            set(proto.get("readerFeatures") or ())
            | set(proto.get("writerFeatures") or ())
        ),
        "version": state.version,
    }


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: T.StructType | None = None,
) -> int:
    """CONVERT TO DELTA: generate a transaction log IN PLACE for an
    existing parquet directory — no data file is read row-wise, moved,
    or rewritten (footer peeks only, for schema and stats), which is
    the entire point at 100 TB: onboarding a parquet lake into the
    transactional world costs metadata, not a copy.

    - flat directories convert as-is; hive-partitioned layouts need
      ``partition_schema`` declaring the partition columns and their
      types (delta-spark's requirement too — directory names cannot be
      typed reliably on their own);
    - every ``*.parquet`` file under the root (excluding ``_delta_log``
      and files starting with ``_`` or ``.``) becomes an add action
      with size, modificationTime, and footer stats;
    - the data schema comes from Spark's parquet schema inference over
      the directory, partition columns appended from
      ``partition_schema``;
    - refuses when a ``_delta_log`` already exists.

    Returns the committed version (0)."""
    import time as _time

    base = _local(path)
    log = _log_dir(path)
    if os.path.isdir(log) and any(
        f.endswith(".json") or f.endswith(".parquet")
        for f in os.listdir(log)
    ):
        raise ValueError(
            f"{path!r} already has a _delta_log; CONVERT TO DELTA only "
            "initializes plain parquet directories"
        )
    part_cols = [f.name for f in (partition_schema or T.StructType())]
    rels: list[tuple[str, dict]] = []
    for root, dirs, names in os.walk(base):
        dirs[:] = [
            d for d in dirs if not d.startswith((".", "_"))
        ]
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(root, name), base)
            pvals = (
                _partition_values_from_rel(rel, part_cols)
                if part_cols
                else {}
            )
            rels.append((rel, pvals))
    if not rels:
        raise ValueError(f"no parquet files under {path!r}")
    if not part_cols:
        hive_like = [
            rel
            for rel, _pv in rels
            if re.search(r"(^|/)[^/=]+=[^/]*/", rel.replace(os.sep, "/"))
        ]
        if hive_like:
            raise ValueError(
                "the directory looks hive-partitioned "
                f"(e.g. {hive_like[0]!r}); pass partition_schema= with "
                "the partition columns and their types — converting "
                "without it would silently drop them"
            )
    if part_cols:
        # segment-exact: a directory token 'aa=1' must NOT satisfy a
        # declared partition column 'a' (substring matching mis-passed
        # suffix-named columns and then mis-extracted values — r13
        # ADVICE low)
        missing = [
            rel
            for rel, pv in rels
            if any(
                not any(
                    seg.startswith(f"{c}=")
                    for seg in rel.replace(os.sep, "/").split("/")[:-1]
                )
                for c in part_cols
            )
        ]
        if missing:
            raise ValueError(
                f"files outside the hive partition layout for "
                f"{part_cols}: {missing[:3]}"
            )
    # schema across ALL footers, not one sample file: schema-evolved
    # directories carry columns only some files have, and delta-spark's
    # CONVERT merges every footer. mergeSchema runs the footer reads as
    # a distributed job (no row data is read); genuinely incompatible
    # footers (int vs string) fail loudly here instead of silently
    # losing columns (r13 ADVICE medium).
    data_schema = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(base, rel) for rel, _pv in rels])
        .schema
    )
    clash = [f.name for f in data_schema.fields if f.name in part_cols]
    if clash:
        raise ValueError(
            f"partition columns {clash} also present inside the parquet "
            "files; a hive layout stores them only in directory names"
        )
    full_schema = T.StructType(
        list(data_schema.fields)
        + list((partition_schema or T.StructType()).fields)
    )
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT",
                "operationParameters": {
                    "numFiles": str(len(rels)),
                    "partitionedBy": json.dumps(part_cols),
                },
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": full_schema.json(),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    for rel, pvals in rels:
        full = os.path.join(base, rel)
        add = {
            "path": urllib.parse.quote(rel.replace(os.sep, "/"), safe="/="),
            "partitionValues": pvals,
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": True,
        }
        stats = _file_stats_json(full)
        if stats is not None:
            add["stats"] = stats
        actions.append({"add": add})
    os.makedirs(log, exist_ok=True)
    _write_commit_file(os.path.join(log, f"{0:020d}.json"), actions)
    return 0


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY parity: one record per commit, newest first,
    from each commit's commitInfo header (operation, timestamp,
    operationParameters). Commits without one (older tables, foreign
    writers) report operation None with the commit file's mtime — the
    same fallback the change feed uses. Pure metadata: no data files
    are touched."""
    log_dir = _log_dir(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a Delta table: {path!r} has no _delta_log directory"
        )
    out: list[dict] = []
    for f in sorted(os.listdir(log_dir), reverse=True):
        m = _COMMIT_RE.match(f)
        if not m:
            continue
        cpath = os.path.join(log_dir, f)
        info = None
        with open(cpath) as fh:
            for ln in fh:
                if ln.strip():
                    a = json.loads(ln)
                    if "commitInfo" in a:
                        info = a["commitInfo"]
                        break
        out.append(
            {
                "version": int(m.group(1)),
                "timestamp": int(
                    info.get("timestamp")
                    if info and info.get("timestamp") is not None
                    else os.path.getmtime(cpath) * 1000
                ),
                "operation": (info or {}).get("operation"),
                "operationParameters": (info or {}).get(
                    "operationParameters"
                ),
                "operationMetrics": (info or {}).get(
                    "operationMetrics"
                ),
            }
        )
    return out


def restore_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (or TO TIMESTAMP
    AS OF ``timestamp``, resolved by ``version_at_timestamp``; exactly
    one of the two must be given) — revert the
    table's LATEST state to an earlier snapshot with ONE forward commit
    (delta-spark's RestoreTableCommand semantics, re-expressed on the
    public protocol): files in the target snapshot but absent from the
    current one are re-added, files only in the current one are removed,
    and the target ``metaData`` is re-committed when it changed. Every
    action is ``dataChange=true``, so the change feed sees exactly the
    row-level revert, and nothing is deleted from the log — every
    intermediate version stays time-travelable until a later
    ``cleanup_log``/``vacuum`` retires it.

    File identity is ``(path, deletionVector uniqueId)`` — the key the
    log-replay reconciliation itself uses — so a file whose DV changed
    since the target version reverts via remove(current DV) +
    add(target DV) in the same commit, and the re-add carries the
    target's optional add state (stats, tags, rowTracking ids) so a
    restore loses nothing a checkpoint would have to represent.

    Refuses when: the target snapshot references data files or DV blobs
    no longer on disk (vacuumed — committing would leave dangling
    references); the table sets ``delta.appendOnly=true`` (restore
    removes files); the column-mapping mode differs between target and
    current metadata (mapping can never be disabled or switched, per the
    protocol's physical-name stability rule); or the current writer
    protocol demands features this writer does not implement. Restoring
    to the current version (or a byte-identical state) is a no-op and
    commits nothing.

    Returns ``{"version", "added", "removed", "metadata_restored"}``
    (``version`` None = no-op). Scale shape: pure log metadata plus one
    ``os.path.getsize`` per re-added file — no data file is read or
    moved, so a 100 TB revert costs what the log costs.
    """
    if (version is None) == (timestamp is None):
        raise ValueError(
            "pass exactly one of version or timestamp"
        )
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp, allow_future=True)
    cur = replay_log(spark, path)
    _check_writer_protocol(cur.protocol, path)
    _check_write_obligations(cur, path, "restore")
    version = int(version)
    if version > cur.version:
        raise ValueError(
            f"cannot restore {path!r} to version {version}: latest is "
            f"{cur.version} (restore only goes backward)"
        )
    tgt = cur if version == cur.version else replay_log(
        spark, path, version=version
    )
    cur_map = _column_mapping_mode(cur.metadata)
    tgt_map = _column_mapping_mode(tgt.metadata)
    if cur_map != tgt_map:
        raise ValueError(
            f"restoring {path!r} to version {version} would change "
            f"delta.columnMapping.mode from {cur_map!r} back to "
            f"{tgt_map!r}; the protocol forbids disabling or switching "
            "column mapping once enabled (physical-name stability)"
        )

    cur_ids = {(rel, _dv_uid(cur.dvs.get(rel))) for rel in cur.files}
    tgt_ids = {(rel, _dv_uid(tgt.dvs.get(rel))) for rel in tgt.files}
    to_add = sorted(
        rel for rel in tgt.files
        if (rel, _dv_uid(tgt.dvs.get(rel))) not in cur_ids
    )
    to_remove = sorted(
        rel for rel in cur.files
        if (rel, _dv_uid(cur.dvs.get(rel))) not in tgt_ids
    )
    overlap = set(to_add) & set(to_remove)
    if overlap and str(
        (cur.metadata.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        )
    ).lower() == "true":
        # same-path DV-changed re-adds are the one restore shape whose
        # add/remove derivation double-counts for CDF readers — the
        # protocol wants change files for it, which this restore does
        # not materialize (delete_rows does; its rows are in hand there)
        raise NotImplementedError(
            f"restoring {path!r} to version {version} reverts deletion "
            f"vectors on {len(overlap)} file(s) of a CDF-enabled table; "
            "that commit shape requires change files this restore does "
            "not write — unset delta.enableChangeDataFeed or use "
            "delta-spark"
        )
    meta_changed = tgt.metadata != cur.metadata
    if not to_add and not to_remove and not meta_changed:
        return {
            "version": None, "added": 0, "removed": 0,
            "metadata_restored": False,
        }

    base = _local(path)
    missing = [
        rel for rel in to_add
        if not os.path.exists(os.path.join(base, rel))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {path!r} to version {version}: data files "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} referenced "
            "by that snapshot are no longer on disk (vacuumed?); the "
            "restore would commit dangling file references"
        )
    for rel in to_add:
        dv = tgt.dvs.get(rel)
        if dv:
            try:
                _resolve_dv_blob(base, dv)
            except Exception as exc:
                raise ValueError(
                    f"cannot restore {path!r} to version {version}: the "
                    f"deletion vector for {rel!r} at that snapshot is "
                    f"unresolvable ({exc}); was it vacuumed?"
                ) from exc

    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "RESTORE",
            # delta-spark serializes every operationParameters value as
            # a string; history-parsing tools assume that encoding
            "operationParameters": {"version": str(version)},
        }
    }]
    if meta_changed:
        actions.append({"metaData": tgt.metadata})
    # removes first, adds second: _apply_action retires a file only when
    # the remove's DV identity matches the tracked one, so either order
    # reconciles to the same state — this one also nets correctly under
    # a naive sequential applier
    for rel in to_remove:
        remove = {
            "path": urllib.parse.quote(rel, safe="/="),
            "deletionTimestamp": now_ms,
            "dataChange": True,
        }
        if rel in cur.dvs:
            remove["deletionVector"] = cur.dvs[rel]
        actions.append({"remove": remove})
    for rel in to_add:
        add = {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": dict(tgt.files[rel]),
            "size": os.path.getsize(os.path.join(base, rel)),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        if rel in tgt.dvs:
            add["deletionVector"] = tgt.dvs[rel]
        # the target snapshot's optional add state (stats, tags,
        # baseRowId, ...) travels with the re-add — latest-add-wins
        # replay would otherwise erase it relative to the snapshot
        # being restored
        add.update(tgt.adds.get(rel) or {})
        actions.append({"add": add})
    actions[0]["commitInfo"]["operationMetrics"] = {
        "numRestoredFiles": str(len(to_add)),
        "numRemovedFiles": str(len(to_remove)),
    }
    new_version = cur.version + 1
    commit_path = os.path.join(_log_dir(path), f"{new_version:020d}.json")
    _write_commit_file(commit_path, actions)
    return {
        "version": new_version,
        "added": len(to_add),
        "removed": len(to_remove),
        "metadata_restored": meta_changed,
    }
