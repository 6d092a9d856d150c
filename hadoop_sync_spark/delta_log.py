"""Delta Lake transaction-log reader/committer — lakehouse interop for the
registry's catalog model (reference parity: the registry's versioned
publish, ``HdfsSynchronizer.java:223-325``, is the same
directory-of-versions idea; this module speaks the OPEN format a 2026
lake actually stores, so the engine can read tables other writers
produce).

Implemented from the public Delta protocol specification
(github.com/delta-io/delta PROTOCOL.md) — NOT a binding to the
``delta-spark`` package (absent in this container), and no code derived
from it:

- a table is ``<dir>/*.parquet`` data files plus ``<dir>/_delta_log/``
  holding ordered commits ``%020d.json``, each line one ACTION object:
  ``protocol``, ``metaData`` (with ``schemaString`` — Spark's own
  StructType JSON), ``add {path, partitionValues, size,
  modificationTime, dataChange}``, ``remove {path, dataChange}`` (plus
  the removed add's partitionValues, size and deletionVector);
- a snapshot at version V is the last-writer-wins replay of actions
  0..V: a path is live iff its latest action ≤ V is an ``add``;
- ``N.checkpoint.parquet`` (+ the ``_last_checkpoint`` pointer) compacts
  the replay prefix: one row per surviving action, struct columns
  ``protocol / metaData / add / remove``; a reader seeds from the
  newest checkpoint ≤ V and replays only the JSON tail.

Scale posture: log replay is METADATA work — KBs per commit, one driver
pass, exactly where production Delta does it — while the data files the
snapshot selects are read by executors through the normal parquet
scan (predicate pushdown / column pruning intact: every face reads
data files through one pinned-schema scan, :meth:`DeltaLog._scan`).
Checkpointing keeps replay O(tail) instead of O(#commits).  Partition
columns attach from the logged ``add.partitionValues``; directory
inference via ``basePath`` is only the fallback for unmapped logs whose
adds carry no values.

Protocol v3 deletion vectors are SUPPORTED (round 8): descriptors on
``add`` actions (inline Base85 or framed ``deletion_vector_<uuid>.bin``
files with CRC-verified RoaringBitmapArray payloads — both public
formats implemented from scratch, incl. a portable-format Roaring
reader covering array/bitset/run containers) subtract rows at read
time via a broadcast anti-join on ``_metadata.row_index``, and survive
checkpointing — classic ``N.checkpoint.parquet`` AND V2 UUID-named
checkpoints (round 9: ``N.checkpoint.<uuid>.{json,parquet}`` with
``checkpointMetadata`` validation and ``_delta_log/_sidecars/*.parquet``
file-action sidecars).  Column mapping is SUPPORTED too (round 9): both
``name`` and ``id`` modes (physical ``col-<uuid>`` columns renamed to
the logical schema; id mode matches by parquet footer field_id), with
partition values keyed by physical name per spec, composing with DVs
and checkpoints.  Honest seams: any OTHER v3 reader feature
(v2 checkpoints, type widening …) and reader versions above 3 raise
instead of silently mis-reading.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

# ----------------------------------------------------- deletion vectors (r8)
#: RFC 1924 Base85 alphabet — the character set Delta's DV descriptors
#: use for inline vectors and the path UUID (PROTOCOL.md "Deletion
#: Vectors"; public spec, from-scratch implementation)
_B85_ALPHABET = (
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
)
_B85_INDEX = {c: i for i, c in enumerate(_B85_ALPHABET)}

#: Delta's RoaringBitmapArray "portable" serialization magic
_DV_MAGIC = 1681511377


def _b85_encode(data: bytes) -> str:
    """4 bytes → 5 chars, big-endian groups (input length must be a
    multiple of 4 — true for UUIDs and our padded DV payloads)."""
    if len(data) % 4:
        raise ValueError("base85 input must be 4-byte aligned")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_B85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _b85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("base85 input must be 5-char aligned")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            v = v * 85 + _B85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


def _roaring32_write(values: list[int]) -> bytes:
    """Serialize a 32-bit Roaring bitmap (portable format, public spec
    at roaringbitmap.org/portable-serialization): cookie 12346, per-
    container key + cardinality-1 headers, offset index, then array
    (≤4096 values) or 8 KiB bitset containers.  Run containers are a
    reader-side concern only."""
    import struct as _s

    by_key: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    out = bytearray(_s.pack("<ii", 12346, len(keys)))
    for k in keys:
        out += _s.pack("<HH", k, len(by_key[k]) - 1)
    # offset index (cookie 12346 always carries it)
    off = len(out) + 4 * len(keys)
    for k in keys:
        out += _s.pack("<I", off)
        n = len(by_key[k])
        off += 2 * n if n <= 4096 else 8192
    for k in keys:
        vals = by_key[k]
        if len(vals) <= 4096:
            out += _s.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            out += bits
    return bytes(out)


def _roaring32_read(data: bytes, pos: int = 0) -> tuple[list[int], int]:
    """Read one 32-bit Roaring bitmap (portable format; array, bitset
    AND run containers).  Returns (values, next_pos)."""
    import struct as _s

    (cookie,) = _s.unpack_from("<i", data, pos)
    run_flags = b""
    if cookie & 0xFFFF == 12347:  # runs present: flag bitset follows
        n = (cookie >> 16) + 1
        pos += 4
        nbytes = (n + 7) // 8
        run_flags = data[pos : pos + nbytes]
        pos += nbytes
    elif cookie == 12346:
        (n,) = _s.unpack_from("<i", data, pos + 4)
        pos += 8
    else:
        raise ValueError(f"not a roaring bitmap (cookie {cookie})")

    def has_run(i: int) -> bool:
        return bool(run_flags and run_flags[i >> 3] & (1 << (i & 7)))

    headers = []
    for i in range(n):
        key, card_m1 = _s.unpack_from("<HH", data, pos)
        headers.append((key, card_m1 + 1))
        pos += 4
    if cookie == 12346 or (run_flags and n >= 4):
        # offset index present (no-run cookie always; run cookie only
        # when >= 4 containers)
        pos += 4 * n
    out: list[int] = []
    for i, (key, card) in enumerate(headers):
        base = key << 16
        if has_run(i):
            (n_runs,) = _s.unpack_from("<H", data, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = _s.unpack_from("<HH", data, pos)
                pos += 4
                out.extend(base | v for v in range(start, start + length + 1))
        elif card <= 4096:
            vals = _s.unpack_from(f"<{card}H", data, pos)
            pos += 2 * card
            out.extend(base | v for v in vals)
        else:
            bits = data[pos : pos + 8192]
            pos += 8192
            for byte_i, b in enumerate(bits):
                while b:
                    low = b & -b
                    out.append(base | (byte_i << 3) | low.bit_length() - 1)
                    b ^= low
    return out, pos


def _dv_serialize(positions: list[int]) -> bytes:
    """RoaringBitmapArray 'portable' bytes: magic, int64 bitmap count,
    then one 32-bit roaring bitmap per high-32 key (Delta splits a
    64-bit row index into (index >> 32) bitmap slot, low 32 value)."""
    import struct as _s

    by_high: dict[int, list[int]] = {}
    for p in positions:
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    n = (max(by_high) + 1) if by_high else 0
    out = bytearray(_s.pack("<iq", _DV_MAGIC, n))
    for i in range(n):
        out += _roaring32_write(by_high.get(i, []))
    return bytes(out)


def _dv_deserialize(data: bytes) -> list[int]:
    import struct as _s

    magic, n = _s.unpack_from("<iq", data, 0)
    if magic != _DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    pos = 12
    out: list[int] = []
    for i in range(n):
        vals, pos = _roaring32_read(data, pos)
        out.extend((i << 32) | v for v in vals)
    return sorted(out)


_LOG_DIR = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"


from hadoop_sync_spark.commit import check_free, put_if_absent, replace_file
from hadoop_sync_spark.io import (
    BROADCAST_DELETE_ROW_LIMIT,
    DRIVER_DECODE_ROW_LIMIT,
    local_frame,
    plan_bins,
    split_tuples,
    write_parquet,
)

#: broadcast ceiling for row-level delete sets (shared with the Iceberg
#: reader; rationale at io.BROADCAST_DELETE_ROW_LIMIT)
_BROADCAST_DELETE_ROW_LIMIT = BROADCAST_DELETE_ROW_LIMIT

#: below this, DV positions expand DRIVER-side (the executor-decode
#: RDD path's ~0.3 s fixed job overhead dominates tiny sets); above,
#: descriptors decode executor-side, keeping the O(cardinality)
#: position list off the driver (shared with the Iceberg reader;
#: measurements at DeltaLog._dv_delete_frame)
_DRIVER_DECODE_ROW_LIMIT = DRIVER_DECODE_ROW_LIMIT


def _dv_file_path(table_dir: str, desc: dict) -> str:
    """On-disk path of a file-backed DV descriptor ('u'/'p')."""
    import uuid as _uuid

    st = desc["storageType"]
    if st == "p":
        return desc["pathOrInlineDv"]
    if st == "u":
        enc = desc["pathOrInlineDv"]
        prefix, uid_enc = enc[:-20], enc[-20:]
        uid = _uuid.UUID(bytes=_b85_decode(uid_enc))
        return os.path.join(
            table_dir, prefix, f"deletion_vector_{uid}.bin"
        )
    raise NotImplementedError(f"DV storage type {st!r}")


def _dv_uuid(rel_path: str, version: int):
    """Deterministic DV file uuid (no-ambient-randomness rule): the
    writer of file ``rel_path``'s vector at log ``version`` — unique
    per (file, commit), reproducible by driver and executor alike so
    the executor-side builder and the committing driver agree on the
    path without shipping it back."""
    import hashlib as _hashlib
    import uuid as _uuid

    return _uuid.UUID(
        bytes=_hashlib.md5(f"{rel_path}#{version}".encode()).digest()
    )


def _dv_blob_write(
    table_dir: str, rel_path: str, version: int, positions: list[int]
) -> int:
    """Serialize ``positions`` (sorted) and write the framed
    ``deletion_vector_<uuid>.bin`` (format-version byte, 4-byte
    big-endian size, portable RoaringBitmapArray, CRC-32).  Returns the
    payload size for the descriptor.  Module-level so the DML write
    faces' EXECUTOR-side builder can call it from workers — on a real
    cluster ``table_dir`` is shared storage and distributed DV writes
    are exactly how production writers land large deletes."""
    import zlib as _z

    data = _dv_serialize(positions)
    blob = (
        b"\x01"
        + len(data).to_bytes(4, "big")
        + data
        + _z.crc32(data).to_bytes(4, "big")
    )
    uid = _dv_uuid(rel_path, version)
    with open(
        os.path.join(table_dir, f"deletion_vector_{uid}.bin"), "wb"
    ) as fh:
        fh.write(blob)
    return len(data)


def _dv_u_descriptor(
    rel_path: str, version: int, size: int, cardinality: int
) -> dict:
    """Descriptor of the ``u``-stored vector :func:`_dv_blob_write`
    wrote for ``rel_path`` at ``version`` (the uuid re-derives from the
    pair, so the committing driver needs only the size and count)."""
    return {
        "storageType": "u",
        "pathOrInlineDv": _b85_encode(_dv_uuid(rel_path, version).bytes),
        "offset": 1,
        "sizeInBytes": size,
        "cardinality": cardinality,
    }


def _resolve_dv_positions(table_dir: str, desc: dict) -> list[int]:
    """Resolve a deletionVector descriptor to its sorted deleted row
    indexes.  Storage types per PROTOCOL.md: ``i`` inline (Base85
    payload, ``sizeInBytes`` trims the 4-byte alignment pad), ``u``
    relative file (optional prefix + Base85 UUID →
    ``deletion_vector_<uuid>.bin``), ``p`` absolute path.  On-disk
    framing: format-version byte 1, then at ``offset`` a 4-byte
    big-endian size, the RoaringBitmapArray payload, and a 4-byte
    big-endian CRC-32 that must verify.  Module-level (not a DeltaLog
    method) so the over-ceiling executor-side decode ships a plain
    (table_dir, desc) closure to workers."""
    import zlib as _z

    st = desc["storageType"]
    if st == "i":
        data = _b85_decode(desc["pathOrInlineDv"])
        return _dv_deserialize(data[: desc["sizeInBytes"]])
    path = _dv_file_path(table_dir, desc)
    with open(path, "rb") as fh:
        blob = fh.read()
    if blob[:1] != b"\x01":
        raise ValueError("unknown deletion-vector file version")
    # PROTOCOL.md marks offset optional for 'u'/'p' storage; without
    # it the payload starts right after the format-version byte
    off = desc.get("offset", 1)
    size = int.from_bytes(blob[off : off + 4], "big")
    data = blob[off + 4 : off + 4 + size]
    crc = int.from_bytes(blob[off + 4 + size : off + 8 + size], "big")
    if _z.crc32(data) != crc:
        raise ValueError("deletion-vector checksum mismatch")
    return _dv_deserialize(data)


#: partition column types whose values round-trip the protocol's
#: string encoding exactly (the set the read path's CAST inverts)
_PART_OK = {T.LongType(), T.IntegerType(), T.StringType(), T.BooleanType()}


def _check_partition_types(schema, part_cols: list, face: str) -> None:
    for c in part_cols:
        if schema[c].dataType not in _PART_OK:
            raise NotImplementedError(
                f"{face} on a table partitioned by "
                f"{schema[c].dataType.simpleString()} column {c!r}: only "
                "long/int/string/boolean partition values round-trip the "
                "protocol's string encoding exactly"
            )


def _pv_str(v):
    """A partition value in the protocol's ``partitionValues`` string
    encoding."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _remove_action(add: dict, data_change: bool, **extra) -> dict:
    """The ``remove`` of the live file ``add`` as PROTOCOL.md logs it:
    with the add's ``partitionValues``, ``size`` and ``deletionVector``
    (``extendedFileMetadata``), so a reader without the add (a change
    feed planned from a checkpoint after log expiry) knows what left."""
    rm = {"path": add["path"], "dataChange": data_change, **extra,
          "extendedFileMetadata": True,
          "partitionValues": add.get("partitionValues") or {},
          "size": add.get("size"),
          "deletionVector": add.get("deletionVector")}
    return {"remove": {k: v for k, v in rm.items() if v is not None}}


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _LOG_DIR, f"{version:020d}.json")


def _checkpoint_path(table_dir: str, version: int) -> str:
    return os.path.join(
        table_dir, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
    )


#: legacy features implied by pre-table-features protocol versions
#: (PROTOCOL.md "Table Features": a version upgrade to reader 3 /
#: writer 7 must list every feature the old version numbers implied)
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _protocol_with_writer_feature(proto: dict, feature: str) -> dict:
    """Upgrade ``proto`` to carry a WRITER-ONLY feature (round 12:
    ``changeDataFeed`` — CDF never gates readers, so putting it in
    readerFeatures would make conforming readers refuse the table).
    A legacy version number that already implies the feature passes
    through verbatim; otherwise the writer side moves to version 7
    with the feature list (reader side untouched)."""
    wf = set(proto.get("writerFeatures") or ())
    if feature in wf:
        return proto
    mwv = proto.get("minWriterVersion") or 1
    if mwv < 7:
        implied = set()
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if mwv >= v:
                implied.update(feats)
        if feature in implied:
            return proto
        wf.update(implied)
    wf.add(feature)
    out = dict(proto)
    out["minWriterVersion"] = 7
    out["writerFeatures"] = sorted(wf)
    return out


def _cp_add_type():
    """The checkpoint ``add`` struct, shared by classic checkpoints and
    V2 sidecars — protocol-v3 deletion vectors survive checkpointing."""
    import pyarrow as pa

    return pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("deletionVector", pa.struct([
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ])),
    ])


def _strip_checkpoint_nulls(row: dict) -> dict:
    """One checkpoint parquet row → the action it encodes.  The row
    carries every action kind as a nullable struct column, and every
    struct MEMBER is nullable too, so a protocol committed as
    ``{"minReaderVersion": 1}`` round-trips as ``{"minReaderVersion":
    1, "minWriterVersion": None, ...}`` — parquet null means ABSENT at
    both levels.  Strip exactly those two levels and nothing deeper:
    values inside nested maps/lists (``partitionValues`` can
    legitimately hold null partition values) must survive.  Found by
    the DML sequence fuzzer: the explicit ``minWriterVersion: None``
    in a checkpoint-seeded snapshot crashed every later DV-writing
    face's protocol upgrade."""
    return {
        kind: (
            {mk: mv for mk, mv in payload.items() if mv is not None}
            if isinstance(payload, dict)
            else payload
        )
        for kind, payload in row.items()
        if payload is not None
    }


def _protocol_with_feature(proto: dict, feature: str) -> dict:
    """Upgrade ``proto`` to table-features form (reader 3 / writer 7)
    carrying ``feature`` on both sides, listing every feature the old
    version numbers implied (the spec's upgrade rule).  A protocol
    already at version 3 with the feature listed passes through
    verbatim.  Used by the DV writer (a mapped table's upgrade must
    keep ``columnMapping`` listed) and the V2-checkpoint writer
    (PROTOCOL.md permits V2 checkpoints only under the ``v2Checkpoint``
    feature — writing one under an older protocol would hand
    spec-conforming readers an unrecognized checkpoint format with no
    marker; ADVICE r9)."""
    rf = set(proto.get("readerFeatures") or ())
    wf = set(proto.get("writerFeatures") or ())
    if feature in rf and feature in wf:
        return proto
    # legacy-implied features fire ONLY for pre-table-features version
    # numbers: at reader 3 / writer 7 the feature lists are already
    # authoritative, and re-deriving implications there would stamp
    # features the table never used (e.g. identityColumns onto a table
    # whose writer version came from an earlier upgrade) — conforming
    # engines without those features would then refuse the table
    # `or 1`: a JSON-null version field reads as absent, same as a
    # missing key — both mean "the lowest version" for the implication
    # walk (the checkpoint seeder strips parquet nulls before they get
    # here, but a lax external writer can commit the null in JSON too)
    mrv = proto.get("minReaderVersion") or 1
    mwv = proto.get("minWriterVersion") or 1
    if mrv < 3:
        for v, feats in _LEGACY_READER_FEATURES.items():
            if mrv >= v:
                rf.update(feats)
    if mwv < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if mwv >= v:
                wf.update(feats)
    rf.add(feature)
    wf.add(feature)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def _upgrade_protocol_for_v2_checkpoint(proto: dict) -> dict:
    return _protocol_with_feature(proto, "v2Checkpoint")


#: PROTOCOL.md primitive names that differ from Spark's JSON names
_DELTA_TO_SPARK_TYPE = {"timestampNtz": "timestamp_ntz"}

#: PROTOCOL.md primitive type names accepted by the add_column DDL face
_DELTA_DDL_TYPES = {
    "string", "long", "integer", "short", "byte", "float", "double",
    "boolean", "binary", "date", "timestamp", "timestampNtz",
}

#: Spark spellings normalized to PROTOCOL.md primitives, so the CLI's
#: SPARK_TYPE metavar means the same thing for both formats
_SPARK_TO_DELTA_TYPE = {
    "bigint": "long", "int": "integer", "smallint": "short",
    "tinyint": "byte", "timestamp_ntz": "timestampNtz",
}


def _normalize_delta_types(node):
    """Recursively map Delta schemaString type names to Spark's
    (PROTOCOL.md spells ``timestampNtz``; Spark's ``fromJson`` wants
    ``timestamp_ntz``) through structs, arrays and maps."""
    if isinstance(node, str):
        return _DELTA_TO_SPARK_TYPE.get(node, node)
    if isinstance(node, list):
        return [_normalize_delta_types(x) for x in node]
    if isinstance(node, dict):
        return {
            k: (_normalize_delta_types(v)
                if k in ("type", "fields", "elementType", "keyType",
                         "valueType") else v)
            for k, v in node.items()
        }
    return node


@dataclass
class Snapshot:
    """Replay result at one version: live file infos + table metadata."""

    version: int
    schema_json: str | None
    partition_columns: tuple[str, ...]
    #: path -> add action dict (relative paths, exactly as logged)
    live: dict[str, dict] = field(default_factory=dict)
    #: metaData.configuration verbatim (column mapping mode lives here)
    configuration: dict = field(default_factory=dict)
    #: the replayed protocol action (checkpoints reproduce it verbatim)
    protocol: dict | None = None
    #: the last replayed metaData action VERBATIM — DDL re-commits must
    #: preserve fields the snapshot itself does not model (id, format,
    #: createdTime), per the spec's whole-action replacement semantics
    metadata_action: dict | None = None
    #: appId -> the latest replayed ``txn`` action (normalized, nulls
    #: dropped) — PROTOCOL.md "Transaction Identifiers": readers track
    #: ONE entry per appId, last commit wins in log order, and
    #: checkpoints must carry exactly that set forward
    transactions: dict[str, dict] = field(default_factory=dict)

    @property
    def column_mapping_mode(self) -> str:
        mode = self.configuration.get("delta.columnMapping.mode", "none")
        if mode not in ("none", "name", "id"):
            raise NotImplementedError(
                f"delta.columnMapping.mode={mode!r} is not a protocol mode"
            )
        return mode

    @property
    def files(self) -> list[str]:
        return sorted(self.live)

    def schema(self) -> StructType | None:
        if self.schema_json is None:
            return None
        return StructType.fromJson(
            _normalize_delta_types(json.loads(self.schema_json))
        )


def _column_mapping(snap: Snapshot) -> dict[str, tuple[str, int | None]]:
    """logical name -> ``(physicalName, field id)`` from the schema's
    ``delta.columnMapping`` field metadata (PROTOCOL.md "Column
    Mapping") — the one parse of it.  Mode ``none`` is the identity
    with no ids.  A mapped field without its physicalName, or in id
    mode without its id, refuses."""
    if snap.schema_json is None:
        raise ValueError("no metaData action in the log")
    mode = snap.column_mapping_mode
    out: dict[str, tuple[str, int | None]] = {}
    for f in json.loads(snap.schema_json)["fields"]:
        if mode == "none":
            out[f["name"]] = (f["name"], None)
            continue
        md = f.get("metadata") or {}
        pn = md.get("delta.columnMapping.physicalName")
        fid = md.get("delta.columnMapping.id")
        if pn is None or (mode == "id" and fid is None):
            raise ValueError(
                f"column mapping enabled but field {f['name']!r} "
                "lacks physicalName/id metadata"
            )
        out[f["name"]] = (pn, None if fid is None else int(fid))
    return out


def _partition_value(pv: dict | None, phys: dict, c: str) -> str | None:
    """Partition column ``c``'s logged string: ``partitionValues`` keys
    are PHYSICAL names under column mapping (the spec), the logical
    name is tolerated for lax writers."""
    pv = pv or {}
    v = pv.get(phys.get(c, c), pv.get(c))
    return None if v is None else str(v)


def _hive_layout_refusal(part_cols, phys: dict, pvs,
                         face: str) -> NotImplementedError | None:
    """The refusal for a table partitioned by ``part_cols`` whose
    actions do not log every partition value (``pvs``: their
    ``partitionValues``), or None when they do.  Deletion vectors,
    column mapping, compaction and change feeds all need the logged
    values; only an unmapped, vector-free :meth:`DeltaLog.read` falls
    back to inferring them from a Hive-style directory layout."""
    if all(
        phys.get(c, c) in (pv or {}) or c in (pv or {})
        for pv in pvs for c in part_cols
    ):
        return None
    return NotImplementedError(
        f"{face} on a partitioned table whose actions carry no "
        "partitionValues (Hive-inferred layout): re-log the adds"
    )


def _logical_cols(fields, part_cols, phys: dict) -> list:
    """The physical -> logical projection: data columns renamed (the
    pinned scan already carries their logical types, nested field names
    included), then the partition columns, cast from their logged
    strings to the schema's types (a partition column the schema does
    not list stays a string)."""
    types = {f.name: f.dataType for f in fields}
    return [
        F.col(phys[f.name]).alias(f.name)
        for f in fields if f.name not in part_cols
    ] + [
        F.col(c).cast(types.get(c, T.StringType())).alias(c)
        for c in part_cols
    ]


class _FileChange(NamedTuple):
    """One data file's derived change at one commit: its ``kind``
    (``insert`` / ``delete``) rows are exactly those at ``positions``
    when ``keep`` (a deletion-vector diff), else every row except those
    (the file's own deletion vector).  ``pv``: its logged
    ``partitionValues``."""

    rel: str
    kind: str
    keep: bool
    positions: list
    pv: dict | None


class _CommitChanges(NamedTuple):
    """One commit's change set as :meth:`DeltaLog._plan_changes` plans
    it: its ``cdc`` actions when it has any, else the derived ``files``;
    ``schema_json`` is the schemaString of its metaData action, if
    any."""

    version: int
    cdc: list
    files: list
    schema_json: str | None


class _FreshPositions:
    """The fresh matched positions of one Delta DML commit, in the one
    shape every step after the tier decision consumes: ``dvs`` lists
    ``(rel, fresh_rows, descriptor)`` per affected file, sorted by
    path, for deletion vectors already written; :meth:`pairs` gives
    some files' fresh ``(_afp, _pos)`` rows as a frame to join."""

    def __init__(self, dvs: list, frame):
        self.dvs = dvs
        #: zero-argument callable -> the ``(_afp, _pos, _rel)`` frame
        self._frame = frame

    @property
    def rels(self) -> list[str]:
        return [rel for rel, _, _ in self.dvs]

    @property
    def rows(self) -> int:
        return sum(n for _, n, _ in self.dvs)

    def pairs(self, rels) -> DataFrame:
        return self._frame().where(
            F.col("_rel").isin(list(rels))
        ).select("_afp", "_pos")


class DeltaLog:
    """Reader + minimal committer for one Delta table directory."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.log_dir = os.path.join(table_dir, _LOG_DIR)

    # ---- log structure -------------------------------------------------
    def versions(self) -> list[int]:
        """Sorted commit versions present in the log."""
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and len(name) == 25:
                try:
                    out.append(int(name[:20]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        return vs[-1]

    def _checkpoint_files(self) -> dict[int, str]:
        """version -> checkpoint file path.  Classic
        ``N.checkpoint.parquet`` and V2 UUID-named
        ``N.checkpoint.<uuid>.{json,parquet}`` both resolve; when a
        version has both, the V2 file wins (it is the newer write)."""
        if not os.path.isdir(self.log_dir):
            return {}
        classic: dict[int, str] = {}
        v2: dict[int, str] = {}
        for name in os.listdir(self.log_dir):
            parts = name.split(".")
            try:
                ver = int(parts[0])
            except ValueError:
                continue
            if len(parts) == 3 and parts[1:] == ["checkpoint", "parquet"]:
                classic[ver] = name
            elif (
                len(parts) == 4
                and parts[1] == "checkpoint"
                and parts[3] in ("json", "parquet")
            ):
                v2[ver] = name
        merged = {**classic, **v2}
        return {
            ver: os.path.join(self.log_dir, merged[ver])
            for ver in sorted(merged)
        }

    def _checkpoint_versions(self) -> list[int]:
        return sorted(self._checkpoint_files())

    # ---- replay --------------------------------------------------------
    def _apply(self, snap: Snapshot, action: dict) -> None:
        if "protocol" in action:
            proto = action["protocol"]
            # JSON-null version fields read as absent, the same stance
            # _protocol_with_feature takes — a lax external writer's
            # {"minReaderVersion": null} must not crash the whole
            # replay with a None<int comparison (review of the fuzzer
            # round: the parquet-checkpoint nulls are stripped by the
            # seeder, but a commit .json can carry them too)
            mrv = proto.get("minReaderVersion") or 1
            if mrv == 3:
                feats = set(proto.get("readerFeatures") or ())
                # typeWidening (round 10): the table schemaString holds
                # the WIDEST type and this reader always pins it, so
                # narrower physical pages upcast inside Spark's parquet
                # reader — measured native coverage spans the spec's
                # whole widening table (byte/short/int -> int/long,
                # int/float -> double, date -> timestampNtz, decimal
                # widening); an exotic mismatch fails the scan loudly,
                # never a silent misread
                # timestampNtz (round 10): the pinned logical schema
                # maps PROTOCOL.md's type name to Spark's timestamp_ntz
                # and the parquet reader handles isAdjustedToUTC=false
                # natively — accepting the feature is schema plumbing
                unsupported = feats - {
                    "deletionVectors", "columnMapping", "v2Checkpoint",
                    "typeWidening", "typeWidening-preview",
                    "timestampNtz",
                }
                if unsupported:
                    raise NotImplementedError(
                        f"Delta reader features {sorted(unsupported)} "
                        "not supported; refusing to silently mis-read"
                    )
            elif mrv == 2:
                # minReaderVersion=2 IS the column-mapping capability
                # (PROTOCOL.md reader-version table) — supported since
                # round 9; the mode itself rides metaData.configuration
                pass
            elif mrv > 1:
                raise NotImplementedError(
                    f"Delta minReaderVersion={mrv}: v2 checkpoints / "
                    "newer features are beyond this reader; refusing to "
                    "silently mis-read"
                )
            snap.protocol = proto
        elif "metaData" in action:
            md = action["metaData"]
            snap.schema_json = md.get("schemaString", snap.schema_json)
            snap.partition_columns = tuple(md.get("partitionColumns", ()))
            cfg = md.get("configuration")
            if isinstance(cfg, list):  # checkpoint map column round trip
                cfg = dict(cfg)
            snap.configuration = cfg or {}
            # metadata_action must stay RE-COMMITTABLE as JSON (the DDL
            # faces deep-copy and replace it wholesale): normalize the
            # parquet-checkpoint shapes — map columns arrive as pair
            # lists, absent struct fields as None — back to the commit
            # form, dropping null-valued fields
            norm = {k: v for k, v in md.items() if v is not None}
            if cfg is not None:
                norm["configuration"] = cfg
            fmt = norm.get("format")
            if isinstance(fmt, dict) and isinstance(
                fmt.get("options"), list
            ):
                norm["format"] = {**fmt, "options": dict(fmt["options"])}
            snap.metadata_action = norm
        elif "add" in action:
            add = action["add"]
            snap.live[add["path"]] = add
        elif "remove" in action:
            snap.live.pop(action["remove"]["path"], None)
        elif "txn" in action:
            # Transaction identifiers (PROTOCOL.md): one entry per
            # appId, later commits replace earlier ones wholesale.
            # Normalized nulls-dropped like metadata_action so the
            # checkpoint writers can re-emit the dict verbatim.  A lax
            # external writer's string version coerces to int here (so
            # comparisons and the checkpoint's int64 column stay
            # sound); an unparseable one stays raw and the WRITE faces
            # refuse on it — a reader must not crash the whole replay
            t = dict(action["txn"])
            app = t.get("appId")
            if app is not None:
                v = t.get("version")
                if v is not None and not isinstance(v, int):
                    try:
                        t["version"] = int(v)
                    except (TypeError, ValueError):
                        pass  # kept raw; txn_version refuses cleanly
                snap.transactions[app] = {
                    k: v for k, v in t.items() if v is not None
                }
        # commitInfo / cdc: no snapshot effect for a batch reader

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay to ``version`` (default latest), seeding from the
        newest checkpoint ≤ version when one exists."""
        if version is None:
            version = self.latest_version()
        snap = Snapshot(version=version, schema_json=None,
                        partition_columns=())
        start = 0
        cps = [v for v in self._checkpoint_versions() if v <= version]
        if cps:
            self._seed_from_checkpoint(snap, cps[-1])
            start = cps[-1] + 1
        for v in range(start, version + 1):
            for action in self._commit_actions(v):
                self._apply(snap, action)
        return snap

    def _commit_actions(self, version: int) -> list[dict]:
        """Commit ``version``'s actions in log order: the one reader of
        commit files (snapshot replay, :meth:`version_at`,
        :meth:`history` and the change planner all parse through it).
        A commit absent from disk refuses by version, as expired or
        vacuumed history must."""
        path = _commit_path(self.table_dir, version)
        try:
            with open(path, encoding="utf-8") as fh:
                return [json.loads(ln) for ln in fh if not ln.isspace()]
        except FileNotFoundError:
            raise FileNotFoundError(
                f"commit {version} missing (vacuumed?): {path}"
            ) from None

    # ---- Spark read ----------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        paths: set[str] | None = None,
    ) -> DataFrame:
        """The snapshot as a DataFrame: executors scan exactly the live
        files through the ordinary parquet source (pushdown intact).
        Every mapping mode takes the one body:

        - the pinned physical-schema scan (:meth:`_scan`) under the
          names :meth:`_resolve_physical` gives (identity for ``none``,
          the metadata physicalName for ``name``, the footers' field
          ids for ``id``);
        - partition values attach from the logged
          ``add.partitionValues`` (the protocol makes them
          authoritative — a conforming writer may lay files out flat,
          ADVICE r7) through the shared decoded-path broadcast join,
          together with each file's relative path when deletion
          vectors apply;
        - the deletion vectors' anti-join (:meth:`_minus_deleted`);
        - the logical projection (:func:`_logical_cols`), which casts
          partition values from the logged strings to the schema's
          types.

        Directory inference via ``basePath`` remains only as the
        fallback for unmapped, vector-free logs whose adds never
        carried values.  ``paths`` restricts the scan to some live
        files (the compaction rewrite); deletes still apply per file.
        An empty snapshot yields an empty frame with the logged
        schema."""
        snap = self.snapshot(version)
        sel = list(snap.files)
        if paths is not None:
            missing = paths - set(sel)
            if missing:
                raise ValueError(
                    f"paths not live in snapshot: {sorted(missing)}"
                )
            sel = [p for p in sel if p in paths]
        if not sel:
            schema = snap.schema()
            if schema is None:
                raise ValueError("empty table with no metaData action")
            return local_frame(spark, [], schema)
        phys = self._resolve_physical(snap, sel, "read")
        adds = [snap.live[p] for p in sel]
        dv_map = {
            p: a["deletionVector"]
            for p, a in zip(sel, adds) if a.get("deletionVector")
        }
        refusal = _hive_layout_refusal(
            snap.partition_columns, phys,
            [a.get("partitionValues") for a in adds], "read",
        )
        if refusal is not None:
            if dv_map or snap.column_mapping_mode != "none":
                raise refusal
            return spark.read.option("basePath", self.table_dir).parquet(
                *[os.path.join(self.table_dir, p) for p in sel]
            )
        schema = snap.schema()
        part_cols = list(snap.partition_columns)
        scan = self._scan(
            spark, sel,
            [f for f in schema.fields if f.name not in part_cols], phys,
            row_index="_row_idx" if dv_map else None,
        )
        scan = self._attach_files(
            scan, snap, phys, sel, [a.get("partitionValues") for a in adds],
            rel_col="_rel_path" if dv_map else None,
            what="delta snapshot " + ("partition" if part_cols else "file"),
        )
        scan = self._minus_deleted(spark, scan, dv_map, "_rel_path",
                                   "_row_idx")
        return scan.select(*_logical_cols(schema.fields, part_cols, phys))

    def _scan(
        self,
        spark: SparkSession,
        rels,
        fields,
        phys: dict,
        row_index: str | None = None,
        file_path: str | None = None,
    ) -> DataFrame:
        """The one parquet scan of Delta data and change-data files:
        ``rels`` under the PHYSICAL names ``phys`` gives ``fields``,
        pinned to the logged (widest) types.  Pinning gives a
        deterministic plan whatever footer Spark would sample, native
        null-fill for files predating an ``add_column`` and native
        upcast under typeWidening.  ``row_index`` / ``file_path`` name
        the ``_metadata`` lineage columns a caller wants."""
        scan = spark.read.schema(T.StructType([
            T.StructField(phys[f.name], f.dataType, True) for f in fields
        ])).parquet(*[os.path.join(self.table_dir, r) for r in rels])
        lineage = []
        if file_path is not None:
            lineage.append(F.col("_metadata.file_path").alias(file_path))
        if row_index is not None:
            lineage.append(F.col("_metadata.row_index").alias(row_index))
        return scan.select("*", *lineage) if lineage else scan

    def _attach_files(self, scan: DataFrame, snap: Snapshot, phys: dict,
                      rels, pvs, rel_col: str | None = None,
                      what: str = "") -> DataFrame:
        """``scan`` of ``rels`` with each file's relative path (as
        ``rel_col``, when named) and logged partition values (``pvs``,
        one ``partitionValues`` per file) attached through the shared
        decoded-path broadcast join.  Every value is a STRING, as the
        protocol logs partition values; explicit types keep an all-null
        partition column from crashing inference."""
        from hadoop_sync_spark.io import attach_file_columns

        part_cols = list(snap.partition_columns)
        cols = ([rel_col] if rel_col else []) + part_cols
        if not cols:
            return scan
        return attach_file_columns(
            scan,
            [
                (os.path.abspath(os.path.join(self.table_dir, rel)),)
                + ((rel,) if rel_col else ())
                + tuple(_partition_value(pv, phys, c) for c in part_cols)
                for rel, pv in zip(rels, pvs)
            ],
            cols,
            what=what,
            types={c: T.StringType() for c in cols},
        )

    def _minus_deleted(self, spark, df: DataFrame, dv_map: dict,
                       rel_col: str, pos_col: str) -> DataFrame:
        """``df`` without the rows the deletion vectors in ``dv_map``
        (relative path -> descriptor) delete: an anti-join of its
        ``(rel_col, pos_col)`` lineage against
        :meth:`_dv_delete_frame` — broadcast under the size ceiling,
        executor-decoded shuffle join above it.  Vectors that decode to
        no position (a cardinality-0 descriptor another engine wrote is
        legal) subtract nothing."""
        dels = self._dv_delete_frame(spark, dv_map) if dv_map else None
        if dels is None:
            return df
        return df.join(
            dels,
            (F.col(rel_col) == F.col("_d_file"))
            & (F.col(pos_col) == F.col("_d_pos")),
            "left_anti",
        )

    # ---- minimal committer (fixture builder + registry export) ---------
    def commit(self, version: int, actions: list[dict]) -> str:
        """Write commit ``version`` put-if-absent
        (:func:`hadoop_sync_spark.commit.put_if_absent`, the primitive
        every registry, Delta and Iceberg version commits through): of
        two writers racing one version exactly one wins, and the loser
        raises :class:`~hadoop_sync_spark.commit.CommitConflict` (a
        ``FileExistsError``) with nothing of its commit visible.  The
        write faces commit at the version after the snapshot they were
        built from (:meth:`_check_free`)."""
        os.makedirs(self.log_dir, exist_ok=True)
        return put_if_absent(
            _commit_path(self.table_dir, version),
            "".join(
                json.dumps(a, separators=(",", ":")) + "\n" for a in actions
            ).encode(),
        )

    def _check_free(self, version: int) -> None:
        """Raise ``CommitConflict`` if commit ``version`` exists — called
        just before a write face's first file write, so a face that lost
        the race never overwrites the winner's version-named files."""
        check_free(_commit_path(self.table_dir, version))

    # ---- transaction identifiers (round 12; PROTOCOL.md "Transaction
    # Identifiers" — the idempotent-writer / streaming exactly-once
    # face production sinks key on via txnAppId/txnVersion) ------------
    def txn_version(self, app_id: str,
                    version: int | None = None) -> int | None:
        """Latest recorded transaction version for ``app_id`` at the
        given snapshot (default head), or None if the app never wrote.
        This is the spec's reader obligation: a writer that crashed
        after commit but before its own bookkeeping asks the LOG what
        it last durably did."""
        t = self.snapshot(version).transactions.get(app_id)
        v = None if t is None else t.get("version")
        if v is not None and not isinstance(v, int):
            # an external writer's unparseable version (replay keeps
            # it raw): treating it as "never wrote" would re-admit
            # duplicates, so the idempotence faces refuse instead
            raise ValueError(
                f"txn for appId {app_id!r} carries malformed version "
                f"{v!r} — cannot determine the idempotence watermark"
            )
        return v

    def commit_with_txn(
        self,
        actions: list[dict],
        app_id: str,
        txn_version: int,
        now_ms: int = 0,
        max_retries: int = 5,
    ) -> int | None:
        """Commit ``actions`` plus a ``txn`` action at head — SKIPPING
        the whole commit when ``app_id`` already recorded a version
        >= ``txn_version`` (the spec's idempotence rule: a replayed
        write must be a no-op, not a duplicate).  Returns the committed
        version, or None when skipped.  On a FileExistsError race
        (another writer claimed the version first) head is re-read and
        the commit retried HERE, up to ``max_retries`` times — the skip
        check re-runs before each attempt, so a raced duplicate of this
        same txn collapses to a no-op mid-loop (ADVICE r12: the
        docstring promised a caller-side retry no in-repo caller
        performed; the loop now lives where the promise is).  After
        ``max_retries`` consecutive losses the last FileExistsError
        propagates — a livelocked writer should surface, not spin."""
        last_err: FileExistsError | None = None
        for _ in range(max_retries + 1):
            head = self.latest_version()
            last = self.txn_version(app_id, head)
            if last is not None and txn_version <= last:
                return None
            txn: dict = {"appId": app_id, "version": txn_version}
            if now_ms:
                txn["lastUpdated"] = now_ms
            try:
                self.commit(head + 1, [{"txn": txn}, *actions])
                return head + 1
            except FileExistsError as e:
                last_err = e  # lost the race: re-read head, re-check
        raise last_err

    def append_stream_batch(
        self,
        batch_df: DataFrame,
        app_id: str,
        batch_id: int,
        now_ms: int = 0,
    ) -> int | None:
        """Idempotent micro-batch APPEND — the Delta streaming-sink
        contract: land ``batch_df`` as parquet data files plus ONE
        commit carrying ``txn {appId, version=batch_id}``, skipping
        entirely (return None) when the log already records this or a
        later batch for ``app_id``.  Structured Streaming's replay
        contract (a batch id may be re-delivered after failure with
        identical contents) then degrades to a log-checked no-op — the
        txn-action mechanism production Delta sinks use, stronger than
        a batch_id-directory overwrite because it survives even the
        LOSS of the stream's own checkpoint (the re-delivered batch 0
        is refused by the table itself).

        A missing table is created by the first batch (protocol +
        metaData derived from the batch schema, version 0) — the
        create-on-first-write behavior of production streaming sinks.
        Partitioned targets split per tuple exactly like the
        partitioned MERGE (one file per tuple in the SAME txn commit,
        string-encoded partitionValues, long/int/string/boolean
        partition types only); column-mapped tables write under
        physical names exactly like the merge face — name mode via
        the metadata physicalName, id mode (round 13) via per-footer
        resolution with field ids stamped into the new footers; an
        EMPTY batch still commits its txn action so the version
        watermark advances.

        Crash-safety without a rename-capable commit service: parts
        move from a staging dir beside them to DETERMINISTIC names
        ``txn-<app8>-<batch>-<i>`` in the table root BEFORE the commit;
        a crash between move and commit leaves orphans a retry
        OVERWRITES byte-for-byte (same batch => same contents per the
        replay contract) and vacuum() reclaims otherwise.

        Scale: the data lands via one distributed ``batch_df.write``
        job (executors write parts in parallel); the driver touches
        only file names and one commit JSON — metadata scale, same as
        every other write face."""
        import hashlib as _hashlib
        import uuid as _uuid

        tag = _hashlib.md5(app_id.encode()).hexdigest()[:8]
        if not self.versions():
            os.makedirs(self.table_dir, exist_ok=True)
            create: list[dict] = [
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 2}},
                {"metaData": {
                    "id": str(_uuid.UUID(bytes=_hashlib.md5(
                        f"{self.table_dir}#table-id".encode()
                    ).digest())),
                    "format": {"provider": "parquet", "options": {}},
                    # Spark's StructType JSON is Delta's schemaString
                    # form for the primitive types a stream carries
                    "schemaString": batch_df.schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": now_ms,
                }},
            ]
            self.commit(0, [
                {"commitInfo": {"timestamp": now_ms,
                                "operation": "STREAMING CREATE"}},
                *create,
            ])
        snap = self.snapshot()
        last = (snap.transactions.get(app_id) or {}).get("version")
        if last is not None and not isinstance(last, int):
            raise ValueError(
                f"txn for appId {app_id!r} carries malformed version "
                f"{last!r} — cannot determine the idempotence watermark"
            )
        if last is not None and batch_id <= last:
            return None
        # column mapping writes under physical names (the merge
        # face's rule): name mode via metadata physicalName, id mode
        # per-footer with stamped output footers (round 13)
        phys = (self._resolve_physical(snap, snap.files,
                                       "append_stream_batch")
                if snap.column_mapping_mode != "none"
                else None)
        schema = snap.schema()
        part_cols = list(snap.partition_columns)
        if schema is not None:
            want = [f.name for f in schema.fields]
            if set(batch_df.columns) != set(want):
                raise ValueError(
                    f"batch columns {sorted(batch_df.columns)} != table "
                    f"columns {sorted(want)}"
                )
            batch_df = batch_df.select(*want)
        if part_cols:
            # per-tuple split, exactly the partitioned-merge shape:
            # one file per tuple in the SAME single txn commit,
            # partitionValues in the protocol's string encoding (the
            # set the read path's CAST inverts exactly)
            _check_partition_types(schema, part_cols,
                                   "append_stream_batch")
            data_names = [c for c in batch_df.columns
                          if c not in part_cols]
            tuples, cond_for = split_tuples(batch_df, part_cols)
            adds = []
            for gi, t in enumerate(tuples):
                rel = f"txn-{tag}-{batch_id:010d}-p{gi:05d}.parquet"
                write_parquet(
                    batch_df.where(cond_for(t)).select(*self._phys_cols(
                        snap, phys or {n: n for n in data_names},
                        data_names,
                    )),
                    os.path.join(self.table_dir, rel),
                )
                adds.append(self.add_action_for(
                    rel,
                    # physical key names under mapping (protocol rule)
                    partitionValues={(phys or {}).get(c, c): _pv_str(t[c])
                                     for c in part_cols},
                ))
        else:
            out_df = (batch_df.select(*self._phys_cols(
                snap, phys, batch_df.columns
            )) if phys else batch_df)
            adds = [
                self.add_action_for(os.path.basename(p))
                for p in write_parquet(out_df, lambda i: os.path.join(
                    self.table_dir,
                    f"txn-{tag}-{batch_id:010d}-{i:05d}.parquet",
                ))
            ]
        actions: list[dict] = [
            {"commitInfo": {"timestamp": now_ms,
                            "operation": "STREAMING UPDATE",
                            "operationParameters": {
                                "queryId": app_id,
                                "epochId": str(batch_id)}}},
        ]
        actions.extend(adds)
        return self.commit_with_txn(actions, app_id, batch_id,
                                    now_ms=now_ms)

    # ---- schema-evolution write faces (round 11; the Delta twins of
    # IcebergTable.add_column / rename_column) -------------------------
    def _physical_name_for(self, fid: int) -> str:
        """Deterministic ``col-<uuid>`` physical name for a new mapped
        column (conforming writers use a fresh UUID; this repo derives
        it from table + field id — the no-ambient-randomness rule)."""
        import hashlib as _hashlib
        import uuid as _uuid

        return "col-" + str(_uuid.UUID(bytes=_hashlib.md5(
            f"{self.table_dir}#col#{fid}".encode()
        ).digest()))

    def add_column(
        self, name: str, dtype: str, now_ms: int = 0
    ) -> int | None:
        """Schema evolution, the add face (PROTOCOL.md "Change
        Metadata"): appends a nullable field to the schemaString and
        commits ONE metaData action replacing the old one wholesale —
        the verbatim last metaData (id, format, createdTime) is
        preserved, only schemaString (and, under column mapping,
        ``delta.columnMapping.maxColumnId``) changes.  Under mapping
        mode ``name``/``id`` the new field gets a fresh field id and a
        deterministic ``col-<uuid>`` physical name, and the assigned id
        is returned; unmapped tables return None (the logical name IS
        the physical name).  Files written before the add null-fill on
        read: every read path pins the logged (current) schema, so the
        parquet reader supplies nulls for the missing column natively
        — no rewrite, exactly Delta's metadata-only ADD COLUMNS."""
        snap = self.snapshot()
        md = snap.metadata_action
        if md is None or snap.schema_json is None:
            raise ValueError("no metaData action in the log")
        dtype = _SPARK_TO_DELTA_TYPE.get(dtype, dtype)
        if dtype not in _DELTA_DDL_TYPES:
            raise NotImplementedError(
                f"no Delta primitive mapping for type {dtype!r} "
                f"(supported: {sorted(_DELTA_DDL_TYPES)})"
            )
        schema = json.loads(snap.schema_json)
        if any(f["name"] == name for f in schema["fields"]):
            raise ValueError(f"column {name!r} already exists")
        new_md = json.loads(json.dumps(md))
        new_field: dict = {
            "name": name, "type": dtype, "nullable": True, "metadata": {},
        }
        fid: int | None = None
        if snap.column_mapping_mode != "none":
            used = [fid or 0 for _, fid in _column_mapping(snap).values()]
            max_id = int(snap.configuration.get(
                "delta.columnMapping.maxColumnId", 0
            ))
            fid = max([max_id, *used]) + 1
            new_field["metadata"] = {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName":
                    self._physical_name_for(fid),
            }
            cfg = dict(new_md.get("configuration") or {})
            cfg["delta.columnMapping.maxColumnId"] = str(fid)
            new_md["configuration"] = cfg
        schema["fields"].append(new_field)
        new_md["schemaString"] = json.dumps(
            schema, separators=(",", ":")
        )
        self.commit(
            snap.version + 1,
            [
                {"commitInfo": {"timestamp": now_ms,
                                "operation": "ADD COLUMNS"}},
                {"metaData": new_md},
            ],
        )
        return fid

    def rename_column(self, old: str, new: str, now_ms: int = 0) -> None:
        """Schema evolution, the rename face — COLUMN-MAPPED tables
        only (PROTOCOL.md "Column Mapping": the mapping exists precisely
        to make renames metadata-only).  The field keeps its id and
        physical name; only the logical name in the schemaString
        changes, so every existing data file — pre- or post-rename,
        DV-carrying or not — keeps resolving through the unchanged
        physical column.  Unmapped tables refuse: their parquet files
        carry the LOGICAL names, and a metadata-only rename would
        orphan every existing file's column (Delta itself requires
        column mapping for RENAME COLUMN).  Partition columns refuse,
        mirroring :meth:`IcebergTable.rename_column` — partitionValues
        keys and checkpoint layouts were fixed at write time."""
        snap = self.snapshot()
        if snap.column_mapping_mode == "none":
            raise NotImplementedError(
                "rename_column requires column mapping (mode 'name' or "
                "'id'): an unmapped table's data files carry the "
                "logical names, so a metadata-only rename would orphan "
                "every existing file's column"
            )
        md = snap.metadata_action
        if md is None or snap.schema_json is None:
            raise ValueError("no metaData action in the log")
        schema = json.loads(snap.schema_json)
        if not any(f["name"] == old for f in schema["fields"]):
            raise ValueError(f"no such column {old!r}")
        if any(f["name"] == new for f in schema["fields"]):
            raise ValueError(f"column {new!r} already exists")
        if old in snap.partition_columns:
            raise ValueError(
                f"column {old!r} is a partition column — renaming it "
                "would diverge from the logged partitionColumns"
            )
        new_md = json.loads(json.dumps(md))
        new_schema = json.loads(snap.schema_json)
        for f in new_schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        new_md["schemaString"] = json.dumps(
            new_schema, separators=(",", ":")
        )
        self.commit(
            snap.version + 1,
            [
                {"commitInfo": {"timestamp": now_ms,
                                "operation": "RENAME COLUMN"}},
                {"metaData": new_md},
            ],
        )

    def drop_column(self, name: str, now_ms: int = 0) -> None:
        """Schema evolution, the drop face — COLUMN-MAPPED tables only
        (Delta itself requires column mapping for DROP COLUMN): remove
        the field from the schemaString, one metaData commit, no data
        rewrite.  Old files keep the physical column on disk but the
        pinned physical read schema no longer selects it (column
        pruning makes the dead bytes free at scan time).  A column
        RE-ADDED under the same logical name later gets a FRESH field
        id and physical name, so the dropped column's stale values can
        never resurface — the drop+re-add case name-based readers (and
        our Iceberg face) must refuse is exactly what the mapping
        indirection solves.  Unmapped tables refuse (their files carry
        logical names; a re-add would resurrect old values); partition
        columns and the last remaining data column refuse."""
        snap = self.snapshot()
        if snap.column_mapping_mode == "none":
            raise NotImplementedError(
                "drop_column requires column mapping (mode 'name' or "
                "'id'): an unmapped table's data files carry the "
                "logical names, so re-adding the name later would "
                "silently resurrect the dropped column's old values"
            )
        md = snap.metadata_action
        if md is None or snap.schema_json is None:
            raise ValueError("no metaData action in the log")
        schema = json.loads(snap.schema_json)
        if not any(f["name"] == name for f in schema["fields"]):
            raise ValueError(f"no such column {name!r}")
        if name in snap.partition_columns:
            raise ValueError(
                f"column {name!r} is a partition column — dropping it "
                "would orphan the logged partitionColumns"
            )
        remaining = [f for f in schema["fields"] if f["name"] != name]
        if not [f for f in remaining
                if f["name"] not in snap.partition_columns]:
            raise ValueError("cannot drop the last data column")
        new_md = json.loads(json.dumps(md))
        schema["fields"] = remaining
        new_md["schemaString"] = json.dumps(
            schema, separators=(",", ":")
        )
        self.commit(
            snap.version + 1,
            [
                {"commitInfo": {"timestamp": now_ms,
                                "operation": "DROP COLUMNS"}},
                {"metaData": new_md},
            ],
        )

    def add_action_for(self, rel_path: str, **extra) -> dict:
        """``add`` action for a data file already placed in the table
        dir (size/mtime from the filesystem, as writers log them)."""
        st = os.stat(os.path.join(self.table_dir, rel_path))
        return {
            "add": {
                "path": rel_path,
                "partitionValues": extra.pop("partitionValues", {}),
                "size": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
                "dataChange": True,
                **extra,
            }
        }

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 << 20,
        min_group: int = 2,
    ) -> dict | None:
        """OPTIMIZE-style bin-packing compaction (``Registry.compact``
        delegates here for delta tables).  Per partition tuple, live
        files under ``target_bytes`` are packed by
        :func:`hadoop_sync_spark.io.plan_bins`, the one planner of every
        compactor; each bin of ≥ ``min_group`` files rewrites into one file **with deletion vectors applied**
        (the rewrite reads through :meth:`read`'s DV path restricted to
        the bin), and one commit carries ``remove`` (old) + ``add`` (new)
        with ``dataChange: false`` — the protocol's marker that the
        logical table content is unchanged, exactly what OPTIMIZE logs.
        Rewritten files' DV descriptors disappear with their adds;
        untouched files keep theirs.

        Crash contract: new data stages under names no commit references
        until the final put-if-absent commit JSON lands — a crash before
        that leaves every snapshot intact and only unreferenced debris,
        which :meth:`vacuum` reclaims.  Returns a summary dict, or None
        when nothing qualified (a no-op makes NO commit)."""
        snap = self.snapshot()
        part_cols = list(snap.partition_columns)
        phys = self._resolve_physical(snap, snap.files, "compact")
        live = [snap.live[rel] for rel in snap.files]
        refusal = _hive_layout_refusal(
            snap.partition_columns, phys,
            [a.get("partitionValues") for a in live], "compact",
        )
        if refusal is not None:
            raise refusal
        bins = plan_bins(
            live,
            lambda a: a["size"],
            lambda a: tuple(sorted((a.get("partitionValues") or {}).items())),
            target_bytes,
            min_group,
        )
        if not bins:
            return None
        # the rewrite's columns come from the LOGGED schema, never a
        # sampled footer, so a bin mixing pre- and post-add_column files
        # keeps the added column's values; it leaves under the names
        # every other write face uses (_phys_cols)
        data_names = [f.name for f in snap.schema().fields
                      if f.name not in part_cols]
        version = snap.version + 1
        self._check_free(version)
        rewritten: set[str] = set()
        adds: list[dict] = []
        bytes_in = 0
        for i, (pv, group) in enumerate(bins):
            rels = {a["path"] for a in group}
            out = self.read(spark, paths=rels).select(
                *self._phys_cols(snap, phys, data_names)
            )
            rel = f"part-compact-{version:010d}-{i}.parquet"
            write_parquet(out, os.path.join(self.table_dir, rel))
            adds.append(
                self.add_action_for(
                    rel, partitionValues=dict(pv), dataChange=False
                )
            )
            rewritten |= rels
            bytes_in += sum(a["size"] for a in group)
        self.commit(
            version,
            [
                _remove_action(snap.live[r], False)
                for r in sorted(rewritten)
            ]
            + adds,
        )
        return {
            "version": version,
            "groups": len(bins),
            "files_in": len(rewritten),
            "files_out": len(adds),
            "bytes_in": bytes_in,
        }

    # ---- deletion vectors (protocol v3 readerFeature, round 8) ---------
    def _dv_positions(self, desc: dict) -> list[int]:
        """Resolve a deletionVector descriptor to its sorted deleted row
        indexes (module-level resolver; kept as a method for callers and
        tests)."""
        return _resolve_dv_positions(self.table_dir, desc)

    def _dv_file_path(self, desc: dict) -> str:
        """On-disk path of a file-backed DV descriptor ('u'/'p')."""
        return _dv_file_path(self.table_dir, desc)

    def _dv_delete_frame(self, spark: SparkSession, dv_map: dict):
        """(file, pos) delete frame for the DV anti-join, or None when
        every descriptor decodes to zero positions.  THREE regimes,
        decided from METADATA (the descriptors' summed ``cardinality``)
        before any payload decodes.  Medians of 4 ``read().count()``
        runs per regime (after a warm-up) on ``local[2]``, 4-vCPU host,
        14 files with every other row deleted:

        ============  =============  ===============
        positions     driver decode  executor decode
        ============  =============  ===============
        210k          2.72 s         3.90 s
        1M            11.49 s        8.13 s
        5M            24.27 s        27.04 s
        ============  =============  ===============

        The driver regime wins at 210k and loses at 1M, so the
        crossover lies between them; at 5M the two are within 11%,
        and the executor regime keeps the position list off the
        driver.  ``_DRIVER_DECODE_ROW_LIMIT`` (20k) sits below the
        crossover.  At 30 positions over 2,970 rows the driver regime
        took 0.38 s against 0.74 s: the executor regime's
        Python-worker job costs a fixed ~0.35 s.

        The regimes:

        - at or under ``_DRIVER_DECODE_ROW_LIMIT`` rows, positions
          expand driver-side into a local frame that broadcasts — no
          Spark job at all before the read's own scan;
        - up to ``_BROADCAST_DELETE_ROW_LIMIT``, the descriptors
          (metadata-scale) parallelize and each decodes ITS positions
          executor-side, then the result broadcasts — the driver never
          holds an O(cardinality) position list;
        - ABOVE the ceiling (a pathological delete set at 100 TB —
          e.g. a GDPR purge touching most rows), the broadcast itself
          would blow up: same executor decode, plain shuffle join, and
          a loud log line."""
        total = sum(
            int(d.get("cardinality") or 0) for d in dv_map.values()
        )
        if total <= _DRIVER_DECODE_ROW_LIMIT:
            del_rows = [
                (rel, int(pos))
                for rel, desc in sorted(dv_map.items())
                for pos in self._dv_positions(desc)
            ]
            if not del_rows:
                return None
            return F.broadcast(
                local_frame(spark, del_rows, "_d_file string, _d_pos long")
            )
        table_dir = self.table_dir
        items = sorted(dv_map.items())
        rdd = spark.sparkContext.parallelize(
            items, min(len(items), 64)
        ).flatMap(
            lambda kv: [
                (kv[0], int(p))
                for p in _resolve_dv_positions(table_dir, kv[1])
            ]
        )
        dels = spark.createDataFrame(rdd, "_d_file string, _d_pos long")
        if total <= _BROADCAST_DELETE_ROW_LIMIT:
            return F.broadcast(dels)
        import logging

        logging.getLogger(__name__).warning(
            "deletion-vector set of %d rows exceeds the broadcast "
            "ceiling (%d); falling back to executor-side DV decode + "
            "shuffle anti-join",
            total,
            _BROADCAST_DELETE_ROW_LIMIT,
        )
        return dels

    def _dv_descriptor(
        self,
        rel_path: str,
        positions: list[int],
        version: int,
        storage: str = "u",
    ) -> dict:
        """Serialize ``positions`` into a deletionVector descriptor —
        ``u`` writes the framed ``deletion_vector_<uuid>.bin`` (CRC'd
        portable Roaring, deterministic uuid per the
        no-ambient-randomness rule), ``i`` inlines the Base85 payload.
        Shared by :meth:`add_deletion_vector` (one file per commit) and
        the DML faces' driver tier (every affected file in ONE
        commit)."""
        positions = sorted(set(positions))
        if storage == "u":
            size = _dv_blob_write(
                self.table_dir, rel_path, version, positions
            )
            return _dv_u_descriptor(rel_path, version, size, len(positions))
        if storage == "i":
            data = _dv_serialize(positions)
            pad = (-len(data)) % 4
            return {
                "storageType": "i",
                "pathOrInlineDv": _b85_encode(data + b"\x00" * pad),
                "sizeInBytes": len(data),
                "cardinality": len(positions),
            }
        raise NotImplementedError(f"DV storage type {storage!r}")

    def add_deletion_vector(
        self,
        version: int,
        rel_path: str,
        positions: list[int],
        storage: str = "u",
    ) -> dict:
        """Commit a deletion vector against a live data file (fixture
        writer; REPLACES any prior DV on the file — callers pass the
        full deleted set).  Emits the protocol upgrade (v3 +
        deletionVectors feature), the remove of the prior file version,
        and the re-add carrying the descriptor — the action shape
        conforming writers produce.  ``storage`` ``u`` writes the
        framed ``deletion_vector_<uuid>.bin``; ``i`` inlines the
        Base85 payload."""
        snap = self.snapshot()
        if rel_path not in snap.live:
            raise ValueError(f"{rel_path} is not live in the snapshot")
        self._check_free(version)
        desc = self._dv_descriptor(rel_path, positions, version, storage)
        prev = dict(snap.live[rel_path])
        new_add = dict(prev)
        new_add["deletionVector"] = desc
        # upgrade preserves legacy-implied features: a column-mapped
        # table (reader 2) must keep columnMapping LISTED at reader 3
        # or conforming readers refuse the table (spec upgrade rule)
        proto = _protocol_with_feature(
            snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2},
            "deletionVectors",
        )
        self.commit(
            version,
            [
                {"protocol": proto},
                _remove_action(prev, True),
                {"add": new_add},
            ],
        )
        return desc

    #: the DML write faces' one size decision (:meth:`_fresh_positions`):
    #: up to this many matched (file, position) pairs collect into a
    #: driver list — deletion vectors build on the driver and the later
    #: joins take a broadcast local frame, no extra Spark job; above it
    #: the pairs stay a distributed frame and each file's vector builds
    #: and writes on the executors, so the driver holds one row per
    #: affected file.  Every step after the decision is shared.
    DELETE_WHERE_ROW_LIMIT = 1_000_000

    #: the change planner's driver cap on decoded DV positions
    #: (:meth:`_plan_changes`, behind read_changes and the delta_cdc
    #: stream) — an independent axis from the write faces' matched
    #: sets, so forcing the write faces onto their executor tier does
    #: not also cripple change-feed reads
    READ_CHANGES_ROW_LIMIT = 1_000_000

    #: merge key-match strategy threshold (round 12, measured): at or
    #: under this many distinct source keys the key scan takes a
    #: literal IN filter (pushed to the parquet scan, row-group stats
    #: prune — the win that matters when a tiny CDC batch lands on a
    #: huge table); above it, a semi-join against the distinct-keys
    #: frame.  Measured on the proxy grid: a 10k-literal IN cost 4x
    #: the 1k one in planning alone, and even the 1k IN (1.9 s) lost
    #: to the 10k semi-join (0.9 s) — the literal-tree cost swamps the
    #: pruning payoff well below 1k keys, so the threshold sits at the
    #: size where an IN list is still plan-trivial
    MERGE_IN_PUSHDOWN_KEY_LIMIT = 128

    def _resolve_physical(self, snap: Snapshot, rels, face: str) -> dict:
        """logical name -> physical column, for every face that reads or
        writes data files (``none`` is the identity, ``name`` the
        metadata physicalName).  ``id`` mode resolves from the footers
        of ``rels``: they are walked by field id with an early exit once
        every data field's id is seen — conforming id-mode writers stamp
        every file identically, so the common case reads ONE footer.
        The incumbent names win, so new files stay consistent with what
        conforming external writers already stamped.  A field id no
        walked footer carries (a column added by DDL, an empty table)
        takes the metadata physicalName: the pinned scan null-fills it,
        and this writer's own stamped files then establish it.
        Partition columns never reach data files; their physical name
        (the ``partitionValues`` key) is the metadata's, per spec.

        A footer without ids is non-conforming and refuses; so does one
        id carried under two names within the walked prefix (per-file
        plans are beyond the one scan).  A divergent file past the early
        exit is indistinguishable from a conforming one without an
        O(#files) walk on every read — best-effort by design.  Writers
        pair this with :meth:`_phys_cols` so id-mode output files carry
        footer field ids themselves."""
        mapping = _column_mapping(snap)
        if snap.column_mapping_mode != "id":
            return {n: pn for n, (pn, _) in mapping.items()}
        import pyarrow.parquet as _pq

        part_cols = set(snap.partition_columns)
        needed = {fid for n, (_, fid) in mapping.items()
                  if n not in part_cols}
        id_to_col: dict[int, str] = {}
        for rel in rels:
            footer = _pq.read_schema(os.path.join(self.table_dir, rel))
            any_id = False
            for i in range(len(footer.names)):
                fld = footer.field(i)
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is None:
                    continue
                any_id = True
                fid = int(fid)
                prev = id_to_col.setdefault(fid, fld.name)
                if prev != fld.name:
                    raise ValueError(
                        f"{face}: id-mode column mapping: field id {fid} "
                        f"appears as {prev!r} and {fld.name!r} across "
                        "data files — per-file physical-name "
                        "divergence is beyond the one-scan reader"
                    )
            if not any_id:
                raise ValueError(
                    f"id-mode column mapping: no field ids in the "
                    f"parquet footer of {rel!r} — non-conforming file"
                )
            if needed <= set(id_to_col):
                break
        return {
            n: (pn if n in part_cols else id_to_col.get(fid, pn))
            for n, (pn, fid) in mapping.items()
        }

    def _phys_field_meta(self, snap: Snapshot) -> dict:
        """logical name -> alias metadata for the write faces: in id
        mode, ``{"parquet.field.id": fid}`` so output footers carry
        the field ids id-mode readers match on (Spark's
        ``fieldId.write``, on by default, honors the alias metadata);
        empty for none/name mode (a stamped file in a name-mode table
        would poison inferred reads of mixed directories)."""
        if snap.column_mapping_mode != "id":
            return {}
        return {
            n: {"parquet.field.id": fid}
            for n, (_, fid) in _column_mapping(snap).items()
        }

    def _phys_cols(self, snap: Snapshot, phys: dict, names,
                   exprs: dict | None = None) -> list:
        """THE logical->physical output projection for every write
        face: ``[expr.alias(phys[n], metadata=<field id in id mode>)]``
        — one spelling, so id-mode data/copy/CDC files all leave this
        writer with stamped footers (Spark's fieldId.write, default
        on, honors the alias metadata) and id-mode readers resolve
        them like any conforming writer's files.  ``exprs`` overrides
        the source expression per column (the UPDATE SET map)."""
        fmeta = self._phys_field_meta(snap)
        return [
            ((exprs or {}).get(n, F.col(n)))
            .alias(phys[n], metadata=fmeta.get(n))
            for n in names
        ]

    def _match_pairs(
        self,
        spark: SparkSession,
        snap: Snapshot,
        column_filter: dict,
        face: str,
        in_filter: tuple | None = None,
        in_frame: tuple | None = None,
    ):
        """Shared DML matcher: scan ONLY the predicate columns with
        per-file row lineage (pinned physical schema, so pre-DDL files
        null-fill — NULL fails every range predicate, SQL semantics)
        and return ``(phys, pairs)``: the lazy ``(_fp, _pos)`` frame of
        matched rows, or None when the table has no files.

        ``column_filter`` is the ``{col: (lo, hi)}`` range form;
        ``in_filter`` is an optional ``(col, values)`` membership
        predicate (the merge face's key match, IN-pushed to the scan);
        ``in_frame`` is its over-cap twin ``(col, keys_df)`` — a
        one-column DataFrame semi-joined against the scan when the key
        set itself is too large for an IN list.  Guards:
        unknown/partition predicate columns."""
        if not column_filter and in_filter is None and in_frame is None:
            raise ValueError(f"{face} needs a predicate")
        pred_cols = dict(column_filter)
        if in_filter is not None:
            pred_cols.setdefault(in_filter[0], None)
        if in_frame is not None:
            pred_cols.setdefault(in_frame[0], None)
        schema = snap.schema()
        phys = self._resolve_physical(snap, snap.files, face)
        for c in pred_cols:
            if c not in phys:
                raise ValueError(f"no such column {c!r}")
            if c in snap.partition_columns:
                raise NotImplementedError(
                    f"{face} on partition column {c!r}: use the "
                    "file-level delete (partition values never reach "
                    "the data files)"
                )
        sel = list(snap.files)
        if not sel:
            return phys, None
        # a vector written over a Hive-inferred layout would make the
        # table unreadable: read() refuses vectors there
        refusal = _hive_layout_refusal(
            snap.partition_columns, phys,
            [a.get("partitionValues") for a in snap.live.values()], face,
        )
        if refusal is not None:
            raise refusal
        pred_fields = [schema[c] for c in pred_cols]
        scan = self._scan(
            spark, sel, pred_fields, phys, row_index="_pos", file_path="_fp"
        ).select("_fp", "_pos", *_logical_cols(pred_fields, (), phys))
        for c, (lo, hi) in column_filter.items():
            if lo is not None:
                scan = scan.filter(F.col(c) >= lo)
            if hi is not None:
                scan = scan.filter(F.col(c) <= hi)
        if in_filter is not None:
            scan = scan.filter(F.col(in_filter[0]).isin(in_filter[1]))
        if in_frame is not None:
            kc, keys_df = in_frame
            scan = scan.join(
                keys_df.toDF(kc), on=kc, how="leftsemi"
            )
        return phys, scan.select("_fp", "_pos")

    @contextlib.contextmanager
    def _fresh_positions(
        self,
        spark: SparkSession,
        snap: Snapshot,
        pairs: DataFrame | None,
        version: int,
        storage: str,
        face: str,
    ):
        """The DML faces' one size decision: materialize the matched
        ``pairs``, subtract the positions existing deletion vectors
        already delete, and write each affected file's new vector
        (existing ∪ fresh) where the positions live.  Yields a
        :class:`_FreshPositions`, the one shape every later step
        consumes.

        - At most :data:`DELETE_WHERE_ROW_LIMIT` matches collect into a
          driver list (the ``limit(cap + 1)`` bounds what the driver
          takes before deciding); vectors build on the driver and the
          fresh pairs become a broadcast :func:`io.local_frame`.
        - Above it the pairs stay distributed: existing vectors
          anti-join away (:meth:`_fresh_frame`), the fresh frame
          persists for the later joins, and each file's vector
          serializes and writes on the executors — the driver takes
          one row per affected file.  Inline (``i``) storage refuses
          here, before any file is written: a vector of that size has
          no place inside a JSON log line.

        The context owns the persisted frame."""
        if storage not in ("u", "i"):
            raise NotImplementedError(f"DV storage type {storage!r}")
        from hadoop_sync_spark.io import decode_file_uri

        cap = self.DELETE_WHERE_ROW_LIMIT
        matched = [] if pairs is None else pairs.limit(cap + 1).collect()
        self._check_free(version)
        abs_of = {
            rel: os.path.abspath(os.path.join(self.table_dir, rel))
            for rel in snap.live
        }
        persisted = None
        try:
            if len(matched) <= cap:
                rel_of = {a: rel for rel, a in abs_of.items()}
                per_file: dict[str, set[int]] = {}
                for r in matched:
                    rel = rel_of.get(decode_file_uri(r._fp))
                    if rel is None:
                        raise ValueError(
                            f"scanned file missing from the snapshot map "
                            f"(URI normalization mismatch): {r._fp}"
                        )
                    per_file.setdefault(rel, set()).add(r._pos)
                dvs, rows = [], []
                for rel in sorted(per_file):
                    desc = snap.live[rel].get("deletionVector")
                    existing = set(self._dv_positions(desc)) if desc else set()
                    fresh = per_file[rel] - existing
                    if not fresh:
                        continue  # every match was already deleted
                    dvs.append((rel, len(fresh), self._dv_descriptor(
                        rel, existing | fresh, version, storage
                    )))
                    rows += [(abs_of[rel], p, rel) for p in sorted(fresh)]
                fresh_positions = _FreshPositions(
                    dvs,
                    functools.cache(lambda: F.broadcast(local_frame(
                        spark, rows, "_afp string, _pos long, _rel string"
                    ))),
                )
            else:
                if storage != "u":
                    raise NotImplementedError(
                        f"{face}: matched set exceeds the driver tier and "
                        f"storage {storage!r} was requested — over-cap "
                        "deletion vectors are file-backed ('u') only"
                    )
                persisted = self._fresh_frame(spark, snap, pairs).persist()
                fresh_positions = _FreshPositions(
                    self._dv_build_distributed(snap, persisted, version),
                    lambda: persisted,
                )
            yield fresh_positions
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _dv_build_distributed(
        self, snap: Snapshot, fresh: DataFrame, version: int
    ) -> list:
        """Executor-side deletion-vector build over the distributed
        fresh ``(_fp, _pos, _rel)`` frame: per file, decode the existing
        vector, union, serialize the portable Roaring payload and write
        the framed ``.bin`` from the executor (shared storage on a real
        cluster; the uuid is deterministic per (file, version), so the
        committing driver re-derives the descriptor path without
        shipping payloads back).  Returns ``[(rel, fresh_rows,
        descriptor)]`` sorted by path."""
        table_dir = self.table_dir
        dv_of = {
            rel: add.get("deletionVector")
            for rel, add in snap.live.items()
        }

        def build(pdf):
            import pandas as pd

            rel = pdf["_rel"].iloc[0]
            if rel is None:
                raise ValueError(
                    f"scanned file missing from the snapshot map "
                    f"(URI normalization mismatch): {pdf['_fp'].iloc[0]}"
                )
            desc = dv_of[rel]
            existing = (
                set(_resolve_dv_positions(table_dir, desc))
                if desc else set()
            )
            fresh = {int(p) for p in pdf["_pos"]} - existing
            allpos = sorted(existing | fresh)
            size = _dv_blob_write(table_dir, rel, version, allpos)
            return pd.DataFrame(
                {"rel": [rel], "fresh": [len(fresh)],
                 "cardinality": [len(allpos)], "size": [size]}
            )

        rows = (
            fresh.groupBy("_rel")
            .applyInPandas(
                build,
                "rel string, fresh long, cardinality long, size long",
            )
            .collect()
        )
        return [
            (r.rel, r.fresh,
             _dv_u_descriptor(r.rel, version, r.size, r.cardinality))
            for r in sorted(rows, key=lambda r: r.rel)
        ]

    def _commit_dml(
        self,
        snap: Snapshot,
        version: int,
        operation: str,
        now_ms: int,
        fresh: "_FreshPositions",
        adds: list[dict],
        cdc: list[dict],
    ) -> None:
        """ONE commit for a DML face: commitInfo, the protocol upgrade,
        one remove/add pair per new deletion vector, the face's new
        files and its change-data files.  The upgrade rides only a
        commit that writes a vector — an all-new-keys merge stays
        readable by engines without the deletionVectors feature."""
        actions: list[dict] = [
            {"commitInfo": {"timestamp": now_ms, "operation": operation}}
        ]
        if fresh.dvs:
            proto = _protocol_with_feature(
                snap.protocol
                or {"minReaderVersion": 1, "minWriterVersion": 2},
                "deletionVectors",
            )
            if self._cdf_enabled(snap):
                proto = _protocol_with_writer_feature(
                    proto, "changeDataFeed"
                )
            actions.append({"protocol": proto})
        for rel, _, desc in fresh.dvs:
            add = dict(snap.live[rel])
            add["deletionVector"] = desc
            actions.append(_remove_action(snap.live[rel], True))
            actions.append({"add": add})
        self.commit(version, actions + adds + cdc)

    def delete_where(
        self,
        spark: SparkSession,
        column_filter: dict,
        now_ms: int = 0,
        storage: str = "u",
    ) -> dict:
        """Row-level ``DELETE FROM t WHERE ...`` the way production
        Delta's DV writer does it — MERGE-ON-READ, no data rewrite:
        scan ONLY the predicate columns (column-pruned, pushed-down)
        with per-file row lineage, union the matched positions into
        each affected file's existing deletion vector, and commit every
        re-add in ONE version.  ``column_filter`` is the engine's
        ``{col: (lo, hi)}`` range form (half-open ok), conjunctive
        across columns, and reaches the parquet scan as a pushed
        filter.  Positions an existing DV already covers are subtracted
        before counting, so ``rows_deleted`` counts NEW deletions only
        and a no-op predicate commits nothing.  A change-data-feed
        table also gets the deleted rows as ``delete`` change data.
        Supports unmapped and column-mapped tables: predicates resolve
        through :meth:`_resolve_physical`, like every read.  How the
        matched positions materialize is decided once by their count
        (:meth:`_fresh_positions`); every later step is shared."""
        snap = self.snapshot()
        phys, pairs = self._match_pairs(
            spark, snap, column_filter, "delete_where"
        )
        version = snap.version + 1
        with self._fresh_positions(
            spark, snap, pairs, version, storage, "delete_where"
        ) as fresh:
            if not fresh.dvs:
                return {"version": None, "files": 0, "rows_deleted": 0}
            cdc: list[dict] = []
            if self._cdf_enabled(snap):
                cdc = self._write_cdc_files(
                    spark, version, self._cdc_capture_matched(
                        spark, snap, phys, fresh, "delete"
                    )
                )
            self._commit_dml(
                snap, version, "DELETE", now_ms, fresh, [], cdc
            )
            return {
                "version": version,
                "files": len(fresh.dvs),
                "rows_deleted": fresh.rows,
            }

    @staticmethod
    def _partition_groups(snap: Snapshot, rels) -> dict[tuple, list]:
        """Affected files grouped by partition tuple — the updated
        copies must land one file per tuple so partitionValues stay
        authoritative."""
        groups: dict[tuple, list[str]] = {}
        for rel in rels:
            pv = snap.live[rel].get("partitionValues") or {}
            groups.setdefault(tuple(sorted(pv.items())), []).append(rel)
        return groups

    def _fresh_frame(self, spark, snap: Snapshot, frame: DataFrame):
        """Distributed matched ``(_fp, _pos)`` frame → the FRESH rows
        (``_fp``, ``_pos``, ``_afp``, ``_rel``): positions the
        snapshot's existing deletion vectors already delete are
        anti-joined away by the read path's :meth:`_minus_deleted`
        (its decode regimes included).  A
        scanned file missing from the snapshot keeps a null ``_rel``,
        which the vector build refuses."""
        from hadoop_sync_spark.io import decode_file_uri_col

        rel_map = local_frame(
            spark,
            [
                (os.path.abspath(os.path.join(self.table_dir, rel)),
                 rel)
                for rel in snap.live
            ],
            "_afp string, _rel string",
        )
        m = frame.withColumn("_afp", decode_file_uri_col("_fp")).join(
            F.broadcast(rel_map), "_afp", "left"
        )
        dv_map = {
            rel: add["deletionVector"]
            for rel, add in snap.live.items()
            if add.get("deletionVector")
        }
        return self._minus_deleted(spark, m, dv_map, "_rel", "_pos")

    @staticmethod
    def _cdf_enabled(snap: Snapshot) -> bool:
        """Table property ``delta.enableChangeDataFeed`` (PROTOCOL.md
        "Change Data Files"): when true, the DML write faces must
        capture their row-level changes as ``_change_data`` files +
        ``cdc`` actions, and :meth:`read_changes` must use those
        instead of deriving."""
        cfg = (snap.metadata_action or {}).get("configuration") or {}
        return str(
            cfg.get("delta.enableChangeDataFeed", "")
        ).lower() == "true"

    def _join_matched(self, spark, snap, phys, rels, sel):
        """Scan ``rels`` (full physical data columns, row lineage) and
        inner-join the matched ``(_afp, _pos)`` pairs — the shared
        matched-row materialization the UPDATE rewrite and the CDC
        captures build on.  Returns ``(joined_df, data_fields)`` with
        LOGICAL column names."""
        from hadoop_sync_spark.io import decode_file_uri_col

        part_cols = list(snap.partition_columns)
        data_fields = [f for f in snap.schema().fields
                       if f.name not in part_cols]
        scan = self._scan(
            spark, rels, data_fields, phys,
            row_index="_pos", file_path="_fp",
        ).select("_fp", "_pos", *_logical_cols(data_fields, (), phys))
        joined = scan.withColumn("_afp", decode_file_uri_col("_fp")).join(
            sel, ["_afp", "_pos"], "inner"
        )
        return joined, data_fields

    def _write_cdc_files(self, spark, version: int,
                         pieces: list) -> list[dict]:
        """Write ``_change_data/cdc-<version>-<i>.parquet`` files and
        return their ``cdc`` actions (PROTOCOL.md "Add CDC File":
        ``dataChange`` must be false — the rows describe changes, they
        are not table content).  ``pieces`` = [(partitionValues, df)]
        where ``df`` carries the table's PHYSICAL data columns plus
        ``_change_type`` — the same physical layout as data files, so
        mapped tables read their change feed like their data."""
        os.makedirs(
            os.path.join(self.table_dir, "_change_data"), exist_ok=True
        )
        actions: list[dict] = []
        for i, (pv, df) in enumerate(pieces):
            rel = f"_change_data/cdc-{version:010d}-{i}.parquet"
            dest = os.path.join(self.table_dir, rel)
            write_parquet(df, dest)
            actions.append({"cdc": {
                "path": rel,
                "partitionValues": dict(pv),
                "size": os.path.getsize(dest),
                "dataChange": False,
            }})
        return actions

    def _cdc_capture_matched(
        self, spark, snap, phys, fresh: "_FreshPositions", change_type
    ) -> list:
        """CDC pieces for matched EXISTING rows (delete preimages /
        update preimages / merge preimages): per partition tuple, the
        fresh matched rows under physical names tagged
        ``change_type``."""
        pieces = []
        groups = self._partition_groups(snap, fresh.rels)
        for pv_t in sorted(groups):
            rels = groups[pv_t]
            joined, data_fields = self._join_matched(
                spark, snap, phys, rels, fresh.pairs(rels)
            )
            pieces.append((dict(pv_t), joined.select(
                *self._phys_cols(snap, phys,
                                 [f.name for f in data_fields]),
                F.lit(change_type).alias("_change_type"),
            )))
        return pieces

    def _updated_copies(
        self,
        spark: SparkSession,
        snap: Snapshot,
        phys: dict,
        set_values: dict,
        version: int,
        fresh: "_FreshPositions",
    ) -> tuple[list[dict], list]:
        """The UPDATE rewrite: per affected partition tuple, scan the
        affected files, inner-join their fresh ``(_afp, _pos)`` pairs,
        apply the SET expressions and write ONE updated-copy file.
        Returns ``(add_actions, cdc_pieces)`` — the pieces (pre+
        postimage rows per tuple) are non-empty only when the table
        enables the change data feed."""
        from pyspark.sql import Column

        schema = snap.schema()
        cdf = self._cdf_enabled(snap)
        adds: list[dict] = []
        cdc_pieces: list = []
        groups = self._partition_groups(snap, fresh.rels)
        for gi, pv_t in enumerate(sorted(groups)):
            rels = groups[pv_t]
            upd, data_fields = self._join_matched(
                spark, snap, phys, rels, fresh.pairs(rels)
            )
            # ONE select: every SET expression evaluates against the
            # ORIGINAL row (simultaneous-assignment UPDATE semantics —
            # sequential withColumn would let `SET k=9, v=k+1` see 9)
            exprs = {
                c: (v if isinstance(v, Column) else F.lit(v))
                .cast(schema[c].dataType)
                for c, v in set_values.items()
            }
            out = upd.select(*self._phys_cols(
                snap, phys, [f.name for f in data_fields], exprs=exprs
            ))
            rel_new = f"part-update-{version:010d}-{gi}.parquet"
            write_parquet(out, os.path.join(self.table_dir, rel_new))
            adds.append(
                self.add_action_for(
                    rel_new, partitionValues=dict(pv_t)
                )
            )
            if cdf:
                pre = upd.select(
                    *self._phys_cols(snap, phys,
                                     [f.name for f in data_fields]),
                    F.lit("update_preimage").alias("_change_type"),
                )
                post = spark.read.parquet(
                    os.path.join(self.table_dir, rel_new)
                ).select(
                    "*",
                    F.lit("update_postimage").alias("_change_type"),
                )
                cdc_pieces.append(
                    (dict(pv_t), pre.unionByName(post))
                )
        return adds, cdc_pieces

    def update_where(
        self,
        spark: SparkSession,
        column_filter: dict,
        set_values: dict,
        now_ms: int = 0,
        storage: str = "u",
    ) -> dict:
        """Row-level ``UPDATE t SET ... WHERE ...`` the merge-on-read
        way: the matched rows' positions union into each affected
        file's deletion vector AND their updated copies append as new
        data files — one file per affected partition tuple, all in ONE
        commit, exactly production Delta's DV-backed UPDATE.
        ``column_filter`` is the ``{col: (lo, hi)}`` range form;
        ``set_values`` maps column -> literal or pyspark Column
        expression (evaluated against the matched rows' LOGICAL
        columns, cast to the column's schema type).  Rows an existing
        DV already deletes are excluded — updating them would resurrect
        deleted data.  Partition columns refuse in both the predicate
        and the SET list (a partition move is a rewrite, not an
        update); id-mode mapping resolves per-footer and the rewritten
        copies stamp footer field ids.  A change-data-feed table also
        gets pre- and postimages.  How the matched positions
        materialize is decided once by their count
        (:meth:`_fresh_positions`); every later step is shared."""
        if not set_values:
            raise ValueError("update_where needs at least one SET")
        snap = self.snapshot()
        schema = snap.schema()
        # cheap guards BEFORE the scan: a typo'd SET column should not
        # cost a full predicate scan first
        names = {f.name for f in schema.fields} if schema else set()
        for c in set_values:
            if c not in names:
                raise ValueError(f"no such column {c!r}")
            if c in snap.partition_columns:
                raise NotImplementedError(
                    f"update_where SET on partition column {c!r}: a "
                    "partition move is a rewrite, not an update"
                )
        phys, pairs = self._match_pairs(
            spark, snap, column_filter, "update_where"
        )
        version = snap.version + 1
        with self._fresh_positions(
            spark, snap, pairs, version, storage, "update_where"
        ) as fresh:
            if not fresh.dvs:
                return {"version": None, "files": 0, "new_files": 0,
                        "rows_updated": 0}
            adds, cdc_pieces = self._updated_copies(
                spark, snap, phys, set_values, version, fresh
            )
            self._commit_dml(
                snap, version, "UPDATE", now_ms, fresh, adds,
                self._write_cdc_files(spark, version, cdc_pieces),
            )
            return {
                "version": version,
                "files": len(fresh.dvs),
                "new_files": len(adds),
                "rows_updated": fresh.rows,
            }

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_col: str,
        now_ms: int = 0,
        storage: str = "u",
    ) -> dict:
        """MERGE/upsert (the Delta twin of
        :meth:`IcebergTable.merge_upsert`): matched target rows DV out
        of their files and the full source batch appends as one new
        file, ONE commit.  Delta has no equality deletes, so the match
        needs a target scan — but only of the KEY column (column-pruned,
        with the distinct source keys pushed as an IN filter, so
        row-group stats prune on the scan side), never the full rows.
        Work is O(target-key-scan + source).  A key set over
        :data:`DELETE_WHERE_ROW_LIMIT` semi-joins the scan instead of
        materializing an IN list; the matched positions then take the
        DML faces' one size decision (:meth:`_fresh_positions`).
        ``source`` must carry exactly the table's logical columns
        (INCLUDING partition columns — on a partitioned table the
        source rows decide their own tuples); unmapped and name-mode
        tables supported.  Partitioned tables split the source per
        partition tuple and land one upsert file per tuple IN THE SAME
        single commit — the upsert key may not be a partition column
        (its values never reach the data files, so the key scan could
        not match), and partition column types are limited to the
        string-round-trippable scalars (long/int/string/boolean, the
        types the read path's ``CAST(partitionValue AS type)`` inverts
        exactly).  A change-data-feed table also gets the matched
        preimages and the source rows as ``update_postimage`` or
        ``insert``."""
        snap = self.snapshot()
        schema = snap.schema()
        if schema is None:
            raise ValueError("no metaData action in the log")
        part_cols = list(snap.partition_columns)
        names = [f.name for f in schema.fields]
        if key_col not in names:
            raise ValueError(f"no such column {key_col!r}")
        if key_col in part_cols:
            raise NotImplementedError(
                f"merge_upsert key on partition column {key_col!r}: "
                "partition values never reach the data files, so the "
                "key scan cannot match them — key on a data column"
            )
        _check_partition_types(schema, part_cols, "merge_upsert")
        extra = set(source.columns) - set(names)
        missing = set(names) - set(source.columns)
        if extra or missing:
            raise ValueError(
                f"source columns must match the table's data columns "
                f"exactly (extra: {sorted(extra)}, "
                f"missing: {sorted(missing)})"
            )
        cap = self.DELETE_WHERE_ROW_LIMIT
        keys_df = source.select(
            F.col(key_col).cast(schema[key_col].dataType)
        ).distinct()
        keys = [r[0] for r in keys_df.limit(cap + 1).collect()]
        if not keys:
            return {"version": None, "files": 0, "rows_matched": 0,
                    "rows_inserted": 0}
        over_cap_keys = len(keys) > cap
        # `=` does not match NULL in SQL MERGE (and Iceberg's eqNullSafe
        # WOULD) — a null-keyed upsert is ambiguous across the format
        # twins, so both refuse; an over-cap key set checks by aggregate
        if (
            keys_df.where(F.col(key_col).isNull()).limit(1).count()
            if over_cap_keys
            else any(k is None for k in keys)
        ):
            raise ValueError(
                "merge_upsert source contains NULL keys — upsert keys "
                "must be non-null"
            )
        version = snap.version + 1
        # IN-list pushdown only for SMALL key sets (independent of the
        # 1M position cap): Catalyst planning of a large literal IN
        # list dominates the scan well before the cap — measured 4x at
        # 10k keys (see MERGE_IN_PUSHDOWN_KEY_LIMIT)
        use_in = (not over_cap_keys
                  and len(keys) <= self.MERGE_IN_PUSHDOWN_KEY_LIMIT)
        phys, pairs = self._match_pairs(
            spark, snap, {}, "merge_upsert",
            in_filter=((key_col, keys) if use_in else None),
            in_frame=(None if use_in else (key_col, keys_df)),
        )
        import pyarrow.parquet as _pq

        cast_src = source.select(*[
            F.col(n).cast(schema[n].dataType) for n in names
        ])
        data_names = [n for n in names if n not in part_cols]
        # one (partitionValues, row filter, file suffix) per tuple of a
        # partitioned table — metadata scale: each becomes one add
        # action in this same commit — or one table-wide group
        groups: list[tuple[dict, object, str]] = [({}, None, "")]
        if part_cols:
            tuples, cond_for = split_tuples(cast_src, part_cols)
            groups = [
                ({phys.get(c, c): _pv_str(t[c]) for c in part_cols},
                 cond_for(t), f"-{gi}")
                for gi, t in enumerate(tuples)
            ]
        with self._fresh_positions(
            spark, snap, pairs, version, storage, "merge_upsert"
        ) as fresh:
            new_adds: list[dict] = []
            rows_inserted = 0
            for pv, cond, suffix in groups:
                out = cast_src if cond is None else cast_src.where(cond)
                rel_new = f"part-upsert-{version:010d}{suffix}.parquet"
                dest = os.path.join(self.table_dir, rel_new)
                write_parquet(
                    out.select(*self._phys_cols(snap, phys, data_names)),
                    dest,
                )
                rows_inserted += _pq.read_metadata(dest).num_rows
                new_adds.append(
                    self.add_action_for(rel_new, partitionValues=pv)
                )
            cdc: list[dict] = []
            if self._cdf_enabled(snap) and fresh.dvs:
                # CDC capture (spec: a commit carrying cdc actions must
                # capture ALL its changes, inserts included; an all-new-
                # keys merge writes none — readers derive pure inserts
                # from the add actions).  Preimages are the matched old
                # rows; source rows tag update_postimage when their key
                # matched, insert otherwise.
                pieces = self._cdc_capture_matched(
                    spark, snap, phys, fresh, "update_preimage"
                )
                # matched-key set for source-row classification (the
                # preimage rows' key values, one more pruned scan)
                pre_all, _ = self._join_matched(
                    spark, snap, phys, fresh.rels, fresh.pairs(fresh.rels)
                )
                pre_keys = pre_all.select(
                    F.col(key_col).alias("_mk")
                ).distinct()
                tagged = cast_src.join(
                    pre_keys, cast_src[key_col] == pre_keys["_mk"], "left"
                ).withColumn(
                    "_change_type",
                    F.when(F.col("_mk").isNotNull(),
                           F.lit("update_postimage"))
                    .otherwise(F.lit("insert")),
                ).drop("_mk")
                for pv, cond, _ in groups:
                    out = tagged if cond is None else tagged.where(cond)
                    pieces.append((pv, out.select(
                        *self._phys_cols(snap, phys, data_names),
                        "_change_type",
                    )))
                cdc = self._write_cdc_files(spark, version, pieces)
            self._commit_dml(
                snap, version, "MERGE", now_ms, fresh, new_adds, cdc
            )
        return {
            "version": version,
            "files": len(fresh.dvs),
            "rows_matched": fresh.rows,
            "rows_inserted": rows_inserted,
        }

    def version_at(self, timestamp_ms: int) -> int:
        """Resolve the latest version whose commit timestamp is at or
        before ``timestamp_ms`` — production Delta's
        TIMESTAMP-AS-OF rule over ``commitInfo.timestamp``, kept
        MONOTONE the way production keeps its commit timestamps: a
        commit without commitInfo inherits its predecessor's, and a
        commit stamped EARLIER than its predecessor (writer clock
        skew) clamps up to it — otherwise a skewed commit would make
        the resolution include state written after the requested
        instant.  Only versions still present in the log resolve
        (expired history is not addressable, by design)."""
        best = None
        last_ts = None
        for v in self.versions():
            ts = next((a["commitInfo"].get("timestamp")
                       for a in self._commit_actions(v)
                       if "commitInfo" in a), None)
            if ts is None:
                ts = last_ts
            elif last_ts is not None and ts < last_ts:
                ts = last_ts  # clock-skew clamp (monotone rule)
            last_ts = ts
            if ts is not None and ts <= timestamp_ms:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp_ms}"
            )
        return best

    def restore(
        self,
        version: int | None = None,
        now_ms: int = 0,
        timestamp_ms: int | None = None,
    ) -> dict:
        """RESTORE to an earlier version — Delta's standard "undo a bad
        commit" face (reference parity: hadoopsync/Registry.java keeps
        old version dirs so the pointer can swap back).  One new commit
        re-establishes the target version's table state at the head of
        the log:

        - files live at the target but not now re-commit their
          target-version ``add`` verbatim with ``dataChange`` true;
        - files live at BOTH but with a DIFFERENT add action (a
          deletion vector grown since, a rewritten stats blob) emit a
          remove+add PAIR — production RESTORE's own action shape, and
          what lets :meth:`read_changes` report exactly the DV diff
          instead of a whole-file re-insert;
        - files live now but not at the target get ``remove`` actions;
        - the target's ``metaData`` re-commits when it differs from the
          current one (schema/partitioning/configuration roll back with
          the data — a post-target rename or add_column is undone,
          which the column-mapping indirection makes safe);
        - the protocol NEVER downgrades: features accumulated since the
          target stay listed (production RESTORE's own rule — readers
          of the restored state may still hit e.g. DV'd adds re-issued
          from the target), so no protocol action is emitted.

        History stays intact — time travel to the undone versions keeps
        working until :meth:`expire_log`; VACUUMed target data files
        (or their DV bins) refuse by name up front rather than
        committing a state with dangling references.  Through
        :meth:`read_changes` the restore surfaces as delete+insert
        pairs, the honest limit of a log-only CDC feed.  Returns
        ``{"version", "files_added", "files_removed",
        "metadata_restored"}``; restoring to a state identical to the
        current one commits nothing and returns the current version
        with zero counts.  ``timestamp_ms`` restores to the version
        :meth:`version_at` resolves — production's RESTORE TO
        TIMESTAMP."""
        if (version is None) == (timestamp_ms is None):
            raise ValueError("give version OR timestamp_ms")
        if timestamp_ms is not None:
            version = self.version_at(timestamp_ms)
        cur = self.snapshot()
        head = cur.version
        if not 0 <= version <= head:
            raise ValueError(
                f"version {version} out of range 0..{head}"
            )
        tgt = self.snapshot(version)
        adds = [
            dict(a)
            for p, a in sorted(tgt.live.items())
            if cur.live.get(p) != a
        ]
        pure_removes = sorted(set(cur.live) - set(tgt.live))
        # remove+add pairs for changed-while-live paths (the pair is
        # production RESTORE's shape; counts report only true exits)
        removes = pure_removes + [
            a["path"] for a in adds if a["path"] in cur.live
        ]
        missing = [
            a["path"]
            for a in adds
            if not os.path.exists(os.path.join(self.table_dir, a["path"]))
        ]
        for a in adds:
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") != "i" and not os.path.exists(
                self._dv_file_path(dv)
            ):
                missing.append(a["path"] + " (deletion vector)")
        if missing:
            raise FileNotFoundError(
                "RESTORE target references vacuumed files: "
                + ", ".join(missing)
            )
        meta_restored = (
            tgt.metadata_action is not None
            and tgt.metadata_action != cur.metadata_action
        )
        actions: list[dict] = [
            {"commitInfo": {"timestamp": now_ms, "operation": "RESTORE",
                            "operationParameters": {"version": version}}}
        ]
        if meta_restored:
            actions.append({"metaData": tgt.metadata_action})
        actions += [
            _remove_action(cur.live[p], True, deletionTimestamp=now_ms)
            for p in removes
        ]
        for a in adds:
            a["dataChange"] = True
            actions.append({"add": a})
        if len(actions) == 1:
            return {"version": head, "files_added": 0,
                    "files_removed": 0, "metadata_restored": False}
        self.commit(head + 1, actions)
        return {
            "version": head + 1,
            "files_added": len(adds),
            "files_removed": len(pure_removes),
            "metadata_restored": meta_restored,
        }

    def _plan_changes(self, from_version: int,
                      to_version: int) -> list[_CommitChanges]:
        """The change feed of commits ``from_version..to_version``,
        planned from the log alone: the one planner behind
        :meth:`read_changes` and the ``delta_cdc`` stream.  Replay
        starts from the live files before ``from_version``
        (:meth:`_live_before`), so a re-added live path is told apart
        from a new file.  Per commit:

        - its ``cdc`` actions when it has any: PROTOCOL.md "Change Data
          Files" makes them the commit's whole change set (and the only
          source of update pre/postimages);
        - otherwise the derived :class:`_FileChange` list.  An ``add``
          with ``dataChange`` of a path not live inserts the file's rows
          minus its own deletion vector; a ``dataChange`` remove of a
          live path not re-added deletes its then-live rows; a re-added
          path (paired with a remove, or an unpaired ``dataChange``
          re-add of a live path, which lax writers emit) changes only
          by its deletion-vector diff: newly covered positions delete,
          uncovered ones (a shrink) insert.  ``dataChange: false``
          (compaction) and a remove of a path not live change nothing.

        Deletion vectors decode on the driver, their summed cardinality
        over the range capped at :attr:`READ_CHANGES_ROW_LIMIT`."""
        if from_version > to_version:
            return []
        state = self._live_before(from_version)
        limit = self.READ_CHANGES_ROW_LIMIT
        budget = before = 0

        def dv_pos(*adds) -> list[set]:
            nonlocal budget
            descs = [(a or {}).get("deletionVector") for a in adds]
            budget += sum((d or {}).get("cardinality", 0) for d in descs)
            if budget > limit:
                raise ValueError(
                    f"change feed deletion vectors through commit {v} "
                    f"decode over READ_CHANGES_ROW_LIMIT ({limit:,}) "
                    "positions on the driver: " + (
                        f"commit {v} alone exceeds it, so no read_changes "
                        "range and no delta_cdc stream can pass it; set "
                        "delta.enableChangeDataFeed so such commits log "
                        "cdc files, or read the table at a version"
                        if budget - before > limit else
                        "read a narrower version range (a delta_cdc "
                        "stream bounds its batches by maxVersionsPerBatch)"
                    ))
            return [set(self._dv_positions(d)) if d else set()
                    for d in descs]

        def pv(rel, added, removed):
            # a value-less remove of a file added before the range still
            # attaches the values its add logged
            for a in (added.get(rel), state.get(rel), removed.get(rel)):
                if a and a.get("partitionValues"):
                    return a["partitionValues"]
            return None

        plan = []
        for v in range(from_version, to_version + 1):
            before = budget
            actions = self._commit_actions(v)
            added = {a["add"]["path"]: a["add"]
                     for a in actions if "add" in a}
            removed = {a["remove"]["path"]: a["remove"]
                       for a in actions if "remove" in a}
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            files: list[_FileChange] = []
            for rel, rm in ([] if cdc else removed.items()):
                if (rel not in added and rel in state
                        and rm.get("dataChange", True)):
                    (gone,) = dv_pos(state[rel])
                    files.append(_FileChange(
                        rel, "delete", False, sorted(gone),
                        pv(rel, added, removed)))
            for rel, add in ([] if cdc else added.items()):
                if not (rel in removed or add.get("dataChange", True)):
                    continue
                old, new = dv_pos(state.get(rel), add)
                if rel in state or rel in removed:
                    files += [
                        _FileChange(rel, kind, True, sorted(ps),
                                    pv(rel, added, removed))
                        for kind, ps in (("delete", new - old),
                                         ("insert", old - new)) if ps
                    ]
                else:
                    files.append(_FileChange(
                        rel, "insert", False, sorted(new),
                        pv(rel, added, removed)))
            for rel in removed:
                state.pop(rel, None)
            state.update(added)
            plan.append(_CommitChanges(v, cdc, files, next(
                (a["metaData"].get("schemaString")
                 for a in actions if "metaData" in a), None)))
        return plan

    def _live_before(self, version: int) -> dict:
        """The live files just before commit ``version``: the replayed
        ``snapshot(version - 1)``, or, when log expiry removed the
        commits below a checkpoint at ``version``, that checkpoint's
        files with commit ``version`` undone: its adds dropped and its
        removes put back (a remove logs the file's deletion vector and
        partition values).  Undone so, an unpaired re-add at
        ``version`` reads as a new file: the expired log no longer
        tells the two apart."""
        if version == 0:
            return {}
        try:
            return dict(self.snapshot(version - 1).live)
        except FileNotFoundError:
            if version not in self._checkpoint_files():
                raise
        live = dict(self.snapshot(version).live)
        actions = self._commit_actions(version)
        for a in actions:
            if "add" in a:
                live.pop(a["add"]["path"], None)
        live.update((a["remove"]["path"], a["remove"])
                    for a in actions if "remove" in a)
        return live

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed of commits ``from_version..to_version``
        (default latest): Delta CDF's read shape, with or without
        ``_change_data`` files.  :meth:`_plan_changes` plans it (the
        ``delta_cdc`` stream executes the same plan per file on its
        executors); this face executes it as one Spark scan of the
        touched data files plus broadcast joins, one scan per commit
        with ``cdc`` files.

        Output columns: the table's data columns (pinned to the
        ``to_version`` schema, so pre-``add_column`` files null-fill) +
        partition columns + ``_change_type`` + ``_commit_version``.
        Without ``cdc`` files, ``update_where``/``merge_upsert``
        surface as delete+insert pairs; with them (the write faces
        write them when the table sets ``delta.enableChangeDataFeed``)
        as ``update_preimage``/``update_postimage``.  Referenced data
        and cdc files must still exist (pre-vacuum) or the read refuses
        by name.  Mapped tables of both modes resolve through
        :meth:`_resolve_physical`, like :meth:`read`."""
        if to_version is None:
            to_version = self.latest_version()
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        end_snap = self.snapshot(to_version)
        schema = end_snap.schema()
        if schema is None:
            raise ValueError("no metaData action in the log")
        phys = self._resolve_physical(end_snap, end_snap.files,
                                      "read_changes")
        part_cols = list(end_snap.partition_columns)
        plan = self._plan_changes(from_version, to_version)
        changes = [(c.version, f) for c in plan for f in c.files]
        cdc_versions = [(c.version, c.cdc) for c in plan if c.cdc]
        pvs = {f.rel: f.pv for _, f in changes}
        touched = sorted(pvs)
        if not touched and not cdc_versions:
            return local_frame(spark, [], T.StructType(
                list(schema.fields)
                + [T.StructField("_change_type", T.StringType(), False),
                   T.StructField("_commit_version", T.LongType(), False)]
            ))
        data_fields = [f for f in schema.fields
                       if f.name not in part_cols]
        missing = [
            rel
            for rel in (touched
                        + [c["path"]
                           for _, cdcs in cdc_versions for c in cdcs])
            if not os.path.exists(os.path.join(self.table_dir, rel))
        ]
        if missing:
            raise FileNotFoundError(
                f"read_changes needs data files the log references but "
                f"disk no longer has (vacuumed?): {missing}"
            )
        # a change feed silently emitting NULL partition columns would
        # be wrong data (r11 review) — refuse loudly
        refusal = _hive_layout_refusal(
            part_cols, phys, [pvs[rel] for rel in touched], "read_changes",
        )
        if refusal is not None:
            raise refusal
        logical = _logical_cols(schema.fields, part_cols, phys)

        def final(frame):
            return frame.select(
                *logical,
                F.col("_change_type").cast("string").alias("_change_type"),
                F.col("_commit_version").cast("long")
                .alias("_commit_version"),
            )

        frames = []
        for v, cdcs in cdc_versions:
            paths = [c["path"] for c in cdcs]
            frames.append(final(self._attach_files(
                self._scan(
                    spark, paths,
                    data_fields
                    + [T.StructField("_change_type", T.StringType())],
                    {**phys, "_change_type": "_change_type"},
                ),
                end_snap, phys, paths,
                [c.get("partitionValues") for c in cdcs],
                what="delta cdc partition",
            ).withColumn("_commit_version", F.lit(v))))
        if touched:
            df = self._attach_files(
                self._scan(spark, touched, data_fields, phys,
                           row_index="_pos"),
                end_snap, phys, touched, [pvs[r] for r in touched],
                rel_col="_rel", what="delta change feed",
            )
            #: whole-file events, the positions they exclude, and the
            #: deletion-vector diffs' positions
            ev_rows = [(f.rel, v, f.kind) for v, f in changes
                       if not f.keep]
            exc_rows = [(f.rel, v, p) for v, f in changes if not f.keep
                        for p in f.positions]
            pos_rows = [(f.rel, v, f.kind, p) for v, f in changes
                        if f.keep for p in f.positions]
            if ev_rows:
                whole = df.join(F.broadcast(local_frame(
                    spark, ev_rows,
                    "_rel string, _commit_version long, _change_type string",
                )), "_rel")
                if exc_rows:
                    whole = whole.join(
                        F.broadcast(local_frame(
                            spark, exc_rows,
                            "_rel string, _commit_version long, _pos long",
                        )),
                        ["_rel", "_commit_version", "_pos"],
                        "left_anti",
                    )
                frames.append(final(whole))
            if pos_rows:
                frames.append(final(df.join(F.broadcast(local_frame(
                    spark, pos_rows,
                    "_rel string, _commit_version long, "
                    "_change_type string, _pos long",
                )), ["_rel", "_pos"])))
        return functools.reduce(DataFrame.unionByName, frames)

    # ---- checkpoints ---------------------------------------------------
    _CP_COLS = ("protocol", "metaData", "txn", "add", "remove")

    def write_checkpoint(self, version: int | None = None) -> str:
        """Compact the replay prefix ≤ version into
        ``N.checkpoint.parquet`` (one action per row, struct columns per
        the spec) and point ``_last_checkpoint`` at it.

        Known-lossy carry (ADVICE r12): a spec-lax external writer's
        EXTRA ``txn`` fields (anything beyond appId/version/lastUpdated)
        survive JSON replay and the V2 checkpoint's raw-shape
        passthrough, but this V1 writer's fixed parquet struct cannot
        hold them — pyarrow drops unknown dict keys — so they vanish
        once ``expire_log`` removes the pre-checkpoint commits.  The
        spec defines only the three fields, so the idempotence
        watermark itself is never lost (malformed VERSIONS still refuse
        loudly below); the extra fields are best-effort vendor baggage
        the V1 format has no column for."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        has_dv = any(a.get("deletionVector") for a in snap.live.values())
        proto = snap.protocol or (
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
            if has_dv
            else {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        rows: list[dict] = [{"protocol": proto}]
        if snap.schema_json is not None:
            md_src = snap.metadata_action or {}
            fmt = md_src.get("format") or {}
            rows.append(
                {
                    # the FULL metaData, not just the read-side fields:
                    # a checkpoint that dropped id/format/createdTime
                    # would make any later DDL re-commit (which replaces
                    # the metaData wholesale from the replayed action)
                    # lose the table's identity (round-11 review)
                    "metaData": {
                        "id": md_src.get("id"),
                        "format": {
                            "provider": fmt.get("provider", "parquet"),
                            "options": [
                                (k, v)
                                for k, v in (fmt.get("options")
                                             or {}).items()
                            ],
                        },
                        "createdTime": md_src.get("createdTime"),
                        "schemaString": snap.schema_json,
                        "partitionColumns": list(snap.partition_columns),
                        # configuration carries column-mapping mode; a
                        # checkpoint that dropped it would silently
                        # mis-read every physical column name
                        "configuration": [
                            (k, v) for k, v in snap.configuration.items()
                        ],
                    }
                }
            )
        # transaction identifiers: the spec REQUIRES checkpoints to
        # carry the latest txn per appId — dropping them would reset
        # every idempotent writer's watermark once expire_log() removes
        # the pre-checkpoint commits, silently re-admitting duplicates
        for app in sorted(snap.transactions):
            txn_out = dict(snap.transactions[app])
            ver = txn_out.get("version")
            if ver is not None and not isinstance(ver, int):
                # the parquet checkpoint's int64 column cannot hold a
                # lax writer's unparseable version; dropping the entry
                # would reset the watermark, so refuse cleanly
                raise ValueError(
                    f"cannot checkpoint txn for appId {app!r}: "
                    f"malformed version {ver!r}"
                )
            rows.append({"txn": txn_out})
        for path in snap.files:
            add = dict(snap.live[path])
            add["partitionValues"] = [
                (k, v) for k, v in (add.get("partitionValues") or {}).items()
            ]
            rows.append({"add": add})
        cols = {}
        for col in self._CP_COLS:
            cols[col] = [r.get(col) for r in rows]
        schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32()),
                         ("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [("id", pa.string()),
                         ("format",
                          pa.struct(
                              [("provider", pa.string()),
                               ("options",
                                pa.map_(pa.string(), pa.string()))]
                          )),
                         ("createdTime", pa.int64()),
                         ("schemaString", pa.string()),
                         ("partitionColumns", pa.list_(pa.string())),
                         ("configuration",
                          pa.map_(pa.string(), pa.string()))]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [("appId", pa.string()),
                         ("version", pa.int64()),
                         ("lastUpdated", pa.int64())]
                    ),
                ),
                pa.field("add", _cp_add_type()),
                pa.field(
                    "remove", pa.struct([("path", pa.string())])
                ),
            ]
        )
        table = pa.table(
            {c: pa.array(cols[c], type=schema.field(c).type)
             for c in self._CP_COLS},
            schema=schema,
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        cp_path = replace_file(
            _checkpoint_path(self.table_dir, snap.version),
            buf.getvalue().to_pybytes(),
        )
        self._point_last_checkpoint(snap.version, len(rows))
        return cp_path

    def _point_last_checkpoint(self, version: int, size: int) -> None:
        replace_file(
            os.path.join(self.log_dir, _LAST_CHECKPOINT),
            json.dumps({"version": version, "size": size}).encode(),
        )

    def write_checkpoint_v2(
        self, version: int | None = None, sidecars: int = 1
    ) -> str:
        """V2 checkpoint (PROTOCOL.md "V2 Checkpoints", round 9): a
        UUID-named ``N.checkpoint.<uuid>.json`` holding the non-file
        actions (protocol, metaData), ONE ``checkpointMetadata`` action
        naming its version, and ``sidecar`` actions pointing at
        ``_delta_log/_sidecars/<uuid>-<i>.parquet`` files that carry the
        file actions — the layout that lets engines write huge
        checkpoints in parallel.  ``sidecars=0`` inlines the file
        actions in the main file (also spec-legal).  UUIDs are
        deterministic (table+version-derived — the repo's
        no-ambient-randomness rule).  Points ``_last_checkpoint`` at
        it.

        Protocol rule (ADVICE r10): the spec permits V2 checkpoints only
        under a COMMITTED ``v2Checkpoint`` feature, so when the table's
        replayed protocol lacks it the upgrade is committed to the log
        first (one protocol-only commit at head) and the checkpoint is
        written at that new version — checkpoint-seeded and pure-replay
        snapshots then agree on the protocol.  Requesting a checkpoint
        at an explicit HISTORICAL version whose protocol lacks the
        feature refuses (commits are immutable; the upgrade cannot be
        retrofitted below head)."""
        import hashlib as _hashlib
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        if snap.protocol is None:
            # a log with no committed protocol: the default must be
            # COMMITTED too, not just embedded — a checkpoint claiming
            # a protocol replay never saw is the exact disagreement
            # this method exists to avoid (round-11 review)
            upgraded = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
            needs_commit = True
        else:
            upgraded = _upgrade_protocol_for_v2_checkpoint(snap.protocol)
            needs_commit = upgraded is not snap.protocol
        if needs_commit:
            head = self.latest_version()
            if snap.version != head:
                raise ValueError(
                    f"cannot write a V2 checkpoint at historical version "
                    f"{snap.version}: its committed protocol lacks the "
                    f"v2Checkpoint feature and commits are immutable — "
                    f"checkpoint the head (version {head}) instead"
                )
            self.commit(snap.version + 1, [{"protocol": upgraded}])
            snap = self.snapshot(snap.version + 1)
        proto = upgraded
        uid = _uuid.UUID(
            bytes=_hashlib.md5(
                f"{self.table_dir}#v2cp#{snap.version}".encode()
            ).digest()
        )
        actions: list[dict] = [
            {"protocol": proto},
            {"checkpointMetadata": {"version": snap.version}},
        ]
        if snap.schema_json is not None:
            # the FULL metaData verbatim (id/format/createdTime kept) —
            # a checkpoint dropping them would feed any later DDL
            # re-commit a lossy action (round-11 review)
            md_out = dict(snap.metadata_action or {})
            md_out["schemaString"] = snap.schema_json
            md_out["partitionColumns"] = list(snap.partition_columns)
            md_out["configuration"] = dict(snap.configuration)
            actions.append({"metaData": md_out})
        # txn actions are non-file actions: the V2 layout puts them in
        # the MAIN file alongside protocol/metaData (spec: sidecars
        # carry only add/remove) — same must-carry rule as V1
        actions.extend(
            {"txn": dict(snap.transactions[app])}
            for app in sorted(snap.transactions)
        )
        adds = [dict(snap.live[p]) for p in snap.files]
        n_rows = len(actions) + len(adds)
        if sidecars and adds:
            side_dir = os.path.join(self.log_dir, "_sidecars")
            os.makedirs(side_dir, exist_ok=True)
            add_type = _cp_add_type()
            for i in range(sidecars):
                chunk = adds[i::sidecars]
                rows = []
                for a in chunk:
                    a = dict(a)
                    a["partitionValues"] = [
                        (k, v)
                        for k, v in (a.get("partitionValues") or {}).items()
                    ]
                    rows.append(a)
                name = f"{uid}-{i}.parquet"
                buf = pa.BufferOutputStream()
                pq.write_table(
                    pa.table(
                        {"add": pa.array(rows, type=add_type)},
                        schema=pa.schema([pa.field("add", add_type)]),
                    ),
                    buf,
                )
                data = buf.getvalue().to_pybytes()
                replace_file(os.path.join(side_dir, name), data)
                actions.append(
                    {"sidecar": {"path": name, "sizeInBytes": len(data)}}
                )
        else:
            actions.extend({"add": a} for a in adds)
        cp_path = replace_file(
            os.path.join(
                self.log_dir, f"{snap.version:020d}.checkpoint.{uid}.json"
            ),
            "".join(
                json.dumps(a, separators=(",", ":")) + "\n" for a in actions
            ).encode(),
        )
        self._point_last_checkpoint(snap.version, n_rows)
        return cp_path

    # ---- lifecycle (the registry's A23 ops on the open format) --------
    def history(self) -> list[dict]:
        """One row per commit, newest first: version, file mtime, and
        the action mix — the DESCRIBE HISTORY shape.  Metadata-only."""
        out = []
        for v in reversed(self.versions()):
            counts: dict[str, int] = {}
            for action in self._commit_actions(v):
                for key in action:
                    counts[key] = counts.get(key, 0) + 1
            mtime = os.path.getmtime(_commit_path(self.table_dir, v))
            out.append(
                {
                    "version": v,
                    "timestamp_ms": int(mtime * 1000),
                    "actions": counts,
                }
            )
        return out

    def vacuum(self) -> list[str]:
        """Delete data files no longer referenced by the LATEST snapshot
        (the Delta VACUUM with retention 0 for this container's
        single-writer fixtures — production retention windows exist to
        protect concurrent readers of old snapshots; after vacuum, time
        travel to versions needing removed files fails at read, exactly
        like the registry's post-vacuum reads).  Deletion-vector
        ``.bin`` files are reclaimed the same way (round 8): a DV
        replaced by a newer one for the same data file becomes an
        orphan the moment the snapshot stops referencing it.  Returns
        deleted paths.  Never touches the log itself."""
        snap = self.snapshot()
        live = set(snap.files)
        live_dvs = set()
        for a in snap.live.values():
            dv = a.get("deletionVector")
            if dv and dv["storageType"] in ("u", "p"):
                live_dvs.add(os.path.abspath(self._dv_file_path(dv)))
        deleted = []
        for root, dirs, files in os.walk(self.table_dir):
            if _LOG_DIR in root.split(os.sep):
                continue
            for name in files:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.table_dir)
                if name.endswith(".parquet"):
                    if rel not in live:
                        os.remove(full)
                        deleted.append(rel)
                elif (
                    name.startswith("deletion_vector_")
                    and name.endswith(".bin")
                    and os.path.abspath(full) not in live_dvs
                ):
                    os.remove(full)
                    deleted.append(rel)
        return sorted(deleted)

    def expire_log(self) -> list[int]:
        """Log retention: delete commit JSONs strictly BELOW the newest
        checkpoint (their replay prefix is fully captured by it — the
        production log-cleanup rule, retention 0).  Snapshots at or
        above the checkpoint, and checkpoint-seeded reads, are
        unaffected; time travel below it then fails loudly at replay
        (the documented vacuumed-commit error).  Returns the expired
        versions."""
        cps = self._checkpoint_versions()
        if not cps:
            return []
        cutoff = cps[-1]
        expired = [v for v in self.versions() if v < cutoff]
        for v in expired:
            os.remove(_commit_path(self.table_dir, v))
        return expired

    def _seed_from_checkpoint(self, snap: Snapshot, version: int) -> None:
        import pyarrow.parquet as pq

        path = self._checkpoint_files()[version]
        if path.endswith(".json"):
            actions = []
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        actions.append(json.loads(line))
        else:
            actions = [
                _strip_checkpoint_nulls(row)
                for row in pq.read_table(path).to_pylist()
            ]
        for action in actions:
            self._seed_action(snap, action, version)

    def _seed_action(self, snap: Snapshot, action: dict, version: int):
        """Apply one checkpoint action, including the V2-only kinds:
        ``checkpointMetadata`` (must name the checkpoint's own version)
        and ``sidecar`` (file actions split into
        ``_delta_log/_sidecars/<name>.parquet`` per the V2 Checkpoint
        spec — read here and applied inline)."""
        import pyarrow.parquet as pq

        if "checkpointMetadata" in action:
            got = action["checkpointMetadata"].get("version")
            if got != version:
                raise ValueError(
                    f"v2 checkpoint names version {got}, file says "
                    f"{version} — corrupt checkpoint"
                )
            return
        if "sidecar" in action:
            side = os.path.join(
                self.log_dir, "_sidecars", action["sidecar"]["path"]
            )
            for row in pq.read_table(side).to_pylist():
                self._seed_action(
                    snap, _strip_checkpoint_nulls(row), version
                )
            return
        if "add" in action:
            pv = action["add"].get("partitionValues")
            if isinstance(pv, list):
                action["add"]["partitionValues"] = dict(pv)
        self._apply(snap, action)
