"""Apache Iceberg table-format reader/committer — the Iceberg sibling of
``delta_log.py``, implemented from the PUBLIC table spec
(iceberg.apache.org/spec, format v2) with no ``pyiceberg``/runtime
binding (absent in this container).  Manifest lists and manifests are
real Avro Object Container Files via the from-scratch codec in
``avro_codec.py``.

The metadata tree implemented:

- ``<table>/metadata/v<N>.metadata.json`` — table metadata: format
  version, table uuid, schemas (Iceberg field-id struct JSON), partition
  specs, the snapshot list (each with ``manifest-list`` path, timestamp,
  sequence number, operation summary), ``current-snapshot-id``,
  ``snapshot-log``; ``version-hint.text`` carries N (the HadoopCatalog
  convention, also public).
- snapshot → **manifest list** (Avro): one row per manifest with path,
  length, spec id, content kind, sequence numbers, added/existing/
  deleted file+row counts, and per-partition-field summaries
  (``contains_null`` + lower/upper bounds) — the layer Iceberg's scan
  planning prunes on before touching any manifest.
- manifest → **manifest entries** (Avro): status
  (EXISTING=0/ADDED=1/DELETED=2), snapshot id, sequence numbers, and the
  ``data_file`` struct (content, path, format, partition values, record
  count, file size).  A file is live in a snapshot iff its newest entry
  has status ≠ DELETED and ``content`` = data.

Commits follow Iceberg's optimistic protocol shape through the one
commit primitive the registry and the Delta log share
(:mod:`hadoop_sync_spark.commit`): every write face reads its base
version once, derives the new version and every version-named file
(sequence number, snapshot id, manifest and delete-file names) from it,
checks that ``v(N+1).metadata.json`` is still free before its first
file write, writes the manifests + manifest list, commits
``v(N+1).metadata.json`` put-if-absent (two writers racing the same
version: exactly one wins, the loser raises ``CommitConflict``), then
points ``version-hint.text`` at it.  Readers probe past the hint, so a
crash between the metadata and the hint loses nothing.

``delete`` is copy-on-write at the metadata level: a replacement
manifest rewrites surviving entries as EXISTING and removed ones as
DELETED, exactly how Iceberg's ``overwrite`` snapshots express
file-level deletes.  **Merge-on-read is implemented too**
(round 8): position-delete files (reserved-field-id (file_path, pos)
parquet, content=1) and equality-delete files (equality_ids columns,
content=2) commit into separate delete manifests with spec-correct v2
sequence-number inheritance and carry-forward, and ``read`` subtracts
them in one delete-apply (``_minus_deletes``): one broadcast anti-join
keyed on ``_metadata.row_index`` for every position delete and one
null-safe column-equality anti-join per equality-id set, honoring the
sequence rules (position: data seq ≤ delete seq; equality: strictly
older — upsert semantics).

Scale posture: identical to the Delta reader — the metadata walk is
KB-scale driver work (exactly where production Iceberg plans scans: the
manifest-list layer exists so planning reads O(manifests touched), not
O(files)); the selected data files feed a plain distributed
``spark.read.parquet`` with pushdown/pruning intact.  Partition pruning
happens at BOTH metadata layers: manifest-list field summaries skip
whole manifests, entry partition values skip files — before a single
data byte is read.

Reference parity: the reference's catalog tracks shards per table
(CitusMetadataSync); Iceberg's manifest tree is the open-format
equivalent of that shard list, which is why ``Registry.diff`` can treat
a snapshot as FS state (the round-7 Delta integration pattern, A12-A16).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
from dataclasses import dataclass, field as dataclasses_field
from typing import NamedTuple

from hadoop_sync_spark.avro_codec import read_ocf, write_ocf
from hadoop_sync_spark.commit import check_free, put_if_absent, replace_file
from hadoop_sync_spark.io import (
    BROADCAST_DELETE_ROW_LIMIT as _BROADCAST_DELETE_ROW_LIMIT,
    DRIVER_DECODE_ROW_LIMIT as _DRIVER_DECODE_ROW_LIMIT,
    local_frame,
    plan_bins,
    split_tuples,
    write_parquet,
)

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2
#: data_file.content (spec: Data File struct)
_CONTENT_DATA = 0
_CONTENT_POS_DELETES = 1
_CONTENT_EQ_DELETES = 2
#: manifest_file.content (spec: Manifest Lists)
_MANIFEST_DATA = 0
_MANIFEST_DELETES = 1
#: reserved field ids of the position-delete file schema (spec:
#: Position Delete Files)
_POS_DELETE_FILE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545

#: Spark simpleString → Iceberg primitive type names (the subset the
#: fixture tables need; anything else raises honestly).
_SPARK_TO_ICEBERG = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}

#: the spec's primitive type-promotion lattice ("Schema Evolution":
#: int → long, float → double; decimal widening is out of our type
#: map).  JSON-encoded type strings, matching _rename_history's walk.
_PROMOTIONS = {('"int"', '"long"'), ('"float"', '"double"')}


def _iceberg_schema_json(fields: list[tuple[str, str]]) -> dict:
    """[(name, spark_type)] → Iceberg struct schema with field ids."""
    out = []
    for i, (name, spark_t) in enumerate(fields, start=1):
        if spark_t not in _SPARK_TO_ICEBERG:
            raise NotImplementedError(
                f"no Iceberg mapping for Spark type {spark_t!r}"
            )
        out.append(
            {
                "id": i,
                "name": name,
                "required": False,
                "type": _SPARK_TO_ICEBERG[spark_t],
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": out}


def _partition_avro_fields(spec_fields: list[dict]) -> list[dict]:
    """Iceberg spec fields → Avro record fields for the ``partition``
    struct inside data_file.  The type rides in the spec; ``date`` (the
    spec's result type for the ``day`` transform) is Avro int underneath
    (days from epoch — spec Appendix A maps date to ``int`` with the
    ``date`` logical annotation, which plain-int readers interop with)."""
    avro_t = {"int": "int", "long": "long", "string": "string", "date": "int"}
    return [
        {
            "name": f["name"],
            "type": ["null", avro_t[f["result-type"]]],
            "default": None,
        }
        for f in spec_fields
    ]


def _manifest_entry_schema(spec_fields: list[dict]) -> dict:
    part = {
        "type": "record",
        "name": "r102",
        "fields": _partition_avro_fields(spec_fields),
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            # equality-delete files only (content=2): schema field ids
            # the delete rows compare on (spec: equality_ids, id 135)
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
            },
            # per-COLUMN value bounds (spec: lower_bounds id 125 /
            # upper_bounds id 128, map<field id, single-value bytes>
            # ridden as Avro array-of-record like Iceberg's own files;
            # round 9) — the layer that prunes FILES on non-partition
            # predicates before any data byte is read
            {
                "name": "lower_bounds",
                "type": ["null", {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "k126_v127",
                        "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "bytes"},
                        ],
                    },
                }],
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": ["null", {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "k129_v130",
                        "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "bytes"},
                        ],
                    },
                }],
                "default": None,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
            },
            {"name": "data_file", "type": data_file},
        ],
    }


_FIELD_SUMMARY = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
            "default": None,
        },
    ],
}


def _le_bytes(v, typ: str) -> bytes:
    """Iceberg single-value serialization for bounds (spec Appendix D):
    little-endian for int/long (date = int days from epoch, spec
    Appendix D "Single-value serialization"), UTF-8 for strings."""
    import struct as _s

    if typ in ("int", "date"):
        return _s.pack("<i", v)
    if typ == "long":
        return _s.pack("<q", v)
    if typ == "double":
        return _s.pack("<d", v)
    if typ == "float":
        return _s.pack("<f", v)
    if typ == "string":
        return v.encode("utf-8")
    raise NotImplementedError(f"bound serialization for {typ!r}")


def _from_le_bytes(b: bytes, typ: str):
    import struct as _s

    if typ in ("int", "date"):
        return _s.unpack("<i", b)[0]
    if typ == "long":
        # a promoted column's pre-promotion bounds are 4-byte ints —
        # the single-value serialization is width-determined (spec
        # Appendix D), so read by buffer width
        return _s.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if typ == "double":
        return _s.unpack("<f" if len(b) == 4 else "<d", b)[0]
    if typ == "float":
        return _s.unpack("<f", b)[0]
    if typ == "string":
        return b.decode("utf-8")
    raise NotImplementedError(f"bound deserialization for {typ!r}")


def parquet_column_bounds(
    path: str, fields: list[dict]
) -> tuple[dict, dict]:
    """Per-column [min, max] bounds from a parquet file's FOOTER
    statistics (no data pages read), serialized to the spec's
    single-value bytes keyed by schema field id — what a conforming
    writer stamps into ``lower_bounds``/``upper_bounds``.  Columns
    without footer stats, with unsupported types, or absent from the
    file are skipped (their absence never prunes — sound)."""
    import pyarrow.parquet as pq

    by_name = {
        f["name"]: (f["id"], f["type"])
        for f in fields
        if isinstance(f["type"], str)
    }
    vals_lo: dict[int, object] = {}
    vals_hi: dict[int, object] = {}
    typ_of: dict[int, str] = {}
    md = pq.read_metadata(path)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            info = by_name.get(col.path_in_schema)
            st = col.statistics
            if info is None or st is None or not st.has_min_max:
                continue
            fid, typ = info
            mn, mx = st.min, st.max
            if typ == "string" and isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
            if typ == "date":
                # footer stats surface python dates; the spec's
                # single-value form is int days from epoch
                import datetime as _dt

                if isinstance(mn, _dt.date):
                    epoch = _dt.date(1970, 1, 1)
                    mn, mx = (mn - epoch).days, (mx - epoch).days
            typ_of[fid] = typ
            vals_lo[fid] = mn if fid not in vals_lo else min(vals_lo[fid], mn)
            vals_hi[fid] = mx if fid not in vals_hi else max(vals_hi[fid], mx)
    lo: dict[int, bytes] = {}
    hi: dict[int, bytes] = {}
    for fid, v in vals_lo.items():
        try:
            lo[fid] = _le_bytes(v, typ_of[fid])
            hi[fid] = _le_bytes(vals_hi[fid], typ_of[fid])
        except NotImplementedError:
            # a column type without single-value serialization skips
            # INDIVIDUALLY — a partial map over the supported columns is
            # equally sound (absence never prunes), and discarding the
            # whole file's map was pure selectivity loss on mixed-type
            # tables (ADVICE r9)
            lo.pop(fid, None)
            continue
    return lo, hi


# ------------------------------------------------------- partition transforms
def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public domain algorithm; the hash the
    Iceberg spec mandates for bucket transforms, Appendix B)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h & 0x80000000 else h


def transform_value(transform: str, value):
    """Apply an Iceberg partition transform to a SOURCE-domain value
    (spec "Partition Transforms"): identity; ``bucket[N]`` =
    ``(murmur3(v) & Int.MAX) % N`` with int/long hashed as 8-byte
    little-endian longs and strings as UTF-8 (Appendix B — so buckets
    agree byte-for-byte with every conforming writer); ``truncate[W]``
    = ``v - (v mod W)`` for integers (mod always non-negative) and the
    W-codepoint prefix for strings.  None maps to None under every
    transform.  Temporal transforms (spec "Partition Transforms" table):
    ``year``/``month``/``day`` over dates and timestamps, ``hour`` over
    timestamps — all FLOOR-based ordinals from the 1970 epoch (so
    1969-12-31 → year −1, month −1, day −1), matching the spec's example
    column (2017-11-16 → year 47, month 574, day 17486; its 22:31:08
    timestamp → hour 17486·24+22 = 419686).  Source values must be
    ``datetime.date`` /
    ``datetime.datetime`` (naive = UTC, the Iceberg timestamp type) —
    a bare int is ambiguous between days-from-epoch and micros and
    raises rather than guessing.  ``void`` maps every value to None
    (spec: the v1 partition-evolution tombstone — dropped fields keep
    their slot with the void transform; external v1-evolved specs
    carry them and record null for every file)."""
    import datetime as _dt

    if transform == "void":
        return None
    if value is None or transform == "identity":
        return value
    if transform in ("year", "month", "day", "hour"):
        is_ts = isinstance(value, _dt.datetime)
        if not is_ts and not isinstance(value, _dt.date):
            raise NotImplementedError(
                f"{transform} transform on {type(value).__name__} "
                "(pass datetime.date/datetime.datetime)"
            )
        if transform == "hour":
            if not is_ts:
                raise NotImplementedError("hour transform on date")
            micros = (
                value - _dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
            ) // _dt.timedelta(microseconds=1)
            return micros // 3_600_000_000
        d = value.date() if is_ts else value
        if transform == "year":
            return d.year - 1970
        if transform == "month":
            return (d.year - 1970) * 12 + (d.month - 1)
        return (d - _dt.date(1970, 1, 1)).days
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        if isinstance(value, bool):
            raise NotImplementedError("bucket on boolean")
        if isinstance(value, int):
            data = (value & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
        elif isinstance(value, str):
            data = value.encode("utf-8")
        elif isinstance(value, (bytes, bytearray)):
            data = bytes(value)
        else:
            raise NotImplementedError(
                f"bucket transform on {type(value).__name__}"
            )
        return (_murmur3_32(data) & 0x7FFFFFFF) % n
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(value, int) and not isinstance(value, bool):
            return value - (value % w)
        if isinstance(value, str):
            return value[:w]
        raise NotImplementedError(
            f"truncate transform on {type(value).__name__}"
        )
    raise NotImplementedError(f"partition transform {transform!r}")


def _bucket_hash_i64_np(vals):
    """Vectorized MurmurHash3 x86 32-bit over int64 values hashed as
    8-byte little-endian longs (spec Appendix B) — numpy modular uint32
    arithmetic, bit-for-bit equal to :func:`_murmur3_32` on the same
    bytes (property-tested).  Returns uint32 hashes; callers apply
    ``(h & Int.MAX) % N``."""
    import numpy as np

    u = np.asarray(vals, dtype=np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.zeros(len(u), dtype=np.uint32)
    for shift in (np.uint64(0), np.uint64(32)):
        k = ((u >> shift) & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)  # total byte length
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return h


def transform_column(transform: str, src: str, src_type: str):
    """Per-ROW twin of :func:`transform_value`: a pyspark Column
    computing the PARTITION-DOMAIN value of ``transform`` over source
    column ``src`` (Iceberg type ``src_type``) — what lets the write
    faces split a frame on bucket/truncate/temporal default specs
    (round 13, VERDICT r12 item 2) instead of refusing.

    Everything but bucket stays JVM-side (whole-stage codegen):
    truncate via pmod/substring, temporal via tz-independent paths —
    ``timestamptz`` through ``unix_micros`` (absolute, never the
    session zone; chronofield extraction on TimestampType would be
    session-tz dependent), ``timestamp`` (ntz) through wall-clock
    casts (tz-free by construction), ``date`` through datediff.
    ``bucket[N]`` is the one Python seam — Iceberg's murmur3 has no
    Spark builtin — and runs as an Arrow-batched pandas UDF:
    vectorized numpy for int/long keys, per-value UTF-8 hashing for
    strings.  NULL maps to NULL under every transform, matching
    transform_value.  Unsupported (transform, type) pairs refuse with
    both names."""
    import datetime as _dt

    from pyspark.sql import functions as F

    col = F.col(src)
    if transform == "identity":
        return col
    if transform == "void":
        return F.lit(None)
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if src_type in ("int", "long"):
            return col - F.pmod(col, F.lit(w))
        if src_type == "string":
            return F.substring(col, 1, w)
        raise NotImplementedError(
            f"truncate transform on iceberg type {src_type!r}"
        )
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        # explicit eval type: the module's future-annotations mode
        # breaks pandas_udf's type-hint inference for local aliases
        # (the "prefer type hints" UserWarning is silenced — explicit
        # is the working spelling here, not a legacy one)
        import warnings as _warnings

        from pyspark.sql.functions import pandas_udf
        from pyspark.util import PythonEvalType

        def _scalar_udf(fn):
            with _warnings.catch_warnings():
                _warnings.simplefilter("ignore", UserWarning)
                return pandas_udf(
                    fn, "int", PythonEvalType.SQL_SCALAR_PANDAS_UDF
                )

        if src_type in ("int", "long"):

            def _bucket_i(s):
                import pandas as _pd

                mask = s.isna()
                vals = s.fillna(0).astype("int64").to_numpy()
                h = _bucket_hash_i64_np(vals)
                out = _pd.Series((h & 0x7FFFFFFF) % n, dtype="Int32")
                out[mask.to_numpy()] = None
                return out

            return _scalar_udf(_bucket_i)(col)
        if src_type == "string":

            def _bucket_s(s):
                import pandas as _pd

                return _pd.Series(
                    [None if v is None
                     else (_murmur3_32(v.encode("utf-8"))
                           & 0x7FFFFFFF) % n
                     for v in s],
                    dtype="Int32",
                )

            return _scalar_udf(_bucket_s)(col)
        raise NotImplementedError(
            f"bucket transform on iceberg type {src_type!r}"
        )
    if transform in ("year", "month", "day", "hour"):
        if src_type == "date":
            d = col
        elif src_type == "timestamp":  # ntz: wall-clock, tz-free
            d = col.cast("date")
        elif src_type == "timestamptz":
            # exact int64 floor division (pmod then `div`): a plain
            # double divide loses low bits past 2^53 micros
            q = f"`{src}`"

            def _floor_div(d_us: int):
                return F.expr(
                    f"cast((unix_micros({q}) - pmod(unix_micros({q}),"
                    f" {d_us})) div {d_us} as int)"
                )

            if transform == "hour":
                return _floor_div(3_600_000_000)
            d = F.date_from_unix_date(_floor_div(86_400_000_000))
        else:
            raise NotImplementedError(
                f"{transform} transform on iceberg type {src_type!r}"
            )
        if transform == "hour":
            if src_type == "date":
                raise NotImplementedError("hour transform on date")
            # ntz wall-clock hour ordinal: epoch-day * 24 + hour-of-day
            return (
                F.datediff(d, F.lit(_dt.date(1970, 1, 1))) * F.lit(24)
                + F.hour(col)
            ).cast("int")
        if transform == "year":
            return (F.year(d) - F.lit(1970)).cast("int")
        if transform == "month":
            return (
                (F.year(d) - F.lit(1970)) * F.lit(12)
                + F.month(d) - F.lit(1)
            ).cast("int")
        return F.datediff(
            d, F.lit(_dt.date(1970, 1, 1))
        ).cast("int")
    raise NotImplementedError(f"partition transform {transform!r}")


#: driver-side join-key normalization for IcebergTable.read's
#: partition-attach map (module-level so tests can poison it to prove
#: the loud-failure guard)
def _norm_path(p: str) -> str:
    return os.path.abspath(p)


@dataclass(frozen=True)
class DataFile:
    path: str
    partition: dict
    record_count: int
    file_size: int
    #: the manifest's file_path string VERBATIM (typically a full URI for
    #: externally written tables, table-relative for ours).  Position
    #: delete files reference data files by this exact string (spec:
    #: "Position-based delete files identify deleted rows by file and
    #: position ... file_path matching the data file"), so the MoR read
    #: path must join on it raw — resolving/relativizing either side
    #: silently resurrects deleted rows on tables whose manifests store
    #: absolute URIs (ADVICE r8).  Empty only for caller-constructed
    #: DataFiles headed INTO the writer (append() stores .path as the
    #: manifest string, so raw == path there).
    raw_path: str = ""
    #: data_file.content: 0 data, 1 position deletes, 2 equality deletes
    content: int = 0
    #: data sequence number (v2 inheritance applied: an ADDED entry with
    #: null sequence_number takes its manifest's) — what decides which
    #: delete files apply to which data files
    sequence: int = 0
    #: equality-delete column field ids (content=2 only)
    equality_ids: tuple = ()
    #: per-column value bounds, {schema field id: single-value bytes}
    #: (spec lower_bounds/upper_bounds; empty = no stats, never pruned)
    lower_bounds: dict = dataclasses_field(default_factory=dict)
    upper_bounds: dict = dataclasses_field(default_factory=dict)
    #: the partition spec the file's manifest was written under (spec
    #: evolution: a snapshot's live files can span specs; carried
    #: entries must rewrite under their ORIGINAL spec's partition
    #: struct or the metadata would lie about what the writer recorded)
    spec_id: int = 0


def _added_entry(f: DataFile) -> dict:
    """The v2 manifest entry of a file this snapshot ADDS: snapshot id
    and sequence numbers stay null, so the entry inherits the commit's
    (spec "Sequence Number Inheritance")."""
    return {
        "status": _STATUS_ADDED,
        "snapshot_id": None,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": f.content,
            "file_path": f.path,
            "file_format": "PARQUET",
            "partition": f.partition,
            "record_count": f.record_count,
            "file_size_in_bytes": f.file_size,
            "equality_ids": list(f.equality_ids) or None,
            "lower_bounds": [
                {"key": k, "value": v}
                for k, v in sorted(f.lower_bounds.items())
            ] or None,
            "upper_bounds": [
                {"key": k, "value": v}
                for k, v in sorted(f.upper_bounds.items())
            ] or None,
        },
    }


def _written_data_file(
    table_dir: str,
    rel: str,
    partition: dict,
    fields: list[dict],
    spec_id: int = 0,
) -> DataFile:
    """DataFile for a parquet this writer just placed at ``rel`` under
    partition spec ``spec_id``: row count from the footer, column bounds
    for ``fields`` (so later predicates keep pruning it)."""
    import pyarrow.parquet as pq

    dest = os.path.join(table_dir, rel)
    lb, ub = parquet_column_bounds(dest, fields)
    return DataFile(
        path=rel,
        partition=partition,
        record_count=pq.read_metadata(dest).num_rows,
        file_size=os.path.getsize(dest),
        lower_bounds=lb,
        upper_bounds=ub,
        spec_id=spec_id,
    )


#: equality-delete key types and their Arrow storage
_EQ_DELETE_ARROW_TYPES = {
    "long": "int64",
    "int": "int32",
    "string": "string",
    "double": "float64",
    "boolean": "bool_",
}


def _write_delete_parquet(
    table_dir: str, rel: str, table
) -> tuple[str, int, int]:
    """Write one delete file from an Arrow ``table`` and return
    ``(rel, rows, bytes)``.  Module-level so the executor tier calls
    the same writer from the workers (:func:`_write_delete_parquets`)
    that the driver tier calls directly."""
    import pyarrow.parquet as pq

    path = os.path.join(table_dir, rel)
    pq.write_table(table, path)
    return rel, table.num_rows, os.path.getsize(path)


def _write_delete_parquets(frame, table_dir: str, rel_for) -> list:
    """Write each non-empty partition of ``frame`` as one delete file
    at ``rel_for(partition_id)``, from the executor holding it, through
    :func:`_write_delete_parquet`; returns the ``(rel, rows, bytes)``
    triples sorted by path.  The driver sees one row per file."""

    def write(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        batches = [b for b in batches if b.num_rows]
        if batches:
            rel, n, size = _write_delete_parquet(
                table_dir,
                rel_for(TaskContext.get().partitionId()),
                pa.Table.from_batches(batches),
            )
            yield pa.RecordBatch.from_pydict(
                {"rel": [rel], "rows": [n], "size": [size]}
            )

    rows = frame.mapInArrow(
        write, "rel string, rows long, size long"
    ).collect()
    return sorted((r.rel, r.rows, r.size) for r in rows)


def _pos_delete_table(pairs: list):
    """Arrow table of sorted ``(file_path, pos)`` position deletes."""
    import pyarrow as pa

    return pa.table({
        "file_path": pa.array([p for p, _ in pairs], pa.string()),
        "pos": pa.array([p for _, p in pairs], pa.int64()),
    })


class _FreshPositions:
    """The fresh matched positions of one Iceberg DML commit, in the
    one shape every step after the tier decision consumes: ``n`` rows
    over the data files ``raws`` (manifest paths, sorted), the
    position-delete ``entries`` already written for them, and
    :meth:`pairs` — some files' ``(_afp, _row_idx)`` rows as a frame
    to join."""

    def __init__(self, n: int, raws: list, entries: list, frame):
        self.n = n
        self.raws = raws
        self.entries = entries
        #: zero-argument callable -> the ``(file_path, pos, _np)`` frame
        self._frame = frame

    def pairs(self, raws):
        from pyspark.sql import functions as F

        return self._frame().where(
            F.col("file_path").isin(list(raws))
        ).select(F.col("_np").alias("_afp"),
                 F.col("pos").alias("_row_idx"))


def _applies(d: DataFile, f: DataFile) -> bool:
    """Whether delete file ``d`` can hide rows of data file ``f`` (spec
    "Scan Planning"): a position delete applies to data sequence ≤ its
    own, an equality delete only to STRICTLY older data."""
    if d.content == _CONTENT_POS_DELETES:
        return f.sequence <= d.sequence
    return d.content == _CONTENT_EQ_DELETES and f.sequence < d.sequence


class _ChangeTargets(NamedTuple):
    """One snapshot's changelog plan
    (:meth:`IcebergTable._changelog_targets`)."""

    added: list
    targeted: list
    live: dict
    dels_before: list
    dels_after: list


class IcebergTable:
    """Reader/committer over ``<table_dir>/metadata``.  Data files live
    under ``<table_dir>/data`` by convention but any absolute path in a
    manifest is honored (manifests store full paths per spec)."""

    def __init__(self, table_dir: str):
        self.dir = table_dir
        self.meta_dir = os.path.join(table_dir, "metadata")

    # ------------------------------------------------------------ versions
    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def current_version(self) -> int:
        """The newest metadata version: the hint, then every
        ``v{N+1}.metadata.json`` past it (a committer can crash between
        its metadata file and the hint, as in Iceberg's Hadoop
        catalog)."""
        try:
            with open(self._hint_path()) as fh:
                v = int(fh.read().strip())
        except FileNotFoundError:
            versions = [
                int(n[1:].split(".")[0])
                for n in os.listdir(self.meta_dir)
                if n.startswith("v") and n.endswith(".metadata.json")
            ]
            if not versions:
                raise ValueError(f"no Iceberg metadata in {self.meta_dir}")
            v = max(versions)
        while os.path.exists(self._meta_path(v + 1)):
            v += 1
        return v

    def _base(self) -> tuple[int, dict]:
        """``(version, metadata)`` read once — the base a write face
        builds from and commits after."""
        v = self.current_version()
        return v, self.metadata(v)

    def _check_free(self, base: tuple[int, dict]) -> None:
        """Raise ``CommitConflict`` if the metadata version after
        ``base`` exists — called just before a write face's first file
        write, so a face that lost the race never overwrites the
        winner's version-named files."""
        check_free(self._meta_path(base[0] + 1))

    def metadata(self, version: int | None = None) -> dict:
        """Parsed vN.metadata.json.  Deliberately UNCACHED: one read()
        touches this several times, but the documents are KB-scale and
        json.loads dominates the disk read anyway, while any cache
        would have to survive external tampering/expiry of version
        files (a round-10 attempt broke exactly there)."""
        v = self.current_version() if version is None else version
        with open(self._meta_path(v)) as fh:
            meta = json.load(fh)
        if meta.get("format-version") not in (1, 2):
            raise NotImplementedError(
                f"Iceberg format-version {meta.get('format-version')}"
            )
        return meta

    # ------------------------------------------------------------ snapshots
    def snapshots(self) -> list[dict]:
        return list(self.metadata().get("snapshots", []))

    def snapshot(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> dict:
        return self._snapshot_in(
            self.metadata(), snapshot_id, as_of_timestamp_ms, ref
        )

    def _snapshot_in(self, meta, snapshot_id, as_of_timestamp_ms, ref):
        """:meth:`snapshot` resolved against the metadata ``meta``."""
        snaps = meta.get("snapshots", [])
        if not snaps:
            raise ValueError("table has no snapshots")
        if ref is not None:
            if snapshot_id is not None or as_of_timestamp_ms is not None:
                raise ValueError(
                    "give ref OR snapshot_id/as_of_timestamp_ms"
                )
            entry = (meta.get("refs") or {}).get(ref)
            if entry is None:
                raise ValueError(f"no such ref {ref!r}")
            return self._snapshot_in(meta, entry["snapshot-id"], None, None)
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot-id"] == snapshot_id:
                    return s
            raise ValueError(f"snapshot {snapshot_id} not found")
        if as_of_timestamp_ms is not None:
            eligible = [
                e
                for e in meta.get("snapshot-log", [])
                if e["timestamp-ms"] <= as_of_timestamp_ms
            ]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before {as_of_timestamp_ms}"
                )
            # snapshot-log is append-ordered (spec): the LAST eligible
            # entry is the state at that time — max() would keep the
            # first of equal timestamps and resolve to an older snapshot
            return self._snapshot_in(
                meta, eligible[-1]["snapshot-id"], None, None
            )
        cur = meta.get("current-snapshot-id")
        if cur is None:
            # the spec makes current-snapshot-id optional (staged /
            # rolled-back tables); recursing with the same arguments
            # would never terminate
            raise ValueError("table has no current snapshot")
        return self._snapshot_in(meta, cur, None, None)

    # ----------------------------------------------------------------- scan
    def _spec_fields(self, meta: dict, spec_id: int) -> list[dict]:
        for spec in meta.get("partition-specs", []):
            if spec["spec-id"] == spec_id:
                for f in spec["fields"]:
                    tr = f.get("transform", "identity")
                    if tr not in (
                        "identity", "year", "month", "day", "hour",
                        "void",
                    ) and not (
                        tr.startswith("bucket[") or tr.startswith("truncate[")
                    ):
                        raise NotImplementedError(
                            f"partition transform {tr!r}"
                        )
                return spec["fields"]
        return []

    def files(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        partition_filter: dict | None = None,
        column_filter: dict | None = None,
        ref: str | None = None,
    ) -> list[DataFile]:
        """Live data files of a snapshot, pruned at both metadata layers
        when ``partition_filter`` (identity-partition equality, e.g.
        ``{"p_bucket": 3}``) is given: manifest-list field summaries skip
        whole manifests, entry partition values skip files.
        ``column_filter`` ``{name: (lo, hi)}`` prunes FILES by the
        manifest's per-column value bounds (spec lower_bounds /
        upper_bounds; round 9) — the non-partition-predicate pruning
        layer; files without stats for a filtered column always survive
        (sound).  No data file is opened at any point — this is the
        metadata-only scan planning Iceberg exists for.

        ``None`` filter values refuse uniformly (ADVICE r11): the three
        pruning/filter layers disagreed on NULL semantics — the entry
        prune matched null partition values, the residue filter's
        ``==`` dropped them, and the summary prune crashed comparing
        None against non-null bounds — so one filter could return
        era-dependent results on a mixed-era identity field.  Filter
        nulls on the read frame (``isNull``) instead."""
        for k, v in (partition_filter or {}).items():
            if v is None:
                raise ValueError(
                    f"partition_filter value for {k!r} is None — "
                    "NULL-partition filtering is not expressible as "
                    "an equality prune; filter isNull on the read "
                    "frame instead"
                )
        return self._scan_manifests(
            _MANIFEST_DATA, snapshot_id, as_of_timestamp_ms,
            partition_filter, column_filter, ref=ref
        )

    def delete_files(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> list[DataFile]:
        """Live DELETE files (v2 merge-on-read) of a snapshot: content 1
        = position deletes (rows named by (file_path, pos)), content 2 =
        equality deletes (rows named by column equality on
        ``equality_ids``).  Applicability is sequence-based and decided
        by the reader (:meth:`read`): a position delete applies to data
        files with data sequence ≤ its own, an equality delete to data
        files STRICTLY older (spec "Scan Planning").  Delete manifests
        are never partition-pruned here — a filter must not widen the
        surviving-row set."""
        return self._scan_manifests(
            _MANIFEST_DELETES, snapshot_id, as_of_timestamp_ms, None,
            None, ref=ref
        )

    def _read_schema_id(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> int:
        """The schema-id a read's output frame speaks — ONE rule shared
        by read()'s both branches and the scan/filter layer (review:
        three hand-rolled copies had already drifted on missing
        current-schema-id handling).  A CURRENT read (no snapshot /
        timestamp / ref pin) uses the table's current schema, because
        DDL is metadata-only and commits no snapshot, so the latest
        snapshot's recorded schema-id predates any post-commit
        add/rename; a pinned read uses the snapshot's own schema (a
        field renamed later stays addressable by its then-current
        spelling)."""
        cur = self.metadata().get("current-schema-id", 0)
        if (snapshot_id is None and as_of_timestamp_ms is None
                and ref is None):
            return cur
        return self.snapshot(
            snapshot_id, as_of_timestamp_ms, ref=ref
        ).get("schema-id", cur)

    def _scan_manifests(
        self,
        want_content: int,
        snapshot_id: int | None,
        as_of_timestamp_ms: int | None,
        partition_filter: dict | None,
        column_filter: dict | None = None,
        ref: str | None = None,
        meta: dict | None = None,
    ) -> list[DataFile]:
        if meta is None:
            meta = self.metadata()
        snap = self._snapshot_in(meta, snapshot_id, as_of_timestamp_ms, ref)
        col_info: dict[str, tuple[int, str]] = {}
        if column_filter:
            # filter names resolve against the schema the read's output
            # frame will carry (the fuzzer caught a filter on a
            # just-added column refusing under the old snapshot-only
            # resolution) — the shared rule in _read_schema_id
            schema = self._schema_by_id(
                self._read_schema_id(snapshot_id, as_of_timestamp_ms,
                                     ref)
            )
            by_name = {f["name"]: f for f in schema["fields"]}
            for name in column_filter:
                f = by_name.get(name)
                if f is None:
                    raise ValueError(f"no such column {name!r}")
                if not isinstance(f["type"], str):
                    raise NotImplementedError(
                        "column_filter on nested types"
                    )
                col_info[name] = (f["id"], f["type"])
        mlist_path = self._resolve(snap["manifest-list"])
        _, manifests, _ = read_ocf(mlist_path)
        out: list[DataFile] = []
        for mf in manifests:
            if mf["content"] != want_content:
                continue
            spec_fields = self._spec_fields(meta, mf["partition_spec_id"])
            # filter values arrive in the SOURCE domain; transformed
            # specs (bucket/truncate) compare in the partition domain,
            # so transform the filter value the way the writer did
            flt = None
            if partition_filter:
                import datetime as _dt

                tr_by_name = {
                    f["name"]: f.get("transform", "identity")
                    for f in spec_fields
                }
                rt_by_name = {
                    f["name"]: f.get("result-type")
                    for f in spec_fields
                }

                def _to_part_domain(k, v):
                    v = transform_value(
                        tr_by_name.get(k, "identity"), v
                    )
                    if (rt_by_name.get(k) == "date"
                            and isinstance(v, _dt.date)
                            and not isinstance(v, _dt.datetime)):
                        # identity DATE values ride the manifests as
                        # epoch-day ints (Avro int, Appendix A)
                        v = (v - _dt.date(1970, 1, 1)).days
                    return v

                flt = {
                    k: _to_part_domain(k, v)
                    for k, v in partition_filter.items()
                }
            if flt and mf.get("partitions"):
                if self._summary_prunes(mf["partitions"], spec_fields, flt):
                    continue
            #: only filter keys THIS manifest's spec records can prune
            #: its entries — a file written under an older spec has no
            #: value for a later-added partition field, and excluding
            #: it on a missing key would drop rows the file may hold
            #: (spec evolution: partition filters are file-level
            #: pruning; read() row-filters the survivors)
            spec_names = {f["name"] for f in spec_fields}
            _, entries, _ = read_ocf(self._resolve(mf["manifest_path"]))
            for e in entries:
                if e["status"] == _STATUS_DELETED:
                    continue
                df = e["data_file"]
                part = dict(df["partition"])
                if flt and any(
                    part.get(k) != v
                    for k, v in flt.items()
                    if k in spec_names
                ):
                    continue
                if col_info and self._bounds_prune(df, column_filter,
                                                   col_info):
                    continue
                # v2 sequence inheritance: an entry with null
                # sequence_number takes its manifest's
                seq = e.get("sequence_number")
                if seq is None:
                    seq = mf["sequence_number"]
                out.append(
                    DataFile(
                        path=self._resolve(df["file_path"]),
                        partition=part,
                        record_count=df["record_count"],
                        file_size=df["file_size_in_bytes"],
                        content=df["content"],
                        sequence=seq,
                        equality_ids=tuple(df.get("equality_ids") or ()),
                        raw_path=df["file_path"],
                        spec_id=mf["partition_spec_id"],
                        lower_bounds={
                            e["key"]: e["value"]
                            for e in (df.get("lower_bounds") or ())
                        },
                        upper_bounds={
                            e["key"]: e["value"]
                            for e in (df.get("upper_bounds") or ())
                        },
                    )
                )
        return out

    @staticmethod
    def _bounds_prune(
        df: dict, column_filter: dict, col_info: dict
    ) -> bool:
        """True iff the file's per-column [lower, upper] bounds prove it
        cannot contain a row in ``{name: (lo, hi)}`` (either bound may
        be None for a half-open range).  Missing stats never prune —
        soundness over selectivity, same rule as the registry's
        stat-based shard pruning."""
        lower = {e["key"]: e["value"] for e in (df.get("lower_bounds") or ())}
        upper = {e["key"]: e["value"] for e in (df.get("upper_bounds") or ())}
        for name, (lo, hi) in column_filter.items():
            fid, typ = col_info[name]
            f_lo = lower.get(fid)
            f_hi = upper.get(fid)
            if hi is not None and f_lo is not None:
                if _from_le_bytes(f_lo, typ) > hi:
                    return True
            if lo is not None and f_hi is not None:
                if _from_le_bytes(f_hi, typ) < lo:
                    return True
        return False

    @staticmethod
    def _summary_prunes(
        summaries: list[dict], spec_fields: list[dict], flt: dict
    ) -> bool:
        """True iff a filtered field's value falls outside the manifest's
        [lower, upper] bound summary — the whole manifest is skipped."""
        by_name = {f["name"]: i for i, f in enumerate(spec_fields)}
        for name, want in flt.items():
            i = by_name.get(name)
            if i is None or i >= len(summaries):
                continue
            s = summaries[i]
            typ = spec_fields[i]["result-type"]
            lo = (
                _from_le_bytes(s["lower_bound"], typ)
                if s.get("lower_bound") is not None
                else None
            )
            hi = (
                _from_le_bytes(s["upper_bound"], typ)
                if s.get("upper_bound") is not None
                else None
            )
            if lo is not None and want < lo:
                return True
            if hi is not None and want > hi:
                return True
        return False

    def _resolve(self, path: str) -> str:
        if os.path.isabs(path):
            return path
        return os.path.join(self.dir, path)

    def read(
        self,
        spark,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        partition_filter: dict | None = None,
        paths: set[str] | None = None,
        column_filter: dict | None = None,
        ref: str | None = None,
    ):
        """Snapshot → ONE distributed parquet scan of exactly the live
        files (pushdown/pruning intact).  Identity-partition values
        attach via a broadcast join of the metadata-sized
        file→partition map on ``input_file_name()`` — production
        Iceberg's own shape.  (The first cut attached them as literals
        on one DataFrame per distinct partition tuple chained with
        unions, which explodes the logical plan at thousands of
        partitions — a driver-side O(#partitions) plan is exactly the
        scaling failure the manifest tree exists to avoid.)

        Join-key discipline lives in :func:`io.attach_file_columns`
        (shared with the Delta reader): both sides key on the DECODED
        absolute path, and a residual mismatch raises instead of
        silently dropping rows (ADVICE r7).

        Merge-on-read (v2 delete files): when the snapshot carries
        position or equality deletes applicable to any selected data
        file, the scan gains per-row lineage columns (the manifest's
        raw ``file_path`` string via the same attach join — the exact
        string position-delete files use per spec, so external
        absolute-URI tables match; row ordinal via
        ``_metadata.row_index``; data sequence number) and
        :meth:`_minus_deletes` subtracts the rows: ONE broadcast LEFT
        ANTI join for every position delete — (file, pos) on data files
        with sequence ≤ the delete's — and one per ``equality_ids`` set
        of the equality deletes, matching those columns null-safely on
        STRICTLY older data files (the spec's upsert semantics).  So the
        joins do not grow with the number of delete files; see
        :meth:`_minus_deletes` for how the delete sides are read.
        Delete files are metadata-scale next to the data they prune,
        so broadcasting them is production Iceberg's own plan shape;
        with no applicable deletes the plan is exactly the plain scan
        (zero overhead for CoW-only tables)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from hadoop_sync_spark.io import attach_file_columns

        files = self.files(
            snapshot_id, as_of_timestamp_ms, partition_filter,
            column_filter=column_filter, ref=ref,
        )

        def _apply_cf(df):
            # the file-level bound pruning above is an optimization; the
            # predicate itself applies here so semantics stay exact (a
            # surviving file can still hold out-of-range rows)
            for name, (lo, hi) in (column_filter or {}).items():
                if lo is not None:
                    df = df.filter(F.col(name) >= lo)
                if hi is not None:
                    df = df.filter(F.col(name) <= hi)
            return df

        if paths is not None:
            # subset scan (the compaction rewrite path) keyed on the
            # manifest file_path string; delete application is unchanged
            missing = paths - {f.raw_path for f in files}
            if missing:
                raise ValueError(
                    f"paths not live in snapshot: {sorted(missing)}"
                )
            files = [f for f in files if f.raw_path in paths]
        if not files:
            if column_filter or partition_filter:
                # a filter that prunes EVERY file is an empty result,
                # not an error (round-10 review: the bounds pruning
                # made this reachable on ordinary selective reads).
                # The schema comes from metadata, in the SAME column
                # order the non-empty path produces (ADVICE r10): data
                # columns from the pinned snapshot schema first, then
                # the spec partition fields appended — positional
                # consumers and unions-by-position see one ordering
                # whether or not anything survived.  Partition columns
                # type as the attach path does (_partition_types).
                m = self.metadata()
                sid0 = self._read_schema_id(
                    snapshot_id, as_of_timestamp_ms, ref
                )
                # the partition section mirrors the NON-empty path's
                # shape rule: the snapshot's live files decide which
                # spec fields attach (an evolved table whose live set
                # is all pre-evolution keeps those columns inline);
                # an empty snapshot falls back to every spec's fields
                live_unf = (
                    self.files(snapshot_id, as_of_timestamp_ms,
                               ref=ref)
                    if len(m.get("partition-specs", [])) > 1
                    else None
                )
                # a LIVE-but-keyless set means "no partition columns"
                # (consistent with the non-empty path); only a snapshot
                # with no live files at all falls back to every spec
                part_types, part_dates = self._partition_types(
                    m, sid0,
                    {k for f in live_unf for k in f.partition}
                    if live_unf else None,
                )
                part_names = sorted(part_types)
                try:
                    data_schema = self._spark_schema(
                        sid0, exclude=set(part_names)
                    )
                except NotImplementedError:
                    # a non-scalar column type _spark_schema cannot pin
                    # (struct/list/decimal in EXTERNAL metadata): the
                    # non-empty single-schema path reads it fine via
                    # footer inference, so the empty path must not turn
                    # the same call into an error (round-11 review) —
                    # infer the data schema from one live footer the
                    # way the scan would have
                    import pyarrow.parquet as _pq
                    from pyspark.sql.pandas.types import (
                        from_arrow_schema,
                    )

                    if len(m.get("schemas", [])) > 1:
                        # evolved tables pin via _spark_schema on the
                        # NON-empty path too — the refusal is symmetric
                        # there, so keep it symmetric here
                        raise
                    live = self.files(snapshot_id, as_of_timestamp_ms,
                                      ref=ref)
                    if not live:
                        raise
                    inferred_all = from_arrow_schema(
                        _pq.read_schema(live[0].path)
                    )
                    data_schema = T.StructType([
                        f for f in inferred_all.fields
                        if f.name not in set(part_names)
                    ])
                schema = T.StructType(
                    list(data_schema.fields)
                    + [
                        T.StructField(
                            n,
                            T.DateType() if n in part_dates
                            else part_types[n],
                        )
                        for n in part_names
                    ]
                )
                return local_frame(spark, [], schema)
            raise ValueError("snapshot selects no data files")
        part_cols = sorted({k for f in files for k in f.partition})
        meta_doc = self.metadata()
        if (len(meta_doc.get("partition-specs", [])) > 1
                and (partition_filter or column_filter
                     or paths is not None)):
            # shape stability on evolved tables: pruning must not
            # change WHICH columns sit in the appended partition
            # section (a filter that prunes away the whole recording
            # era would otherwise move the column inline, breaking
            # union-by-position against the unfiltered read) — the
            # section derives from the snapshot's FULL live set, one
            # extra metadata-scale walk only on filtered multi-spec
            # reads.  `mixed` below still derives from the SURVIVORS:
            # that decides scan/coalesce mechanics, not output shape.
            part_cols = sorted({
                k
                for f in self.files(snapshot_id, as_of_timestamp_ms,
                                    ref=ref)
                for k in f.partition
            })
        #: the schema id the OUTPUT frame speaks — current for current
        #: reads, the snapshot's own for time travel (the shared rule
        #: in _read_schema_id; computed up front because the mixed-spec
        #: logic below needs it too)
        read_sid = meta_doc.get("current-schema-id", 0)
        if len(meta_doc.get("schemas", [])) > 1:
            read_sid = self._read_schema_id(
                snapshot_id, as_of_timestamp_ms, ref
            )
        #: spec evolution (round 11): live files may span partition
        #: specs.  A partition field some live files do NOT record is
        #: "mixed": identity fields are ALSO data columns in the
        #: pre-evolution files (the writer only strips a column from
        #: the data once the spec records it), so the scan keeps the
        #: column and the output COALESCEs the metadata value over the
        #: scanned one; transform-named fields (``k_bucket``) have no
        #: data-side twin and simply null-fill for pre-evolution files.
        #: ONE resolution of the output schema's field list — four
        #: consumers below (names, types, equality-delete map, rename
        #: projection) previously re-derived it independently
        read_fields = self._schema_by_id(read_sid)["fields"]
        schema_names = {f["name"] for f in read_fields}
        #: per-spec recording map: a file RECORDS a field only when its
        #: own spec lists it with a non-void transform — a later spec
        #:'s field is unrecorded for older files (key absent) and a
        #: void tombstone is unrecorded for ITS files (key present but
        #: always null; the source values live in data).  First-spec-
        #: wins name resolution leaked here once (review finding: an
        #: identity-then-void history let a filter skip the row-side
        #: residue), so every decision below is per-file-spec.
        _rec: dict[int, dict[str, str]] = {
            spec["spec-id"]: {
                pf["name"]: pf.get("transform", "identity")
                for pf in spec.get("fields", [])
            }
            for spec in meta_doc.get("partition-specs", [])
        }

        def _recorded(f, c):
            return _rec.get(f.spec_id, {}).get(c, "void") != "void"

        mixed = [
            c for c in part_cols
            if any(not _recorded(f, c) for f in files)
        ]
        mixed_identity = [c for c in mixed if c in schema_names]
        residue_keys: list[str] = []
        if partition_filter:
            # file-level pruning could not evaluate a filter key on
            # files whose spec does not RECORD the field (a survivor
            # without a recorded value was never tested — note the key
            # may be absent from part_cols entirely when the filter
            # pruned away the whole recording era): identity keys
            # re-apply row-side on the output column; transform keys
            # have nothing row-side to evaluate — refuse rather than
            # return untested rows
            tr_sets: dict[str, set] = {}
            for spec in meta_doc.get("partition-specs", []):
                for pf in spec.get("fields", []):
                    tr_sets.setdefault(pf["name"], set()).add(
                        pf.get("transform", "identity")
                    )
            unknown = sorted(set(partition_filter) - set(tr_sets))
            if unknown:
                raise ValueError(
                    f"partition_filter keys {unknown} are in no "
                    "partition spec"
                )
            voided = sorted(k for k in partition_filter
                            if tr_sets[k] == {"void"})
            if voided:
                # void maps every value to null — the filter would
                # silently match every file instead of meaning anything
                raise ValueError(
                    f"partition_filter on void fields {voided}: a "
                    "void transform records null for every file"
                )
            for k in partition_filter:
                if all(_recorded(f, k) for f in files):
                    continue  # every survivor was file-level tested
                if (tr_sets[k] - {"void"} == {"identity"}
                        and k in schema_names):
                    residue_keys.append(k)
                else:
                    raise NotImplementedError(
                        f"partition_filter on field {k!r} while live "
                        "files do not record it: the file-level value "
                        "does not exist for those files"
                    )
        #: the scan KEEPS mixed identity columns (pre-evolution files
        #: carry them in data); fully-recorded partition columns stay
        #: metadata-only as always
        scan_excl = set(part_cols) - set(mixed_identity)
        variants = pinned = None
        if len(meta_doc.get("schemas", [])) > 1:
            # schema evolution (round 9): pin the snapshot's schema so
            # files written before an added column null-fill it and
            # dropped columns prune.  Add/drop-only histories resolve
            # by NAME on the snapshot's names; RENAME histories (round
            # 10) pin every historical name of a field and coalesce —
            # one scan, plain parquet, no footer ids needed.  Type
            # promotions and drop+re-add-same-name still refuse.
            # Single-schema tables keep the exact inferred-schema plan.
            variants = self._rename_history()
            pinned = self._spark_schema(
                read_sid, exclude=scan_excl, name_variants=variants
            )
        elif mixed_identity:
            # a mixed-spec scan cannot rely on Spark's one-footer
            # inference — pre- and post-evolution files disagree on the
            # identity column's presence — so pin the metadata schema
            # (the evolved-table rule, applied to the single-schema
            # case; exotic external types refuse like the evolved path)
            pinned = self._spark_schema(read_sid, exclude=scan_excl)
        deletes = [
            d for d in self.delete_files(snapshot_id, as_of_timestamp_ms,
                                         ref=ref)
            if any(_applies(d, f) for f in files)
        ]
        scan = self._scan(spark, files, pinned,
                          row_index="_row_idx" if deletes else None)
        #: the LOGICAL projection: renamed fields coalesce across their
        #: historical names (after the lineage/attach steps, which need
        #: the raw scan's columns)
        logical = (
            [self._logical_col(variants, f["id"], f["name"])
             .alias(f["name"])
             for f in read_fields if f["name"] not in set(part_cols)]
            if variants else
            [F.col(c) for c in scan.columns
             if c not in {"_row_idx", *mixed_identity}]
        )
        #: mixed identity columns attach under a temp name and the
        #: output takes COALESCE(metadata value, scanned value) — the
        #: metadata wins where the spec recorded it, the data supplies
        #: it for pre-evolution files.  Attach types come from the
        #: specs' result types — a mixed column can be None for EVERY
        #: survivor (only pre-evolution files left a filter), where
        #: inference refuses.
        part_types, part_dates = self._partition_types(
            meta_doc, read_sid, set(part_cols)
        )
        attach = {
            ("__meta_" + c if c in mixed_identity else c): part_types[c]
            for c in part_cols
        }
        if deletes:
            # Lineage carries the manifest's file_path string VERBATIM
            # (raw_path): position-delete files name data files by that
            # exact string per the spec, so relativizing it here would
            # break every externally written table whose manifests
            # store full URIs.
            attach = {"_raw_path": T.StringType(),
                      "_seq": T.LongType()} | attach
        if attach:
            # abspath, not resolve() — Hadoop qualifies paths but does
            # not chase symlinks, so neither may we
            scan = attach_file_columns(
                scan,
                [
                    (_norm_path(f.path),)
                    + ((f.raw_path, f.sequence) if deletes else ())
                    + tuple(f.partition.get(c) for c in part_cols)
                    for f in files
                ],
                list(attach),
                what="iceberg snapshot partition",
                types=attach,
            )
        scan = self._minus_deletes(
            spark, scan, files, deletes, read_sid, variants,
            part_cols, mixed_identity,
        )

        def _part_expr(c):
            # identity DATE values ride the manifests as epoch-day
            # ints (Avro int, Appendix A) while the data column is a
            # real DateType: convert in EVERY branch — mixed or not —
            # so the output type never flips with the pruning outcome
            # (review: a filtered read that dropped the mixed era
            # returned raw ints where the unfiltered read returned
            # dates, breaking union compatibility).  Transform-named
            # fields (``d_day``) are not schema columns and keep
            # their ordinal ints.
            e = F.col("__meta_" + c if c in mixed_identity else c)
            if c in part_dates:
                e = F.date_from_unix_date(e.cast("int"))
            if c in mixed_identity:
                e = F.coalesce(e, F.col(c))
            return e.alias(c)

        out = scan.select(*logical, *[_part_expr(c) for c in part_cols])
        for k in residue_keys:
            out = out.filter(F.col(k) == F.lit(partition_filter[k]))
        return _apply_cf(out)

    def _scan(self, spark, files, schema=None, row_index=None,
              file_path=None):
        """The one parquet scan of Iceberg data files: ``files`` read
        under the pinned ``schema`` (None keeps Spark's footer
        inference — single-schema tables' exact plan), with the
        ``_metadata`` lineage columns a caller names: ``row_index``
        (the position a position delete names) and ``file_path``."""
        from pyspark.sql import functions as F

        reader = spark.read if schema is None else spark.read.schema(schema)
        scan = reader.parquet(*[f.path for f in files])
        lineage = []
        if file_path is not None:
            lineage.append(F.col("_metadata.file_path").alias(file_path))
        if row_index is not None:
            lineage.append(F.col("_metadata.row_index").alias(row_index))
        return scan.select("*", *lineage) if lineage else scan

    @staticmethod
    def _logical_col(variants, fid: int, name: str):
        """The one rename resolver: field ``fid``'s logical column over
        a scan pinned with every historical name of it (see
        :meth:`_spark_schema`) — the one name, or COALESCE across the
        variants, since a conforming file carries exactly one."""
        from pyspark.sql import functions as F

        names = (variants or {}).get(fid, [name])
        if len(names) == 1:
            return F.col(names[0])
        return F.coalesce(*[F.col(n) for n in names])

    def _partition_types(self, meta: dict, sid: int, names=None,
                         spec_ids=None) -> tuple[dict, set]:
        """The one typing of an output frame's partition section:
        ``{name: Spark type}`` over the fields of the specs ``spec_ids``
        (default: every spec), restricted to ``names`` when given, the
        first spec naming a field deciding — ``int``/``long``/``date``
        attach as LongType, anything else as StringType — and the
        identity DATE fields (a ``date`` result over a ``date`` column
        of schema ``sid``), whose epoch-day values the output converts
        to DateType.  Transform fields such as ``d_day`` keep their
        ordinal longs."""
        from pyspark.sql import types as T

        col_type = {f["name"]: f["type"]
                    for f in self._schema_by_id(sid)["fields"]}
        types: dict = {}
        dates: set = set()
        for spec in meta.get("partition-specs", []):
            if spec_ids is not None and spec["spec-id"] not in spec_ids:
                continue
            for pf in spec.get("fields", []):
                n = pf["name"]
                if n in types or (names is not None and n not in names):
                    continue
                rt = pf.get("result-type", "string")
                types[n] = (T.LongType() if rt in ("int", "long", "date")
                            else T.StringType())
                if rt == "date" and col_type.get(n) == "date":
                    dates.add(n)
        return types, dates

    @staticmethod
    def _delete_scan(spark, dels: list, schema=None):
        """The delete files ``dels`` as one frame, each row's sequence
        number in ``_dseq``: one Spark scan per sequence number (the
        files one commit writes share it), unioned, ``schema`` pinning
        the read (None infers it from a footer).  The sequence rides as
        a literal: attaching it by file path costs a URI decode per
        delete row, 1-2 s more on a 200k-800k-row delete file
        (``tools/iceberg_delete_probe.py --big``)."""
        from pyspark.sql import functions as F

        reader = spark.read if schema is None else spark.read.schema(schema)
        by_seq: dict[int, list] = {}
        for d in dels:
            by_seq.setdefault(d.sequence, []).append(d.path)
        return functools.reduce(lambda a, b: a.unionByName(b), [
            reader.parquet(*paths).withColumn(
                "_dseq", F.lit(seq).cast("long"))
            for seq, paths in sorted(by_seq.items())
        ])

    def _pos_delete_frame(self, spark, pos_dels: list, files: list):
        """The one ``(_d_file, _d_pos, _dseq)`` frame of the position
        deletes ``pos_dels``, its tier chosen from their summed
        ``record_count`` before any payload is read: up to
        :data:`io.DRIVER_DECODE_ROW_LIMIT` rows the driver reads them
        (rows naming ``files`` only) into a local frame, whatever the
        number of files; above it they decode on the executors through
        :meth:`_delete_scan`, where a driver-side decode loses (4-11 s
        against 2-3 s on a 200k-800k-row file, ``--big`` probe)."""
        from pyspark.sql import functions as F

        if sum(d.record_count for d in pos_dels) > _DRIVER_DECODE_ROW_LIMIT:
            return self._delete_scan(
                spark, pos_dels, "file_path string, pos long"
            ).select(F.col("file_path").alias("_d_file"),
                     F.col("pos").alias("_d_pos"), "_dseq")
        import pyarrow.parquet as pq

        raws = {f.raw_path for f in files}
        rows = []
        for d in pos_dels:
            tb = pq.read_table(d.path, columns=["file_path", "pos"])
            rows += [
                (fp, p, d.sequence)
                for fp, p in zip(tb["file_path"].to_pylist(),
                                 tb["pos"].to_pylist())
                if fp in raws
            ]
        return local_frame(
            spark, rows, "_d_file string, _d_pos long, _dseq long"
        )

    def _minus_deletes(self, spark, df, files: list, deletes: list,
                       sid=None, variants=None, part_cols=(),
                       mixed_identity=()):
        """The one delete-apply: ``df`` — a scan of ``files`` carrying
        the ``_raw_path``, ``_seq`` and ``_row_idx`` lineage — without
        the rows ``deletes`` hide (spec "Scan Planning"):

        - every position delete in ONE ``(file, pos)`` anti-join over
          :meth:`_pos_delete_frame`, applying to data files of
          sequence ≤ the delete's;
        - the equality deletes in one anti-join per ``equality_ids``
          set, null-safe on the key columns of schema ``sid`` (renamed
          keys resolve through :meth:`_logical_col`, ``part_cols`` are
          attached from metadata) over STRICTLY older data files — the
          spec's upsert semantics.  Each set's files are read by
          :meth:`_delete_scan`, pinned to every historical name of the
          keys on a renamed history (as the data scan is).

        So the joins do not grow with the number of delete files, and
        the scans grow only with the number of delete commits read on
        the executors.  The delete sides broadcast while the summed
        ``record_count`` of ``deletes`` sits under the size ceiling;
        above it every anti-join shuffles, with one loud log line
        (VERDICT r9 item 7): a pathological delete set (most of a 100 TB
        table deleted merge-on-read) would blow the broadcast on the
        driver and every executor at once."""
        from pyspark.sql import functions as F

        pos = [d for d in deletes if d.content == _CONTENT_POS_DELETES]
        groups: dict[tuple, list] = {}
        for d in deletes:
            if d.content == _CONTENT_EQ_DELETES:
                groups.setdefault(d.equality_ids, []).append(d)
        total = sum(d.record_count for d in deletes)
        small = total <= _BROADCAST_DELETE_ROW_LIMIT
        if deletes and not small:
            import logging

            logging.getLogger(__name__).warning(
                "%d applicable delete files hold %d rows total, over the "
                "broadcast ceiling (%d); the anti-joins fall back to "
                "shuffle",
                len(deletes), total, _BROADCAST_DELETE_ROW_LIMIT,
            )
        if pos:
            dels = self._pos_delete_frame(spark, pos, files)
            df = df.join(
                F.broadcast(dels) if small else dels,
                (F.col("_raw_path") == F.col("_d_file"))
                & (F.col("_row_idx") == F.col("_d_pos"))
                & (F.col("_seq") <= F.col("_dseq")),
                "left_anti",
            )
        if not groups:
            return df
        name_of = {f["id"]: f["name"]
                   for f in self._schema_by_id(sid)["fields"]}
        for ids, group in sorted(groups.items()):
            missing = [fid for fid in ids if fid not in name_of]
            if missing:
                raise ValueError(
                    f"equality delete {group[0].raw_path!r} references "
                    f"field ids {missing} absent from the read schema"
                )
            names = [name_of[fid] for fid in ids]
            clash = sorted(set(names) & set(mixed_identity))
            if clash:
                raise NotImplementedError(
                    f"equality delete {group[0].raw_path!r} matches on "
                    f"{clash}, identity partition columns some live "
                    "files record only in data — the anti-join cannot "
                    "compare one expression for both eras"
                )
            # a delete file written pre-rename stores its equality
            # column under the write-time name: pin every variant
            dels = self._delete_scan(
                spark, group,
                self._spark_schema(
                    sid, exclude=set(name_of.values()) - set(names),
                    name_variants=variants,
                ) if variants else None,
            ).select(
                *[self._logical_col(variants, fid, n).alias(f"_d_{n}")
                  for fid, n in zip(ids, names)],
                "_dseq",
            )
            cond = F.col("_seq") < F.col("_dseq")
            for fid, n in zip(ids, names):
                key = (F.col(n) if n in part_cols
                       else self._logical_col(variants, fid, n))
                cond = cond & key.eqNullSafe(F.col(f"_d_{n}"))
            df = df.join(F.broadcast(dels) if small else dels, cond,
                         "left_anti")
        return df

    def metadata_table(self, spark, kind: str, ref: str | None = None):
        """Inspection DataFrames in production Iceberg's metadata-table
        shape (``SELECT * FROM t.files`` etc., round 10): ``snapshots``,
        ``history``, ``refs``, ``files``, ``delete_files``,
        ``partitions``, ``manifests``.  Rows come from the same driver-side metadata
        walk scan planning does (KB-scale manifests; nothing row-scale
        is read), surfaced as a DataFrame so inspection composes with
        the engine's own relational surface."""
        from pyspark.sql import types as T

        meta = self.metadata()
        if kind == "snapshots":
            schema = T.StructType([
                T.StructField("committed_at_ms", T.LongType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
                T.StructField("schema_id", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("manifest_list", T.StringType()),
            ])
            rows = [
                (s["timestamp-ms"], s["snapshot-id"],
                 s.get("sequence-number", 0), s.get("schema-id", 0),
                 s.get("summary", {}).get("operation"),
                 s["manifest-list"])
                for s in meta.get("snapshots", [])
            ]
        elif kind == "history":
            schema = T.StructType([
                T.StructField("made_current_at_ms", T.LongType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("is_current_ancestor", T.BooleanType()),
            ])
            live = {s["snapshot-id"] for s in meta.get("snapshots", [])}
            rows = [
                (e["timestamp-ms"], e["snapshot-id"],
                 e["snapshot-id"] in live)
                for e in meta.get("snapshot-log", [])
            ]
        elif kind == "refs":
            schema = T.StructType([
                T.StructField("name", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("snapshot_id", T.LongType()),
            ])
            rows = [
                (name, r.get("type", "branch"), r["snapshot-id"])
                for name, r in sorted((meta.get("refs") or {}).items())
            ]
        elif kind in ("files", "delete_files"):
            schema = T.StructType([
                T.StructField("content", T.IntegerType()),
                T.StructField("file_path", T.StringType()),
                T.StructField("file_format", T.StringType()),
                T.StructField(
                    "partition",
                    T.MapType(T.StringType(), T.StringType()),
                ),
                T.StructField("record_count", T.LongType()),
                T.StructField("file_size_in_bytes", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
            ])
            fs = (
                self.files(ref=ref) if kind == "files"
                else self.delete_files(ref=ref)
            )
            rows = [
                (f.content, f.raw_path, "PARQUET",
                 {k: None if v is None else str(v)
                  for k, v in f.partition.items()},
                 f.record_count, f.file_size, f.sequence)
                for f in fs
            ]
        elif kind == "partitions":
            schema = T.StructType([
                T.StructField(
                    "partition",
                    T.MapType(T.StringType(), T.StringType()),
                ),
                T.StructField("file_count", T.LongType()),
                T.StructField("record_count", T.LongType()),
                T.StructField("total_size_in_bytes", T.LongType()),
            ])
            agg: dict[tuple, list[int]] = {}
            for f in self.files(ref=ref):
                key = tuple(sorted(f.partition.items()))
                acc = agg.setdefault(key, [0, 0, 0])
                acc[0] += 1
                acc[1] += f.record_count
                acc[2] += f.file_size
            rows = [
                ({k: None if v is None else str(v) for k, v in key},
                 n, rec, size)
                # None-safe sort: identity partitions legally hold null
                # values, and tuple comparison would TypeError on
                # None < int
                for key, (n, rec, size) in sorted(
                    agg.items(),
                    key=lambda kv: [
                        (k, v is None, str(v)) for k, v in kv[0]
                    ],
                )
            ]
        elif kind == "manifests":
            schema = T.StructType([
                T.StructField("content", T.IntegerType()),
                T.StructField("path", T.StringType()),
                T.StructField("partition_spec_id", T.IntegerType()),
            ])
            snap = self.snapshot(ref=ref)
            _, manifests, _ = read_ocf(
                self._resolve(snap["manifest-list"])
            )
            rows = [
                (mf["content"], mf["manifest_path"],
                 mf["partition_spec_id"])
                for mf in manifests
            ]
        else:
            raise ValueError(
                f"unknown metadata table {kind!r}: snapshots, history, "
                "refs, files, delete_files, partitions, manifests"
            )
        return local_frame(spark, rows, schema)

    def history(self) -> list[dict]:
        """Operation log in DESCRIBE HISTORY shape, newest first."""
        meta = self.metadata()
        return [
            {
                "snapshot_id": s["snapshot-id"],
                "timestamp_ms": s["timestamp-ms"],
                "sequence_number": s.get("sequence-number", 0),
                "operation": s.get("summary", {}).get("operation"),
                "is_current": s["snapshot-id"]
                == meta.get("current-snapshot-id"),
            }
            for s in sorted(
                meta.get("snapshots", []),
                key=lambda s: -s["timestamp-ms"],
            )
        ]

    # --------------------------------------------------------------- writes
    @staticmethod
    def create(
        table_dir: str,
        fields: list[tuple[str, str]],
        partition_by: list[tuple[str, str]] | None = None,
        now_ms: int = 0,
    ) -> "IcebergTable":
        """Create an empty v2 table: ``fields`` = [(name, spark_type)];
        ``partition_by`` = [(column, result_type)] identity transforms."""
        schema = _iceberg_schema_json(fields)
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        spec_fields = []
        for i, spec in enumerate(partition_by or []):
            col, typ = spec[0], spec[1]
            transform = spec[2] if len(spec) > 2 else "identity"
            name = (
                spec[3]
                if len(spec) > 3
                else (
                    col
                    if transform == "identity"
                    else col
                    + "_"
                    + transform.split("[", 1)[0]  # Iceberg's convention
                )
            )
            if name in by_name and not (
                transform == "identity" and name == col
            ):
                # same collision rule as update_spec (ADVICE r11): a
                # transform field named like an unrelated schema column
                # would mis-classify on the read side
                raise ValueError(
                    f"partition field name {name!r} collides with a "
                    "schema column: only an identity partition on "
                    "that same column may share its name"
                )
            spec_fields.append(
                {
                    "name": name,
                    "transform": transform,
                    "source-id": by_name[col],
                    "field-id": 1000 + i,
                    "result-type": typ,
                }
            )
        import hashlib

        # content-derived uuid: built-in hash() is salted per process
        # (PYTHONHASHSEED), which would break the byte-stable-re-runs
        # rule the Avro sync markers follow
        digest = hashlib.md5(table_dir.encode()).hexdigest()
        meta = {
            "format-version": 2,
            "table-uuid": (
                f"{digest[:8]}-{digest[8:12]}-{digest[12:16]}-"
                f"{digest[16:20]}-{digest[20:32]}"
            ),
            "location": table_dir,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": len(fields),
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "properties": {},
            "current-snapshot-id": None,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        os.makedirs(os.path.join(table_dir, "metadata"), exist_ok=True)
        t = IcebergTable(table_dir)
        t._write_metadata(1, meta)
        return t

    def _write_metadata(self, version: int, meta: dict) -> None:
        """Commit metadata ``version`` put-if-absent, then point the
        hint at it."""
        put_if_absent(
            self._meta_path(version), json.dumps(meta, indent=1).encode()
        )
        replace_file(self._hint_path(), str(version).encode())

    def _commit_snapshot(
        self,
        base: tuple[int, dict],
        entries: list[dict],
        operation: str,
        now_ms: int,
        delete_entries: list[dict] | None = None,
        summary_extra: dict | None = None,
    ) -> int:
        """Write manifest(s) + manifest list + the metadata version
        after ``base`` (the ``(version, metadata)`` pair from
        :meth:`_base` the entries were built from).
        ``entries`` fill the DATA manifest; ``delete_entries`` (v2
        merge-on-read position/equality delete files), when present,
        get their own manifest with ``content=1`` in the manifest list.
        Per-manifest file/row counts derive from entry statuses;
        ``min_sequence_number`` is the min over explicit entry sequences
        (EXISTING carry-forwards) and the new sequence (ADDED inherit).
        The snapshot id is deterministic (sequence-derived) — same
        no-ambient-randomness rule as the Avro sync marker.

        Partition-spec evolution (spec "Partition Evolution"): a
        manifest holds entries of ONE spec (its partition struct and
        summary layout are spec-shaped), so entries group by their
        ``spec_id`` key — carried EXISTING/DELETED entries keep the
        spec their file was written under, entries without the key
        (every ADDED entry from the write faces) take the table's
        CURRENT default spec — and each group writes its own manifest
        stamped with that ``partition_spec_id``.  Single-spec tables
        produce exactly the one-manifest layout they always did."""
        version, meta = base
        seq = meta["last-sequence-number"] + 1
        snap_id = 1000 + seq
        default_spec = meta.get("default-spec-id", 0)
        self._check_free(base)

        def stat_counts(es):
            f = {0: 0, 1: 0, 2: 0}
            r = {0: 0, 1: 0, 2: 0}
            for e in es:
                f[e["status"]] += 1
                r[e["status"]] += e["data_file"]["record_count"]
            return (
                f[_STATUS_ADDED], f[_STATUS_EXISTING], f[_STATUS_DELETED],
                r[_STATUS_ADDED], r[_STATUS_EXISTING], r[_STATUS_DELETED],
            )

        def min_seq(es):
            explicit = [
                e["sequence_number"]
                for e in es
                if e.get("sequence_number") is not None
            ]
            return min(explicit + [seq])

        mlist_rows = []
        for content, kind, all_es in (
            (_MANIFEST_DATA, "data", entries),
            (_MANIFEST_DELETES, "deletes", delete_entries or []),
        ):
            if content == _MANIFEST_DELETES and not all_es:
                continue
            by_spec: dict[int, list[dict]] = {}
            for e in all_es:
                e = dict(e)
                by_spec.setdefault(
                    e.pop("spec_id", default_spec), []
                ).append(e)
            if not by_spec:  # an EMPTY data section still needs its
                by_spec = {default_spec: []}  # (empty) manifest row
            for spec_id in sorted(by_spec):
                es = by_spec[spec_id]
                spec_fields = self._spec_fields(meta, spec_id)
                entry_schema = _manifest_entry_schema(spec_fields)
                man_rel = (
                    f"metadata/snap-{snap_id}-{kind}-manifest.avro"
                    if len(by_spec) == 1
                    else f"metadata/snap-{snap_id}-{kind}-"
                         f"spec{spec_id}-manifest.avro"
                )
                man_path = os.path.join(self.dir, man_rel)
                write_ocf(
                    man_path,
                    entry_schema,
                    es,
                    extra_meta={
                        # by schema-id lookup, never list position
                        # (external metadata need not keep ids as list
                        # indexes; meta is the unmutated current doc
                        # here, so the shared helper's clear
                        # no-such-schema error applies)
                        "schema": json.dumps(self._schema_by_id(
                            meta.get("current-schema-id", 0)
                        )).encode(),
                        "partition-spec": json.dumps(
                            spec_fields).encode(),
                        "content": kind.encode(),
                    },
                )
                (added_f, existing_f, deleted_f,
                 added_r, existing_r, deleted_r) = stat_counts(es)
                mlist_rows.append(
                    {
                        "manifest_path": man_rel,
                        "manifest_length": os.path.getsize(man_path),
                        "partition_spec_id": spec_id,
                        "content": content,
                        "sequence_number": seq,
                        "min_sequence_number": min_seq(es),
                        "added_snapshot_id": snap_id,
                        "added_files_count": added_f,
                        "existing_files_count": existing_f,
                        "deleted_files_count": deleted_f,
                        "added_rows_count": added_r,
                        "existing_rows_count": existing_r,
                        "deleted_rows_count": deleted_r,
                        "partitions": self._field_summaries(
                            es, spec_fields)
                        if spec_fields
                        else None,
                    }
                )
        mlist_rel = f"metadata/snap-{snap_id}-manifest-list.avro"
        write_ocf(
            os.path.join(self.dir, mlist_rel),
            _MANIFEST_FILE_SCHEMA,
            mlist_rows,
        )
        meta = dict(meta)
        parent = meta.get("current-snapshot-id")
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["current-snapshot-id"] = snap_id
        # spec "Branching and Tagging": the main branch tracks the
        # current snapshot; named refs (tags/branches) stay pinned
        refs = dict(meta.get("refs") or {})
        refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
        meta["refs"] = refs
        snap_rec = {
            "snapshot-id": snap_id,
            "timestamp-ms": now_ms,
            "sequence-number": seq,
            "schema-id": meta["current-schema-id"],
            # summary_extra: engine-specific properties ride the spec's
            # free-form summary map (the streaming sinks' epoch
            # watermark lives here, exactly where Spark's and Flink's
            # Iceberg sinks put theirs)
            "summary": {"operation": operation, **(summary_extra or {})},
            "manifest-list": mlist_rel,
        }
        # spec: parent-snapshot-id records true ancestry — after a
        # rollback the next commit's parent is the RESTORED snapshot,
        # not the last listed one, which is what lets changelog_scan
        # walk the ancestor chain past abandoned branches (round 12)
        if parent is not None and parent != -1:
            snap_rec["parent-snapshot-id"] = parent
        meta["snapshots"] = list(meta["snapshots"]) + [snap_rec]
        meta["snapshot-log"] = list(meta["snapshot-log"]) + [
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        ]
        self._write_metadata(version + 1, meta)
        return snap_id

    @staticmethod
    def _field_summaries(
        entries: list[dict], spec_fields: list[dict]
    ) -> list[dict]:
        out = []
        for f in spec_fields:
            vals = [
                e["data_file"]["partition"].get(f["name"])
                for e in entries
                if e["status"] != _STATUS_DELETED
            ]
            non_null = [v for v in vals if v is not None]
            out.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": None,
                    "lower_bound": _le_bytes(min(non_null), f["result-type"])
                    if non_null
                    else None,
                    "upper_bound": _le_bytes(max(non_null), f["result-type"])
                    if non_null
                    else None,
                }
            )
        return out

    def append(
        self, files: list[DataFile], now_ms: int = 0
    ) -> int:
        """Fast-append snapshot: prior live entries carry forward as
        EXISTING, new files enter as ADDED (recorded under the CURRENT
        default spec — a key the default spec does not define refuses,
        the writer-side half of spec evolution; missing keys are null
        partition values, which the spec allows)."""
        base = self._base()
        meta = base[1]
        spec_names = {
            f["name"]
            for f in self._spec_fields(
                meta, meta.get("default-spec-id", 0)
            )
        }
        for f in files:
            unknown = set(f.partition) - spec_names
            if unknown:
                raise ValueError(
                    f"partition keys {sorted(unknown)} not in the "
                    "default partition spec"
                )
        return self._commit_snapshot(
            base,
            self._live_entries(base) + [_added_entry(f) for f in files],
            "append",
            now_ms,
            delete_entries=self._live_delete_entries(base),
        )

    # ---- streaming exactly-once (round 12; the Iceberg twin of
    # DeltaLog.append_stream_batch) -------------------------------------
    _EPOCH_QUERY_KEY = "spark.sql.streaming.queryId"
    _EPOCH_ID_KEY = "spark.sql.streaming.epochId"

    def committed_epoch(self, query_id: str) -> int | None:
        """Latest committed epoch for ``query_id`` on the CURRENT
        branch, or None.  Iceberg has no txn action; engines park the
        watermark in the snapshot SUMMARY (the free-form map the spec
        reserves for exactly this) and re-derive it by walking the
        ancestor chain — the same findLatestCommittedEpoch discipline
        Spark's and Flink's Iceberg sinks use.  The walk follows
        parent-snapshot-id past rollback-abandoned branches (so a
        rollback correctly FORGETS epochs committed on the abandoned
        branch), with the list-order fallback for legacy metadata.

        Durability caveat (inherent to the summary mechanism, shared
        by production Iceberg sinks): :meth:`expire_snapshots` erases
        the watermark with the snapshots that carried it — if EVERY
        snapshot recording a query's epoch expires while the stream's
        own checkpoint is also lost, a replay re-lands.  Keep snapshot
        retention longer than checkpoint-loss recovery time, or use
        the Delta twin, whose txn state rides every checkpoint
        forever."""
        snaps = self.snapshots()
        if not snaps:
            return None
        by_id = {s["snapshot-id"]: s for s in snaps}
        cur = self.metadata().get("current-snapshot-id")
        if cur in by_id and any("parent-snapshot-id" in s for s in snaps):
            chain = []
            while cur in by_id:
                chain.append(by_id[cur])
                cur = by_id[cur].get("parent-snapshot-id")
        else:
            chain = list(reversed(snaps))
        for s in chain:
            summ = s.get("summary") or {}
            if summ.get(self._EPOCH_QUERY_KEY) == query_id:
                raw = summ.get(self._EPOCH_ID_KEY)
                try:
                    return int(raw)
                except (TypeError, ValueError):
                    # an external writer recorded this query with a
                    # malformed epoch: IGNORING it would walk on to an
                    # OLDER epoch and re-admit duplicates, so refuse
                    raise ValueError(
                        f"snapshot {s['snapshot-id']} records queryId "
                        f"{query_id!r} with malformed epochId {raw!r}"
                        " — cannot determine the idempotence watermark"
                    ) from None
        return None

    def _default_spec_split(self, meta: dict, face: str):
        """Split plan for writing a source frame under the DEFAULT
        spec (round 13 — VERDICT r12 item 2 lifts the identity-only
        refusal): identity fields keep the r12 shape (source column
        EXCLUDED from data files, value stamped from the tuple into
        the manifest), non-identity fields derive their
        partition-domain value per source row via
        :func:`transform_column` — the same spec-vector-verified
        functions the pruning layers apply to filter values — and the
        source column STAYS in the data files (transforms are lossy).
        Returns ``(id_srcs, field_of, derived)``: identity source
        columns in spec order, identity source -> spec-field name, and
        ``[(helper_col, spec_field_name, Column)]`` for the transform
        fields (``void`` stamps None without touching any column)."""
        from pyspark.sql import functions as F

        schema_fields = self._schema_by_id(
            meta.get("current-schema-id", 0)
        )["fields"]
        by_id = {f["id"]: f["name"] for f in schema_fields}
        typ_of = {f["name"]: f["type"] for f in schema_fields
                  if isinstance(f["type"], str)}
        id_srcs: list = []
        field_of: dict = {}
        derived: list = []
        for i, pf in enumerate(self._spec_fields(
            meta, meta.get("default-spec-id", 0)
        )):
            tr = pf.get("transform", "identity")
            if tr == "void":
                derived.append(
                    (f"_pt_{i}_{pf['name']}", pf["name"], F.lit(None))
                )
                continue
            src = by_id.get(pf.get("source-id"))
            if src is None:
                raise ValueError(
                    f"partition field {pf['name']!r} sources unknown "
                    f"schema field id {pf.get('source-id')}"
                )
            if tr == "identity":
                if typ_of.get(src) in ("timestamp", "timestamptz"):
                    raise NotImplementedError(
                        f"{face} with identity partitioning on "
                        f"timestamp source {src!r}: the typed "
                        "micros round-trip is not implemented — "
                        "partition by the day/hour transform instead "
                        "(supported since round 13)"
                    )
                id_srcs.append(src)
                field_of[src] = pf["name"]
            else:
                derived.append((
                    f"_pt_{i}_{pf['name']}",
                    pf["name"],
                    transform_column(tr, src, typ_of.get(src)),
                ))
        #: identity DATE values stamp manifests as epoch-day ints
        #: (Avro int, spec Appendix A — raw dates crashed the Avro
        #: union encode; the read paths already convert back)
        date_ids = {s for s in id_srcs if typ_of.get(s) == "date"}

        def pv_encode(col, v):
            if v is not None and col in date_ids:
                import datetime as _dt

                return (v - _dt.date(1970, 1, 1)).days
            return v

        return id_srcs, field_of, derived, pv_encode

    def append_stream_batch(
        self,
        batch_df,
        query_id: str,
        epoch_id: int,
        now_ms: int = 0,
    ) -> int | None:
        """Idempotent micro-batch APPEND: land ``batch_df`` as data
        files plus ONE append snapshot whose summary records
        ``(queryId, epochId)``; a re-delivered epoch — Spark's replay
        contract, or a re-run after the stream's own checkpoint is
        lost — skips (returns None) because the table's snapshot
        history already records it or a later one.  The table must
        exist (``create`` is the explicit DDL face); a partitioned
        default spec splits per partition tuple like the partitioned
        MERGE (one data file per tuple, manifest tuple stamped so
        partition filters prune streamed files) — identity fields
        stamp source values with the source column excluded from the
        data files, and bucket/truncate/temporal fields (round 13)
        derive their transform value per source row via
        :func:`transform_column` with the source column kept in the
        data; an EMPTY batch still commits so the epoch watermark
        advances.

        Crash-safety mirrors the Delta twin: parts move from a staging
        dir beside them to DETERMINISTIC ``data/txn-<q8>-<epoch>-<i>``
        names before the metadata commit, so a crash leaves orphans a
        retry overwrites byte-for-byte and :meth:`vacuum` reclaims.

        Scale: one distributed parquet write job per batch; the driver
        reads one FOOTER per part file (record count + column bounds
        for the manifest entry — metadata scale) and writes one
        manifest + metadata version."""
        import hashlib as _hashlib

        base = self._base()
        meta = base[1]
        last = self.committed_epoch(query_id)
        if last is not None and epoch_id <= last:
            return None
        schema_fields = self._schema_by_id(
            meta["current-schema-id"]
        )["fields"]
        part_cols, field_of, derived, pv_encode = (
            self._default_spec_split(meta, "append_stream_batch")
        )
        want = [f["name"] for f in schema_fields]
        if set(batch_df.columns) != set(want):
            raise ValueError(
                f"batch columns {sorted(batch_df.columns)} != table "
                f"columns {sorted(want)}"
            )
        batch_df = batch_df.select(*want)
        tag = _hashlib.md5(query_id.encode()).hexdigest()[:8]
        self._check_free(base)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        bounds_fields = [f for f in schema_fields
                         if f["name"] not in part_cols]

        entries = []
        if part_cols or derived:
            # partitioned: per-tuple split, the partitioned-merge
            # shape — one data file per tuple, manifest tuple stamped
            # so partition filters prune streamed files too.
            # Transform fields (round 13) derive once per row into
            # helper columns; identity fields split on the source.
            work = batch_df
            for h, _, expr in derived:
                work = work.withColumn(h, expr)
            key_cols = [*part_cols, *[h for h, _, _ in derived]]
            data_names = [c for c in want if c not in part_cols]
            tuples, cond_for = split_tuples(work, key_cols)
            for gi, t in enumerate(tuples):
                rel = (f"data/txn-{tag}-{epoch_id:010d}"
                       f"-p{gi:05d}.parquet")
                dest = os.path.join(self.dir, rel)
                write_parquet(
                    work.where(cond_for(t)).select(*data_names), dest
                )
                pv = {field_of[c]: pv_encode(c, t[c])
                      for c in part_cols}
                pv.update({fn: t[h] for h, fn, _ in derived})
                entries.append(_added_entry(_written_data_file(
                    self.dir, rel, pv, bounds_fields
                )))
        else:
            for dest in write_parquet(batch_df, lambda i: os.path.join(
                self.dir, f"data/txn-{tag}-{epoch_id:010d}-{i:05d}.parquet"
            )):
                entries.append(_added_entry(_written_data_file(
                    self.dir, os.path.relpath(dest, self.dir), {},
                    bounds_fields,
                )))
        return self._commit_snapshot(
            base,
            self._live_entries(base) + entries,
            "append",
            now_ms,
            delete_entries=self._live_delete_entries(base),
            summary_extra={
                self._EPOCH_QUERY_KEY: query_id,
                self._EPOCH_ID_KEY: str(epoch_id),
            },
        )

    def delete(self, paths: set[str], now_ms: int = 0) -> int:
        """Copy-on-write delete: surviving entries rewritten EXISTING,
        removed paths written DELETED (data files untouched on disk —
        time travel to older snapshots still resolves them)."""
        base = self._base()
        prior = self._live_entries(base)
        entries = []
        deleted_f = deleted_r = 0
        for e in prior:
            rel = e["data_file"]["file_path"]
            if rel in paths or self._resolve(rel) in paths:
                e = dict(e)
                e["status"] = _STATUS_DELETED
                deleted_f += 1
                deleted_r += e["data_file"]["record_count"]
            entries.append(e)
        if not deleted_f:
            raise ValueError("delete matched no live data files")
        return self._commit_snapshot(
            base,
            entries,
            "overwrite",
            now_ms,
            delete_entries=self._live_delete_entries(base),
        )

    def add_position_deletes(
        self, deletes: list[tuple[str, int]], now_ms: int = 0
    ) -> int:
        """Merge-on-read POSITION delete: write a delete parquet naming
        rows as (file_path, pos) — the reserved-field-id schema of the
        spec's "Position Delete Files" — and commit a snapshot whose
        delete manifest carries it (content=1).  ``deletes`` uses
        table-relative data file paths and 0-based row ordinals within
        each file.  Applies at read time to data files with data
        sequence ≤ this commit's sequence."""
        if not deletes:
            raise ValueError("no delete positions given")
        base = self._base()
        seq = base[1]["last-sequence-number"] + 1
        self._check_free(base)
        written = _write_delete_parquet(
            self.dir, f"data/delete-pos-{seq}.parquet",
            _pos_delete_table(sorted(deletes)),
        )
        return self._commit_snapshot(
            base,
            self._live_entries(base),
            "delete",
            now_ms,
            delete_entries=self._live_delete_entries(base)
            + [self._delete_entry(*written, _CONTENT_POS_DELETES)],
        )

    def _delete_entry(
        self, rel: str, rows: int, size: int, content: int,
        equality_ids: tuple = (),
    ) -> dict:
        """Manifest entry of a table-wide delete file (all-null
        partition tuple: it applies across every partition)."""
        spec_fields = self._spec_fields(self.metadata(), 0)
        return _added_entry(DataFile(
            path=rel,
            partition={f["name"]: None for f in spec_fields},
            record_count=rows,
            file_size=size,
            content=content,
            equality_ids=tuple(equality_ids),
        ))

    #: the DML write faces' one size decision: up to this many matched
    #: (file, position) pairs — or merge keys — collect into a driver
    #: list and their delete file writes on the driver; above it they
    #: stay a distributed frame and the delete files write on the
    #: executors, so no match size materializes on the driver.  Every
    #: step after the decision is shared.
    DELETE_ROWS_LIMIT = 1_000_000

    def _match_pairs(self, spark, column_filter: dict, face: str):
        """Shared DML matcher: bounds-prune candidate files, scan ONLY
        the predicate columns with per-file row lineage, and return
        ``(cand, part_cols, pairs)`` — ``pairs`` the lazy ``(_fp,
        _row_idx)`` frame of matched rows, None when no file survives
        the pruning.

        Guards: empty / unknown / partition predicate columns.
        Renamed histories are supported: the predicate scan pins one
        physical column per historical name of each predicate field
        and coalesces across the variants — exactly the read path's
        name-variant resolution, so pre-rename files match instead of
        silently null-filling."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if not column_filter:
            raise ValueError(f"{face} needs a predicate")
        variants = self._rename_history()
        meta = self.metadata()
        sid = meta.get("current-schema-id", 0)
        sch_fields = self._schema_by_id(sid)["fields"]
        names = {f["name"] for f in sch_fields}
        fid_of = {f["name"]: f["id"] for f in sch_fields}
        cand = self.files(column_filter=column_filter)
        part_cols = sorted({k for f in cand for k in f.partition})
        for c in column_filter:
            if c not in names:
                raise ValueError(f"no such column {c!r}")
            if c in part_cols:
                raise NotImplementedError(
                    f"{face} on partition column {c!r}: partition "
                    "values never reach the data files"
                )
        if not cand:
            return cand, part_cols, None
        full = self._spark_schema(
            sid, exclude=set(part_cols), name_variants=variants
        )
        pred_names = {
            n for c in column_filter
            for n in (variants or {}).get(fid_of[c], [c])
        }
        scan = self._scan(
            spark, cand,
            T.StructType([f for f in full.fields if f.name in pred_names]),
            row_index="_row_idx", file_path="_fp",
        ).select(
            "_fp", "_row_idx",
            *[self._logical_col(variants, fid_of[c], c).alias(c)
              for c in column_filter],
        )
        for c, (lo, hi) in column_filter.items():
            if lo is not None:
                scan = scan.filter(F.col(c) >= lo)
            if hi is not None:
                scan = scan.filter(F.col(c) <= hi)
        return cand, part_cols, scan.select("_fp", "_row_idx")

    #: target rows per position-delete parquet on the executor tier —
    #: bounds individual delete-file size (and the read side's per-file
    #: decode) without any driver materialization
    POS_DELETE_FILE_ROWS = 2_000_000

    @contextlib.contextmanager
    def _fresh_positions(
        self, spark, cand: list, pairs, base: tuple, pos_dels: list = ()
    ):
        """The DML faces' one size decision.  The matched ``pairs`` map
        to their manifest paths (a broadcast of the candidate list;
        an unmapped file fails loudly, never drops rows), lose the
        rows ``pos_dels`` already delete when given (the read path's
        :meth:`_minus_deletes`), and materialize by count:

        - at most :data:`DELETE_ROWS_LIMIT` rows collect into a sorted
          driver list, written as one ``delete-pos-<seq>`` parquet on
          the driver; later joins take a broadcast local frame;
        - above it the frame persists, range-partitions on
          ``(file_path, pos)`` and writes ~:data:`POS_DELETE_FILE_ROWS`
          rows per ``delete-pos-<seq>-<i>`` parquet from the
          executors, in the spec's delete-file sort order.

        Both call :func:`_write_delete_parquet`, after checking that
        the version after ``base`` is still free.  Yields a
        :class:`_FreshPositions`; the context owns the persisted
        frame."""
        import math

        from pyspark.sql import functions as F

        from hadoop_sync_spark.io import decode_file_uri_col

        raw_map = local_frame(
            spark,
            [(_norm_path(f.path), f.raw_path, f.sequence) for f in cand],
            "_np string, _raw_path string, _seq long",
        )
        m = self._minus_deletes(
            spark,
            pairs.withColumn("_np", decode_file_uri_col("_fp")).join(
                F.broadcast(raw_map), "_np", "left"
            ),
            cand, list(pos_dels),
        ).select(
            F.col("_raw_path").alias("file_path"),
            F.col("_row_idx").cast("long").alias("pos"), "_np",
        )
        mismatch = (
            "scanned file missing from the snapshot map (URI "
            "normalization mismatch)"
        )
        cap = self.DELETE_ROWS_LIMIT
        matched = m.limit(cap + 1).collect()
        seq = base[1]["last-sequence-number"] + 1
        self._check_free(base)
        persisted = None
        try:
            if len(matched) <= cap:
                if any(r.file_path is None for r in matched):
                    raise ValueError(mismatch)
                rows = sorted(matched)
                entries = []
                if rows:
                    written = _write_delete_parquet(
                        self.dir, f"data/delete-pos-{seq}.parquet",
                        _pos_delete_table(
                            [(r.file_path, r.pos) for r in rows]
                        ),
                    )
                    entries = [
                        self._delete_entry(*written, _CONTENT_POS_DELETES)
                    ]
                fresh = _FreshPositions(
                    len(rows),
                    sorted({r.file_path for r in rows}),
                    entries,
                    functools.cache(lambda: F.broadcast(local_frame(
                        spark, rows, "file_path string, pos long, _np string"
                    ))),
                )
            else:
                persisted = m.persist()
                if persisted.where(F.col("file_path").isNull()).first():
                    raise ValueError(mismatch)
                n = persisted.count()
                nparts = max(1, math.ceil(n / self.POS_DELETE_FILE_ROWS))
                written = _write_delete_parquets(
                    persisted.select("file_path", "pos")
                    .repartitionByRange(nparts, "file_path", "pos")
                    .sortWithinPartitions("file_path", "pos"),
                    self.dir,
                    lambda i: f"data/delete-pos-{seq}-{i}.parquet",
                )
                fresh = _FreshPositions(
                    n,
                    sorted(
                        r[0] for r in
                        persisted.select("file_path").distinct().collect()
                    ),
                    [self._delete_entry(*w, _CONTENT_POS_DELETES)
                     for w in written],
                    lambda: persisted,
                )
            yield fresh
        finally:
            if persisted is not None:
                persisted.unpersist()

    def delete_rows(self, spark, column_filter: dict,
                    now_ms: int = 0) -> int:
        """Row-level ``DELETE FROM t WHERE ...`` the merge-on-read way
        (the Iceberg twin of :meth:`DeltaLog.delete_where`): prune
        candidate files by the manifest column bounds (the same
        two-layer metadata pruning ``read`` uses — at 100 TB a
        selective predicate scans a handful of files, not the table),
        scan ONLY the predicate columns with per-file row lineage, and
        commit ONE snapshot adding the position-delete file(s) covering
        every match (inherited sequence, applies to data files with
        sequence ≤ the commit's).  Positions already covered by
        existing position deletes de-duplicate harmlessly in the
        read side's one position anti-join (:meth:`_minus_deletes`);
        rows an equality delete already hides gain a redundant
        position entry, also harmless.  Returns the number
        of (file, position) pairs committed; a no-match predicate
        commits nothing and returns 0.  Renamed schema histories are
        supported: the predicate scan resolves by name variant like
        the read path, so pre-rename files match too.  How the matches
        materialize is decided once by their count
        (:meth:`_fresh_positions`)."""
        base = self._base()
        cand, _, pairs = self._match_pairs(
            spark, column_filter, "delete_rows"
        )
        if pairs is None:
            return 0
        with self._fresh_positions(spark, cand, pairs, base) as fresh:
            if fresh.n:
                self._commit_snapshot(
                    base,
                    self._live_entries(base),
                    "delete",
                    now_ms,
                    delete_entries=self._live_delete_entries(base)
                    + fresh.entries,
                )
            return fresh.n

    def update_rows(
        self,
        spark,
        column_filter: dict,
        set_values: dict,
        now_ms: int = 0,
    ) -> int:
        """Row-level ``UPDATE t SET ... WHERE ...`` the merge-on-read
        way (the Iceberg twin of :meth:`DeltaLog.update_where`): ONE
        snapshot commits position-delete file(s) covering the matched
        rows AND their updated copies as new data files (one per
        affected partition tuple, footer bounds stamped so later
        predicates keep pruning).  The new files share the commit's
        sequence number; the position delete names only the OLD paths,
        so the spec's sequence rule leaves the copies visible.
        ``set_values`` maps column -> literal or pyspark Column over
        the logical row.  Rows existing position deletes already hide
        are excluded (updating them would resurrect deleted data);
        tables with live EQUALITY deletes refuse — the scan cannot see
        which rows they hide — as do partition(-source) columns in SET
        and partition columns in the predicate.  Renamed histories are
        supported: both the predicate scan and the rewrite-copy scan
        resolve by name variant, and the copies land under the CURRENT
        names.  How the matches materialize is decided once by their
        count (:meth:`_fresh_positions`)."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        from hadoop_sync_spark.io import decode_file_uri_col

        if not set_values:
            raise ValueError("update_rows needs at least one SET")
        base = self._base()
        meta = base[1]
        deletes = self.delete_files()
        if any(d.content == _CONTENT_EQ_DELETES for d in deletes):
            raise NotImplementedError(
                "update_rows with live equality-delete files: the scan "
                "cannot see which rows they hide and would resurrect "
                "them — compact every data file older than the "
                "equality deletes, then run remove_dangling_deletes"
            )
        sid = meta.get("current-schema-id", 0)
        schema_fields = self._schema_by_id(sid)["fields"]
        names = {f["name"] for f in schema_fields}
        by_id = {f["id"]: f["name"] for f in schema_fields}
        part_sources = set()
        for spec in meta.get("partition-specs", []):
            for pf in spec.get("fields", []):
                src = by_id.get(pf.get("source-id"))
                if src:
                    part_sources.add(src)
        for c in set_values:
            if c not in names:
                raise ValueError(f"no such column {c!r}")
            if c in part_sources:
                raise NotImplementedError(
                    f"update_rows SET on partition-source column {c!r}: "
                    "a partition move is a rewrite, not an update"
                )
        live_specs = {
            f.spec_id for f in self.files()
            if f.content == _CONTENT_DATA
        }
        if live_specs - {meta.get("default-spec-id", 0)}:
            raise NotImplementedError(
                "update_rows on a table whose live files carry "
                f"partition specs {sorted(live_specs)} other than the "
                "default: the rewritten copies' partition tuples would "
                "be stamped under the default spec while sourced from "
                "another — use delete_rows + append to move those rows"
            )
        cand, part_cols, pairs = self._match_pairs(
            spark, column_filter, "update_rows"
        )
        if pairs is None:
            return 0
        cand_by_raw = {f.raw_path: f for f in cand}
        seq = meta["last-sequence-number"] + 1
        variants = self._rename_history()
        fid_of = {f["name"]: f["id"] for f in schema_fields}
        scan_schema = self._spark_schema(
            sid, exclude=set(part_cols), name_variants=variants
        )
        full = self._spark_schema(sid, exclude=set(part_cols))
        spark_types = {f.name: f.dataType for f in full.fields}

        # ONE select: every SET expression evaluates against the
        # ORIGINAL row (simultaneous-assignment UPDATE semantics)
        exprs = {
            c: (v if isinstance(v, Column) else F.lit(v))
            .cast(spark_types[c])
            for c, v in set_values.items()
        }
        with self._fresh_positions(
            spark, cand, pairs, base,
            [d for d in deletes if d.content == _CONTENT_POS_DELETES],
        ) as fresh:
            if not fresh.n:
                return 0
            groups: dict[tuple, list[str]] = {}
            for raw in fresh.raws:
                pv = cand_by_raw[raw].partition
                groups.setdefault(
                    tuple(sorted(pv.items())), []
                ).append(raw)
            new_entries: list[dict] = []
            for gi, pv_t in enumerate(sorted(groups)):
                raws = groups[pv_t]
                upd = self._scan(
                    spark, [cand_by_raw[r] for r in raws], scan_schema,
                    row_index="_row_idx", file_path="_fp",
                ).select(
                    decode_file_uri_col("_fp").alias("_afp"),
                    "_row_idx",
                    *[self._logical_col(variants, fid_of[f.name], f.name)
                      .alias(f.name) for f in full.fields],
                ).join(fresh.pairs(raws), ["_afp", "_row_idx"], "inner")
                rel_new = f"data/part-update-{seq}-{gi}.parquet"
                write_parquet(
                    upd.select(*[
                        exprs.get(f.name, F.col(f.name)).alias(f.name)
                        for f in full.fields
                    ]),
                    os.path.join(self.dir, rel_new),
                )
                new_entries.append(_added_entry(_written_data_file(
                    self.dir, rel_new, dict(pv_t), schema_fields
                )))
            self._commit_snapshot(
                base,
                self._live_entries(base) + new_entries,
                "overwrite",
                now_ms,
                delete_entries=self._live_delete_entries(base)
                + fresh.entries,
            )
            return fresh.n

    def add_equality_deletes(
        self, rows: list[dict], equality_ids: list[int], now_ms: int = 0
    ) -> int:
        """Merge-on-read EQUALITY delete — the documented write face
        (the Iceberg twin of the Delta DV writer
        :meth:`DeltaLog.add_deletion_vector`, spec "Equality Delete
        Files" / "Sequence Numbers").  Writes one delete parquet holding
        the equality columns (keyed by schema FIELD IDS; the file's
        column names are the current schema's names for those ids) and
        commits it in a delete manifest (content=2) whose entry leaves
        ``sequence_number`` null — the commit's own sequence number is
        INHERITED per the spec's assignment rule, which is what makes
        the semantics right: the delete applies at read time to data
        files STRICTLY OLDER (data sequence < delete sequence), so a
        row re-inserted with the same key after the delete survives —
        upsert semantics, pinned by
        tests/test_iceberg.py::test_equality_deletes_upsert_semantics.
        ``rows`` are keyed by the CURRENT schema's column names; a
        renamed table's historical delete files keep resolving by field
        id on the read side (name variants).  Refuses unknown field ids
        and column types outside the supported scalar map."""
        import pyarrow as pa

        if not rows or not equality_ids:
            raise ValueError("equality delete needs rows and field ids")
        base = self._base()
        meta = base[1]
        # by schema-id lookup, never list position (external metadata
        # need not keep schema ids as list indexes)
        schema_fields = {
            f["id"]: f
            for f in self._schema_by_id(
                meta.get("current-schema-id", 0)
            )["fields"]
        }
        cols = {}
        for fid in equality_ids:
            if fid not in schema_fields:
                raise ValueError(f"unknown schema field id {fid}")
            name, typ = schema_fields[fid]["name"], schema_fields[fid]["type"]
            if typ not in _EQ_DELETE_ARROW_TYPES:
                raise NotImplementedError(
                    f"equality delete on {typ!r} column"
                )
            cols[name] = pa.array(
                [r[name] for r in rows],
                getattr(pa, _EQ_DELETE_ARROW_TYPES[typ])(),
            )
        seq = meta["last-sequence-number"] + 1
        self._check_free(base)
        written = _write_delete_parquet(
            self.dir, f"data/delete-eq-{seq}.parquet", pa.table(cols)
        )
        return self._commit_snapshot(
            base,
            self._live_entries(base),
            "delete",
            now_ms,
            delete_entries=self._live_delete_entries(base) + [
                self._delete_entry(
                    *written, _CONTENT_EQ_DELETES, tuple(equality_ids)
                )
            ],
        )

    def merge_upsert(
        self,
        spark,
        source,
        key_col: str,
        now_ms: int = 0,
    ) -> dict:
        """MERGE/upsert the Flink-CDC way: ONE snapshot commits the
        source rows as a new data file (footer bounds stamped) PLUS an
        equality-delete file on ``key_col`` covering the source keys.
        **No target scan at any size** — the work is O(source), never
        O(table), because the spec does the matching at read time: the
        equality delete hides old rows with those keys in STRICTLY
        older files (sequence <), and the same-commit data file is
        exempt by exactly that strictness, so the new versions survive.
        This is how production streaming writers land CDC upserts on
        100 TB tables without reading them.  ``source`` is a DataFrame
        carrying exactly the table's data columns (extra columns
        refuse; missing ones null-fill is NOT assumed — refuse, an
        upsert that silently nulls columns is a data bug).  The
        distinct source keys take the DML faces' one size decision:
        up to :data:`DELETE_ROWS_LIMIT` they collect and the delete
        file writes on the driver, above it the sorted delete file
        writes from the distributed frame.  Partitioned tables split
        the source per partition tuple and land one data file per
        tuple in the same snapshot, each stamped with its tuple and
        footer bounds; the equality delete stays table-wide (all-null
        tuple) so old rows hide across every partition, exactly the
        Flink-CDC shape.  Bucket/truncate/temporal default specs are
        supported too: the transform value derives per source row via
        :func:`transform_column` — the spec-vector-verified functions
        the pruning layers use — with the source column kept in the
        data files.  Renamed histories are fine — equality deletes
        resolve by field id on the read side."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        base = self._base()
        meta = base[1]
        sid = meta.get("current-schema-id", 0)
        schema_fields = self._schema_by_id(sid)["fields"]
        names = [f["name"] for f in schema_fields]
        if key_col not in names:
            raise ValueError(f"no such column {key_col!r}")
        part_cols, field_of, derived, pv_encode = (
            self._default_spec_split(meta, "merge_upsert")
        )
        if key_col in part_cols:
            raise NotImplementedError(
                f"merge_upsert key on partition(-source) column "
                f"{key_col!r}: identity partition values are attached "
                "from the manifests, not stored in the data files — "
                "key on a data column"
            )
        extra = set(source.columns) - set(names)
        missing = set(names) - set(source.columns)
        if extra or missing:
            raise ValueError(
                f"source columns must match the table's data columns "
                f"exactly (extra: {sorted(extra)}, "
                f"missing: {sorted(missing)})"
            )
        key_fid, key_typ = next(
            (f["id"], f["type"]) for f in schema_fields
            if f["name"] == key_col
        )
        if key_typ not in _EQ_DELETE_ARROW_TYPES:
            # fail BEFORE any file writes
            raise NotImplementedError(
                f"merge_upsert key on {key_typ!r} column: equality "
                "deletes support scalar long/int/string/double/boolean "
                "keys"
            )
        full = self._spark_schema(sid)
        cap = self.DELETE_ROWS_LIMIT
        # the CAST key values — the delete file must carry exactly what
        # the data file stores
        keys_df = source.select(
            F.col(key_col).cast(full[key_col].dataType).alias(key_col)
        ).distinct()
        keys = [r[0] for r in keys_df.limit(cap + 1).collect()]
        if not keys:
            return {"snapshot_id": None, "rows": 0, "keys": 0}
        over_cap_keys = len(keys) > cap
        # keep the format twins consistent: Delta's `=` match can never
        # hit NULL while our equality read is null-safe — a null-keyed
        # upsert is ambiguous, both faces refuse; an over-cap key set
        # checks by aggregate
        if (
            keys_df.where(F.col(key_col).isNull()).limit(1).count()
            if over_cap_keys
            else any(k is None for k in keys)
        ):
            raise ValueError(
                "merge_upsert source contains NULL keys — upsert keys "
                "must be non-null"
            )
        seq = meta["last-sequence-number"] + 1
        del_rel = f"data/delete-eq-{seq}.parquet"
        self._check_free(base)
        if over_cap_keys:
            (written,) = _write_delete_parquets(
                keys_df.repartition(1).sortWithinPartitions(key_col),
                self.dir,
                lambda _: del_rel,
            )
        else:
            written = _write_delete_parquet(self.dir, del_rel, pa.table({
                key_col: pa.array(
                    sorted(keys),
                    getattr(pa, _EQ_DELETE_ARROW_TYPES[key_typ])(),
                )
            }))
        del_entry = self._delete_entry(
            *written, _CONTENT_EQ_DELETES, (key_fid,)
        )
        cast_src = source.select(*[
            F.col(n).cast(full[n].dataType) for n in names
        ])
        data_names = [n for n in names if n not in part_cols]
        data_schema_fields = [
            f for f in schema_fields if f["name"] not in part_cols
        ]
        # one (rel, frame, partition) per data file to write
        outs: list[tuple[str, object, dict]] = [
            (f"data/part-upsert-{seq}.parquet", cast_src, {})
        ]
        if part_cols or derived:
            # per-tuple split; transform fields derive once per row
            # into helper columns, identity fields split on the source
            # — the append_stream_batch shape
            work = cast_src
            for h, _, expr in derived:
                work = work.withColumn(h, expr)
            key_cols = [*part_cols, *[h for h, _, _ in derived]]
            tuples, cond_for = split_tuples(work, key_cols)
            outs = []
            for gi, t in enumerate(tuples):
                pv = {field_of[c]: pv_encode(c, t[c]) for c in part_cols}
                pv.update({fn: t[h] for h, fn, _ in derived})
                outs.append((
                    f"data/part-upsert-{seq}-{gi}.parquet",
                    work.where(cond_for(t)).select(*data_names),
                    pv,
                ))
        data_files = []
        for rel_new, out, pv in outs:
            write_parquet(out, os.path.join(self.dir, rel_new))
            data_files.append(_written_data_file(
                self.dir, rel_new, pv, data_schema_fields
            ))
        snap_id = self._commit_snapshot(
            base,
            self._live_entries(base) + [_added_entry(f) for f in data_files],
            "overwrite",
            now_ms,
            delete_entries=self._live_delete_entries(base) + [del_entry],
        )
        return {"snapshot_id": snap_id,
                "rows": sum(f.record_count for f in data_files),
                "keys": written[1]}

    def incremental_scan(
        self,
        spark,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> "DataFrame":
        """Incremental APPEND scan (round 11; Iceberg's incremental
        read): the rows added by append snapshots AFTER
        ``from_snapshot_id`` (exclusive) up to ``to_snapshot_id``
        (inclusive, default current), each tagged with the
        ``_snapshot_id`` that added it — the CDC-consumer face for
        append-only ingestion, O(new data) regardless of table size.
        Every snapshot in the range must be an ``append``:
        overwrite/delete/replace snapshots refuse (their row-level
        story is the changelog scan, out of this face's scope), and
        the appended rows are returned AS APPENDED — later delete
        files do not subtract here, per the incremental-read contract.
        Renamed histories are SUPPORTED (round 13, lifting the r11
        refusal): the scan pins one physical column per historical
        name of each field and coalesces across the variants, emitting
        the CURRENT names — the batch read path's rule, the same one
        ``read_changes`` applies on the Delta side."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from hadoop_sync_spark.io import attach_file_columns

        variants = self._rename_history()
        snaps = self.snapshots()
        ids = [s["snapshot-id"] for s in snaps]
        if from_snapshot_id not in ids:
            raise ValueError(
                f"unknown snapshot id {from_snapshot_id}"
            )
        if to_snapshot_id is None:
            # the table's CURRENT snapshot, not the last listed one —
            # external metadata may stage snapshots past the current
            # pointer (rolled-back tables), and read() would not show
            # their rows (r11 review)
            to_snapshot_id = self.snapshot()["snapshot-id"]
        if to_snapshot_id not in ids:
            raise ValueError(f"unknown snapshot id {to_snapshot_id}")
        i0, i1 = ids.index(from_snapshot_id), ids.index(to_snapshot_id)
        if i1 < i0:
            raise ValueError(
                f"to_snapshot {to_snapshot_id} precedes "
                f"from_snapshot {from_snapshot_id}"
            )
        rng = snaps[i0 + 1: i1 + 1]
        for s in rng:
            op = (s.get("summary") or {}).get("operation")
            if op != "append":
                raise NotImplementedError(
                    f"incremental_scan over a {op!r} snapshot "
                    f"({s['snapshot-id']}): append-only ranges only — "
                    "use changelog_scan for row-level "
                    "overwrite/delete history"
                )
        # O(new files), not O(range x table): each range snapshot's
        # manifest list names the manifests IT added
        # (added_snapshot_id); only those manifests' ADDED entries are
        # this snapshot's new files (r11 review — the set-difference
        # walk re-listed every live file per snapshot)
        added: dict[str, tuple] = {}  # raw_path -> (sid, DataFile)
        range_specs: set[int] = set()
        for s in rng:
            files, specs = self._added_files(s)
            range_specs |= specs
            added.update((f.raw_path, (s["snapshot-id"], f))
                         for f in files)
        meta = self.metadata()
        sid = meta.get("current-schema-id", 0)
        # partition columns come from the SPEC names (stable whether or
        # not anything was added — an empty interval's frame must union
        # with a non-empty one; r11 review caught the added-derived
        # names making the typing block unreachable).  Under spec
        # evolution the names come from the RANGE's own specs (each
        # added manifest records its spec id; an empty interval types
        # by the default spec) so a wholly pre-evolution range keeps
        # its identity columns in the DATA section where its files
        # carry them.
        part_types, date_parts = self._partition_types(
            meta, sid,
            spec_ids=range_specs or {meta.get("default-spec-id", 0)},
        )
        part_cols = sorted(part_types)
        data_schema = self._spark_schema(sid, exclude=set(part_cols))
        out_schema = T.StructType(
            list(data_schema.fields)
            + [T.StructField(
                c, T.DateType() if c in date_parts else part_types[c],
                True)
               for c in part_cols]
            + [T.StructField("_snapshot_id", T.LongType(), False)]
        )
        if not added:
            return local_frame(spark, [], out_schema)
        infos = sorted(added.items())
        schema_names = {
            f["name"] for f in self._schema_by_id(sid)["fields"]
        }
        cross = sorted({
            c for c in part_cols
            if c in schema_names
            and any(c not in f.partition for _, (_, f) in infos)
        })
        if cross:
            # a range crossing an identity-field spec evolution mixes
            # files that carry the column in DATA with files that
            # record it in metadata; this face's one-schema scan would
            # silently drop the data-side values — read() composes the
            # two eras, the incremental face refuses (honest seam)
            raise NotImplementedError(
                "incremental_scan range crosses a spec evolution on "
                f"identity fields {cross}: scan the eras separately "
                "or use read()"
            )
        # pin the scan schema on evolved tables: one physical column
        # per historical name of each field (a conforming file carries
        # exactly one; the rest null-fill)
        scan = self._scan(
            spark, [f for _, (_, f) in infos],
            self._spark_schema(
                sid, exclude=set(part_cols), name_variants=variants
            ) if len(meta.get("schemas", [])) > 1 or variants else None,
        )
        rows = [
            (_norm_path(f.path), snap_id)
            + tuple(f.partition.get(c) for c in part_cols)
            for _, (snap_id, f) in infos
        ]
        fid_of = {
            f["name"]: f["id"]
            for f in self._schema_by_id(sid)["fields"]
        }
        return attach_file_columns(
            scan, rows, ["_snapshot_id", *part_cols],
            # date parts stay epoch-day longs until the conversion below
            types={"_snapshot_id": T.LongType()} | part_types,
            what="iceberg incremental scan",
        ).select(
            *[self._logical_col(variants, fid_of[f.name], f.name)
              .alias(f.name) for f in data_schema.fields],
            *[F.date_from_unix_date(F.col(c).cast("int")).alias(c)
              if c in date_parts else F.col(c)
              for c in part_cols],
            "_snapshot_id",
        )

    def _added_files(self, s: dict) -> tuple[list[DataFile], set[int]]:
        """The data files snapshot ``s`` ADDED, and the partition specs
        of the data manifests it wrote — read from only those
        manifests (``added_snapshot_id``), so the work is O(new files),
        not O(table).  :meth:`incremental_scan` and its streaming half
        plan through it."""
        files: list[DataFile] = []
        specs: set[int] = set()
        _, manifests, _ = read_ocf(self._resolve(s["manifest-list"]))
        for mf in manifests:
            if (mf["content"] != _MANIFEST_DATA
                    or mf.get("added_snapshot_id") != s["snapshot-id"]):
                continue
            specs.add(mf["partition_spec_id"])
            _, entries, _ = read_ocf(self._resolve(mf["manifest_path"]))
            files += [
                DataFile(
                    path=self._resolve(e["data_file"]["file_path"]),
                    partition=dict(e["data_file"]["partition"] or {}),
                    record_count=e["data_file"]["record_count"],
                    file_size=e["data_file"]["file_size_in_bytes"],
                    raw_path=e["data_file"]["file_path"],
                    spec_id=mf["partition_spec_id"],
                )
                for e in entries
                if e["status"] == _STATUS_ADDED
                and e["data_file"]["content"] == _CONTENT_DATA
            ]
        return files, specs

    def changelog_scan(
        self,
        spark,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> "DataFrame":
        """Row-level CHANGELOG scan (round 12 — the face
        :meth:`incremental_scan`'s delete refusal names; Iceberg's
        ``create_changelog_view`` shape): every snapshot in
        ``(from, to]`` contributes its row-level effect as tagged rows
        — ``_change_type`` ``insert``/``delete`` plus the
        ``_snapshot_id`` that caused it — so CDC consumers can replay
        DELETE/UPDATE/MERGE history, not just appends.

        Derivation is a per-snapshot VISIBILITY DIFF restricted to the
        files that could have changed, never a table diff.  The files
        come from :meth:`_changelog_targets`, the planner the
        ``iceberg_incremental`` stream's changelog mode shares:

        - inserts are the snapshot's ADDED data files read at that
          snapshot (so a same-commit delete file already subtracts);
        - deletes come from ``read(parent, paths=targeted) EXCEPT ALL
          read(snapshot, paths=targeted)``.  Both sides are SUBSET
          scans through :meth:`read`'s one delete-apply, so prior
          deletes, sequence rules and null-safe equality semantics are
          exactly :meth:`read`'s.

        Data reads are O(added + targeted files), never O(range ×
        table); the planner's metadata walk still lists the parent's
        and the snapshot's live files for each range snapshot.
        ``replace`` snapshots (compaction) are skipped — the spec
        defines them as logical no-ops, the same trust production
        changelog readers extend.  Renamed histories are SUPPORTED
        (round 13): every frame comes from :meth:`read`, whose
        name-variant coalesce already emits CURRENT names.  Note a
        range CROSSING the rename itself still refuses via the
        schema-change check below (a rename mints a new schema id).
        Refusals (honest seams): ranges crossing a schema change (the
        diff would union frames of different widths; Delta's twin
        pins the end schema — scan the eras separately here), ranges
        containing snapshot operations other than
        append/delete/overwrite/replace, and a partition-shape change
        inside the range."""
        from pyspark.sql import functions as F

        snaps = self.snapshots()
        ids = [s["snapshot-id"] for s in snaps]
        if from_snapshot_id not in ids:
            raise ValueError(f"unknown snapshot id {from_snapshot_id}")
        if to_snapshot_id is None:
            to_snapshot_id = self.snapshot()["snapshot-id"]
        if to_snapshot_id not in ids:
            raise ValueError(f"unknown snapshot id {to_snapshot_id}")
        by_id = {s["snapshot-id"]: s for s in snaps}
        # ancestry walk (parent-snapshot-id) when the metadata records
        # it — correct across rollbacks, whose ABANDONED snapshots stay
        # in the list between the restored id and later commits; the
        # list-order fallback covers legacy metadata without parent
        # links (linear history by the same assumption
        # incremental_scan documents)
        if any("parent-snapshot-id" in s for s in snaps):
            chain: list[dict] = []
            cur = to_snapshot_id
            while cur != from_snapshot_id:
                s = by_id[cur]
                chain.append(s)
                p = s.get("parent-snapshot-id")
                if p is None or p not in by_id:
                    raise ValueError(
                        f"snapshot {from_snapshot_id} is not an "
                        f"ancestor of {to_snapshot_id}"
                    )
                cur = p
            chain.reverse()
        else:
            i0 = ids.index(from_snapshot_id)
            i1 = ids.index(to_snapshot_id)
            if i1 < i0:
                raise ValueError(
                    f"to_snapshot {to_snapshot_id} precedes "
                    f"from_snapshot {from_snapshot_id}"
                )
            chain = snaps[i0 + 1: i1 + 1]
        end_schema = self._read_schema_id(to_snapshot_id)
        for s in [by_id[from_snapshot_id], *chain]:
            if self._read_schema_id(s["snapshot-id"]) != end_schema:
                raise NotImplementedError(
                    "changelog_scan range crosses a schema change "
                    f"(snapshot {s['snapshot-id']} reads schema "
                    f"{self._read_schema_id(s['snapshot-id'])}, the "
                    f"range end reads {end_schema}): scan the eras "
                    "separately"
                )
        frames = []
        cols_ref: list[str] | None = None

        def _tag(df, kind, snap_id):
            nonlocal cols_ref
            if cols_ref is None:
                cols_ref = list(df.columns)
            elif list(df.columns) != cols_ref:
                raise NotImplementedError(
                    "changelog_scan range crosses a partition-shape "
                    f"change ({cols_ref} vs {list(df.columns)}): scan "
                    "the eras separately"
                )
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(snap_id).cast("long").alias("_snapshot_id"),
            )

        prev_id = from_snapshot_id
        for s in chain:
            snap_id = s["snapshot-id"]
            parent_id = prev_id
            prev_id = snap_id
            op = (s.get("summary") or {}).get("operation")
            if op == "replace":
                continue  # compaction: logical no-op by spec contract
            if op not in ("append", "delete", "overwrite"):
                raise NotImplementedError(
                    f"changelog_scan over a {op!r} snapshot "
                    f"({snap_id})"
                )
            tg = self._changelog_targets(parent_id, snap_id)
            if tg.added:
                frames.append(_tag(
                    self.read(spark, snapshot_id=snap_id,
                              paths={f.raw_path for f in tg.added}),
                    "insert", snap_id,
                ))
            if tg.targeted:
                before = self.read(
                    spark, snapshot_id=parent_id,
                    paths={f.raw_path for f in tg.targeted},
                )
                alive = {f.raw_path for f in tg.targeted} & set(tg.live)
                if alive:
                    after = self.read(
                        spark, snapshot_id=snap_id, paths=alive
                    )
                    if list(after.columns) != list(before.columns):
                        raise NotImplementedError(
                            "changelog_scan range crosses a "
                            "partition-shape change: scan the eras "
                            "separately"
                        )
                    diff = before.exceptAll(after)
                else:
                    diff = before
                frames.append(_tag(diff, "delete", snap_id))
        if not frames:
            base = self.read(
                spark, snapshot_id=to_snapshot_id
            ).limit(0)
            return _tag(base, "insert", to_snapshot_id).limit(0)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _changelog_targets(self, parent_id: int | None,
                           snapshot_id: int) -> "_ChangeTargets":
        """The one changelog planner (:meth:`changelog_scan` and the
        ``iceberg_incremental`` stream's changelog mode): what snapshot
        ``snapshot_id`` changed against ``parent_id`` (None: nothing
        before it), from metadata and delete-file footers only.

        - ``added``: data files live at the snapshot and not at the
          parent;
        - ``targeted``: the parent's data files whose visible rows may
          differ at the snapshot — files the snapshot REMOVED, files
          its NEW position deletes name (:meth:`_named_data_files`,
          sequence-checked) and, for each NEW equality delete, the
          strictly older files :meth:`_eq_footer_prune` cannot rule
          out.  A superset is sound: an untouched file diffs to
          nothing;
        - ``live``: the snapshot's data files by manifest path;
        - ``dels_before`` / ``dels_after``: the live delete files at
          the parent and at the snapshot."""
        def data(sid):
            return {} if sid is None else {
                f.raw_path: f for f in self.files(snapshot_id=sid)
                if f.content == _CONTENT_DATA
            }

        live_p, live_s = data(parent_id), data(snapshot_id)
        dels_p = ([] if parent_id is None
                  else self.delete_files(snapshot_id=parent_id))
        dels_s = self.delete_files(snapshot_id=snapshot_id)
        targeted = set(live_p) - set(live_s)  # removed files
        old = {d.raw_path for d in dels_p}
        for d in dels_s:
            if d.raw_path in old:
                continue
            if d.content == _CONTENT_POS_DELETES:
                targeted |= {
                    raw for raw in self._named_data_files(d)
                    if raw in live_p and _applies(d, live_p[raw])
                }
            elif d.content == _CONTENT_EQ_DELETES:
                older = {raw for raw, f in live_p.items() if _applies(d, f)}
                if older:
                    targeted |= self._eq_footer_prune(d, parent_id, older)
        return _ChangeTargets(
            added=[live_s[r] for r in sorted(set(live_s) - set(live_p))],
            targeted=[live_p[r] for r in sorted(targeted)],
            live=live_s,
            dels_before=dels_p,
            dels_after=dels_s,
        )

    @staticmethod
    def _named_data_files(d: DataFile) -> set[str]:
        """The manifest paths position-delete file ``d`` names: its
        ``file_path`` column, read with pyarrow (delete files are
        metadata-scale next to the data they prune)."""
        import pyarrow.parquet as pq

        return set(
            pq.read_table(d.path, columns=["file_path"])
            .column("file_path").to_pylist()
        )

    def _eq_footer_prune(self, d: DataFile, parent_id: int,
                         older: set) -> set:
        """The files of ``older`` (the parent's data files strictly
        older than equality delete ``d``) that may hold a row ``d``
        matches, entirely metadata-side: the delete parquet's FOOTER
        stats give the key's [min, max], and the manifest column bounds
        prune the parent's live files by that range — no data pages
        read anywhere.  ``older`` comes back whole when the range
        cannot prune soundly: several key columns, a float/double key
        (NaN sits in no [min, max] — manifest bounds and footer stats
        both leave it out, yet the null-safe match hides it), missing
        stats, any null key, or a key column the file or the parent's
        schema does not resolve."""
        import pyarrow.parquet as pq

        if len(d.equality_ids) != 1:
            return older
        field = next((
            f for f in self._schema_by_id(
                self._read_schema_id(parent_id))["fields"]
            if f["id"] == d.equality_ids[0]
        ), None)
        if field is None or field["type"] in ("float", "double"):
            return older
        col = next((
            n for n in (self._rename_history() or {}).get(
                field["id"], [field["name"]])
            if n in pq.read_schema(d.path).names
        ), None)
        if col is None:
            return older
        md = pq.read_metadata(d.path)
        lo = hi = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema != col:
                    continue
                st = c.statistics
                if (st is None or not st.has_min_max
                        or st.null_count is None or st.null_count):
                    return older
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        if lo is None:
            return older
        try:
            return older & {
                f.raw_path for f in self.files(
                    snapshot_id=parent_id,
                    column_filter={field["name"]: (lo, hi)},
                )
            }
        except (ValueError, NotImplementedError):
            return older  # unprunable key type/column: keep superset

    def _schema_by_id(self, sid: int) -> dict:
        for s in self.metadata().get("schemas", []):
            if s.get("schema-id", 0) == sid:
                return s
        raise ValueError(f"no schema with schema-id {sid}")

    def _rename_history(self) -> dict[int, list[str]] | None:
        """Classify the schema history for column resolution (pure
        metadata).  Returns:

        - ``None`` — every field id kept one name and every name one
          id: plain NAME resolution is sound;
        - ``{fid: [names, latest first]}`` — some field id changed
          NAME (a spec rename) while every name still belongs to ONE
          id across the whole history: resolution goes by NAME VARIANT
          (round 10) — the scan schema pins every historical name of
          the field (a conforming file carries exactly one of them)
          and the logical column coalesces across the variants, so
          renamed tables read without footer field ids, on one scan;
        Spec-legal type PROMOTIONS (int → long, float → double; round
        10) pass the check without needing variants: the read pins the
        snapshot schema's (widest) type and Spark's parquet reader
        upcasts narrower physical columns natively.  Raises on:

        - an ILLEGAL type change (anything off the promotion lattice,
          or a narrowing) — per-file coercion stays the honest seam;
        - a name carried by two field ids (drop + re-add: an old
          file's physical column would leak into the new field under
          any name-based scheme), pending footer-field-id resolution."""
        names_of: dict[int, list[str]] = {}
        typ_of: dict[int, str] = {}
        name_ids: dict[str, int] = {}
        renamed = False
        for s in self.metadata().get("schemas", []):
            for f in s["fields"]:
                typ = json.dumps(f["type"], sort_keys=True)
                prev_t = typ_of.setdefault(f["id"], typ)
                if prev_t != typ:
                    if (prev_t, typ) in _PROMOTIONS:
                        typ_of[f["id"]] = typ  # widened; keep walking
                    else:
                        raise NotImplementedError(
                            f"type change (field id {f['id']}: "
                            f"{prev_t} -> {typ}) is off the spec's "
                            "promotion lattice; refusing to silently "
                            "mis-read"
                        )
                owner = name_ids.setdefault(f["name"], f["id"])
                if owner != f["id"]:
                    raise NotImplementedError(
                        f"schema evolution beyond add/drop/rename "
                        f"(name {f['name']!r} carried by field ids "
                        f"{owner} and {f['id']}) needs id-based "
                        "column resolution"
                    )
                seq = names_of.setdefault(f["id"], [])
                if f["name"] not in seq:
                    if seq:
                        renamed = True
                    seq.insert(0, f["name"])  # latest first
        return names_of if renamed else None

    def _spark_schema(
        self,
        sid: int,
        exclude: set | None = None,
        name_variants: dict[int, list[str]] | None = None,
    ):
        """Pinned Spark read schema for schema-id ``sid``.  With
        ``name_variants`` (a rename history from
        :meth:`_rename_history`) the schema pins a column per
        HISTORICAL name of each field — a conforming file carries
        exactly one of them (the name its write-time schema used), the
        rest null-fill, and the read's logical projection coalesces
        across the variants."""
        from pyspark.sql import types as T

        fields = []
        for f in self._schema_by_id(sid)["fields"]:
            if exclude and f["name"] in exclude:
                continue
            typ = self._spark_type(f["type"])
            if typ is None:
                raise NotImplementedError(
                    f"iceberg type {f['type']!r} in the read schema"
                )
            names = (
                name_variants.get(f["id"], [f["name"]])
                if name_variants else [f["name"]]
            )
            for n in names:
                fields.append(T.StructField(n, typ, True))
        return T.StructType(fields)

    @staticmethod
    def _spark_type(ityp):
        """The Spark type of Iceberg primitive ``ityp``; None for a type
        the pinned read does not map."""
        from pyspark.sql import types as T

        return {
            "long": T.LongType(), "int": T.IntegerType(),
            "double": T.DoubleType(), "float": T.FloatType(),
            "string": T.StringType(), "boolean": T.BooleanType(),
            "date": T.DateType(), "binary": T.BinaryType(),
            "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType(),
        }.get(ityp) if isinstance(ityp, str) else None

    def add_column(
        self, name: str, spark_type: str, now_ms: int = 0
    ) -> int:
        """Schema evolution, the add-column face (spec: "Schema
        Evolution" — adds are metadata-only; existing data files simply
        lack the column and reads null-fill it).  Appends a new schema
        with the next schema-id and field id (``last-column-id`` + 1),
        points ``current-schema-id`` at it, and bumps the metadata
        version — no snapshot is committed (Iceberg's own shape: DDL is
        a metadata swap).  Returns the new field id."""
        version, meta = self._base()
        cur = self._schema_by_id(meta["current-schema-id"])
        if any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"column {name!r} already exists")
        if spark_type not in _SPARK_TO_ICEBERG:
            raise NotImplementedError(
                f"no Iceberg mapping for Spark type {spark_type!r}"
            )
        fid = meta["last-column-id"] + 1
        meta["last-column-id"] = fid
        self._commit_schema(version, meta, cur, cur["fields"] + [{
            "id": fid,
            "name": name,
            "required": False,
            "type": _SPARK_TO_ICEBERG[spark_type],
        }], now_ms)
        return fid

    def _commit_schema(self, version, meta, cur, fields, now_ms) -> None:
        """The schema-evolution faces' one step: ``cur`` with ``fields``
        becomes a new current schema of ``meta``, committed at
        ``version + 1``."""
        sid = max(s.get("schema-id", 0) for s in meta["schemas"]) + 1
        meta["schemas"].append({**cur, "schema-id": sid, "fields": fields})
        meta["current-schema-id"] = sid
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)

    def rename_column(self, old: str, new: str, now_ms: int = 0) -> None:
        """Schema evolution, the rename face (round 10; metadata-only
        like :meth:`add_column`): the new schema carries the SAME field
        id under the new name — the spec's id-stable rename.  Reads of
        a renamed table resolve columns by NAME VARIANT
        (:meth:`_rename_history` / :meth:`_spark_schema`): the pinned
        scan schema carries one physical column per historical name of
        the field, a conforming file populates exactly the name its
        write-time schema used (the rest null-fill), and the logical
        projection coalesces across the variants — ONE scan, no
        per-file plans, no reliance on parquet footer field ids (a
        conf-driven ``parquet.field.id`` design was measured and
        rejected in round 10: the conf is read at action time and
        stamped footers poison mixed-directory inferred reads).
        Refusal cases stay honest: a name carried by two field ids
        (drop + re-add of the same name) and off-lattice type changes
        both raise in ``_rename_history`` rather than mis-read.
        Partition-source columns refuse here: identity spec field
        NAMES were fixed at create time, and a renamed source would
        silently diverge from the attach column."""
        version, meta = self._base()
        cur = self._schema_by_id(meta["current-schema-id"])
        if not any(f["name"] == old for f in cur["fields"]):
            raise ValueError(f"no such column {old!r}")
        if any(f["name"] == new for f in cur["fields"]):
            raise ValueError(f"column {new!r} already exists")
        by_id = {f["id"]: f["name"] for f in cur["fields"]}
        for spec in meta.get("partition-specs", []):
            for pf in spec["fields"]:
                if by_id.get(pf.get("source-id")) == old:
                    raise ValueError(
                        f"column {old!r} is a partition source "
                        f"(spec field {pf['name']!r}) — renaming it "
                        "would diverge from the spec field name"
                    )
        self._commit_schema(version, meta, cur, [
            {**f, "name": new} if f["name"] == old else f
            for f in cur["fields"]
        ], now_ms)

    def create_ref(
        self,
        name: str,
        ref_type: str = "tag",
        snapshot_id: int | None = None,
        now_ms: int = 0,
    ) -> None:
        """Named ref (spec "Branching and Tagging", round 10): a tag or
        branch pointing at ``snapshot_id`` (default: current).
        Metadata-only version bump; ``main`` is writer-maintained and
        refuses; an existing ref refuses (drop it first — a silent
        repoint is how tags stop meaning anything).  Refs PROTECT their
        snapshots from :meth:`expire_snapshots`.

        Honest seam: refs here are POINTERS — every write face commits
        to ``main`` (a branch ref never diverges; it stays pinned where
        it was created).  Commit-to-branch semantics (per-branch
        lineage, parent tracking, cherry-pick) are production Iceberg
        surface this single-writer engine does not model."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type {ref_type!r}: tag or branch")
        if name == "main":
            raise ValueError("'main' is writer-maintained")
        version, meta = self._base()
        refs = meta.setdefault("refs", {})
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        sid = (
            snapshot_id
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        if sid is None or not any(
            s["snapshot-id"] == sid for s in meta.get("snapshots", [])
        ):
            raise ValueError(f"snapshot {sid} not found")
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)

    def drop_ref(self, name: str, now_ms: int = 0) -> None:
        """Remove a named ref (its snapshot becomes expirable again)."""
        if name == "main":
            raise ValueError("'main' is writer-maintained")
        version, meta = self._base()
        refs = meta.get("refs") or {}
        if name not in refs:
            raise ValueError(f"no such ref {name!r}")
        del refs[name]
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)

    def rollback_to(
        self,
        snapshot_id: int | None = None,
        now_ms: int = 0,
        as_of_timestamp_ms: int | None = None,
    ) -> None:
        """Set the current snapshot back (or forward) to an existing
        snapshot — by id, or by time via ``as_of_timestamp_ms`` (the
        snapshot-log state at that instant, :meth:`snapshot`'s own
        time-travel rule) — the spec's ``set-current-snapshot`` /
        rollback metadata update and the standard "undo a bad commit" face
        (reference parity: the reference's versioned publish keeps old
        versions precisely so the pointer can swap back;
        hadoopsync/Registry.java's version-dir pointer).

        Metadata-only version bump: ``current-snapshot-id`` repoints,
        ``main`` follows (it tracks the current snapshot), and a
        ``snapshot-log`` entry records the state change at ``now_ms``
        so timestamp time travel sees the rollback as the state from
        that moment on.  No snapshot is deleted — later snapshots stay
        in the list (readable by id, expirable once unreferenced), the
        same two-step undo discipline as :meth:`expire_snapshots` +
        :meth:`vacuum`.  ``last-sequence-number`` keeps its high
        watermark: sequence numbers are never reused, so a commit made
        after a rollback still orders strictly after everything it
        superseded (merge-on-read applicability stays correct).

        In this single-writer engine the snapshot history is linear —
        every listed snapshot is an ancestor-or-descendant of the
        current one — so one face covers both the spec's ancestor-only
        ``rollback`` and its general ``set-current-snapshot``.  Rolling
        back to the current snapshot refuses (a no-op commit would
        stamp a misleading state change)."""
        if (snapshot_id is None) == (as_of_timestamp_ms is None):
            raise ValueError(
                "give snapshot_id OR as_of_timestamp_ms"
            )
        by_time = as_of_timestamp_ms is not None
        version, meta = self._base()
        if by_time:
            snapshot_id = self._snapshot_in(
                meta, None, as_of_timestamp_ms, None
            )["snapshot-id"]
        snaps = meta.get("snapshots", [])
        if by_time and meta.get("current-snapshot-id") == snapshot_id:
            # a TIMESTAMP that resolves to the current snapshot is an
            # idempotent no-op (the caller cannot know which snapshot
            # an instant resolves to — Delta's restore prints a no-op
            # for the same case); an EXPLICIT id keeps the refusal
            return
        if not any(s["snapshot-id"] == snapshot_id for s in snaps):
            raise ValueError(f"snapshot {snapshot_id} not found")
        if meta.get("current-snapshot-id") == snapshot_id:
            raise ValueError(
                f"snapshot {snapshot_id} is already current"
            )
        meta["current-snapshot-id"] = snapshot_id
        refs = dict(meta.get("refs") or {})
        refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}
        meta["refs"] = refs
        meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        ]
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)

    def update_spec(
        self,
        partition_by: list[tuple] | None,
        now_ms: int = 0,
    ) -> int:
        """Partition-spec evolution (spec "Partition Evolution"): one
        metadata-only version bump appends a NEW spec — same
        ``partition_by`` shape as :meth:`create`: [(column,
        result_type[, transform[, name]])], ``None``/[] for
        unpartitioned — and makes it the default.  No data rewrites:
        existing files keep the spec their manifests were written
        under (manifests are spec-shaped, so :meth:`_commit_snapshot`
        carries them forward grouped per spec), new appends record
        values under the new spec, and the read path composes both —
        partition filters prune only files whose spec RECORDS the
        filtered field, with surviving pre-evolution files row-filtered
        for identity fields (they carry the source column in their
        data) and refused for transform fields (the file-level value
        does not exist and this engine does not re-derive transforms
        row-side).

        Partition field ids are never reused for different fields: a
        field identical to one in ANY earlier spec (same name,
        transform, source, type) keeps its id, anything else allocates
        past ``last-partition-id``.  Renamed column histories refuse
        (partition field names must stay resolvable against one name
        per source)."""
        import datetime as _dt

        version, meta = self._base()
        if self._rename_history():
            raise NotImplementedError(
                "update_spec on a renamed column history"
            )
        schema = self._schema_by_id(meta.get("current-schema-id", 0))
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        col_type = {f["name"]: f["type"] for f in schema["fields"]}
        known = {
            (f["name"], f["transform"], f["source-id"],
             f["result-type"]): f["field-id"]
            for spec in meta.get("partition-specs", [])
            for f in spec.get("fields", [])
        }
        #: cross-spec name discipline: a NAME must mean one thing
        #: across the whole spec history — the read path's per-name
        #: maps (filter transforms, attach types) would otherwise
        #: silently pick one era's meaning for every era's files
        #: (review finding: identity-then-void under one name let a
        #: filter match rows it never tested)
        name_meaning = {
            f["name"]: (f["transform"], f["source-id"],
                        f["result-type"])
            for spec in meta.get("partition-specs", [])
            for f in spec.get("fields", [])
        }
        next_id = meta.get("last-partition-id", 999) + 1
        new_fields: list[dict] = []
        for spec in partition_by or []:
            col, typ = spec[0], spec[1]
            transform = spec[2] if len(spec) > 2 else "identity"
            if col not in by_name:
                raise ValueError(f"no such column {col!r}")
            if typ not in ("int", "long", "string", "date"):
                raise NotImplementedError(
                    f"partition result type {typ!r}"
                )
            src_t = str(col_type.get(col))
            if transform == "identity":
                # identity records the SOURCE value: the result type
                # must be the column's own type or the read-side
                # attach would mistype every recorded value.  Source
                # types OUTSIDE the want-map refuse outright (ADVICE
                # r11: skipping the check committed specs whose
                # declared int/long/string/date result type could
                # never match e.g. a timestamp or boolean source)
                want = {"bigint": "long", "long": "long",
                        "int": "int", "integer": "int",
                        "string": "string", "date": "date"}.get(src_t)
                if want is None:
                    raise NotImplementedError(
                        f"identity partition on {src_t!r} column "
                        f"{col!r}: no declarable result type matches "
                        "its recorded values"
                    )
                if typ != want:
                    raise ValueError(
                        f"identity partition on {col!r} needs result "
                        f"type {want!r}, not {typ!r}"
                    )
            else:
                # validate up front so a bad combination refuses HERE,
                # never on the first post-evolution append (review: a
                # hardcoded date probe committed specs whose transform
                # could not accept the actual column type).  The probe
                # derives from the SOURCE column's type; temporal
                # result types are the spec's own (year/month/hour →
                # int, day → date).
                if transform in ("year", "month", "hour"):
                    if typ != "int":
                        raise ValueError(
                            f"{transform} transform needs result "
                            f"type 'int', not {typ!r}"
                        )
                elif transform == "day" and typ != "date":
                    raise ValueError(
                        "day transform needs result type 'date', "
                        f"not {typ!r}"
                    )
                probes = {
                    "date": _dt.date(1970, 1, 1),
                    "timestamp": _dt.datetime(1970, 1, 1),
                    "timestamptz": _dt.datetime(1970, 1, 1),
                    "int": 0, "long": 0, "string": "x",
                }
                if src_t not in probes:
                    raise NotImplementedError(
                        f"{transform} transform on a {src_t!r} column"
                    )
                transform_value(transform, probes[src_t])
            name = (
                spec[3]
                if len(spec) > 3
                else (
                    col
                    if transform == "identity"
                    else col + "_" + transform.split("[", 1)[0]
                )
            )
            if any(f["name"] == name for f in new_fields):
                raise ValueError(
                    f"duplicate partition field name {name!r}"
                )
            if name in by_name and not (
                transform == "identity" and name == col
            ):
                # a field named like an UNRELATED schema column would
                # make read() classify it as a mixed identity column of
                # the wrong source — scan_excl would drop the real data
                # column and the era coalesce would blend values from
                # a different column (ADVICE r11)
                raise ValueError(
                    f"partition field name {name!r} collides with a "
                    "schema column: only an identity partition on "
                    "that same column may share its name"
                )
            key = (name, transform, by_name[col], typ)
            prior = name_meaning.get(name)
            if prior is not None and prior != key[1:]:
                raise ValueError(
                    f"partition field name {name!r} already means "
                    f"{prior} in an earlier spec — one name, one "
                    "meaning across the spec history"
                )
            fid = known.get(key)
            if fid is None:
                fid = next_id
                next_id += 1
            new_fields.append(
                {
                    "name": name,
                    "transform": transform,
                    "source-id": by_name[col],
                    "field-id": fid,
                    "result-type": typ,
                }
            )
        cur_default = self._spec_fields(
            meta, meta.get("default-spec-id", 0)
        )
        if new_fields == cur_default:
            raise ValueError("new spec is identical to the default")
        specs = meta.get("partition-specs")
        if not specs:
            # v1 metadata carrying only the legacy "partition-spec"
            # field: refuse cleanly instead of KeyError (ADVICE r11) —
            # every other accessor in the module tolerates its absence
            raise NotImplementedError(
                "update_spec on metadata without a 'partition-specs' "
                "list (v1 legacy 'partition-spec' layout): migrate "
                "the metadata to v2 spec lists first"
            )
        new_sid = max(s["spec-id"] for s in specs) + 1
        meta["partition-specs"] = list(specs) + [
            {"spec-id": new_sid, "fields": new_fields}
        ]
        meta["default-spec-id"] = new_sid
        meta["last-partition-id"] = max(
            meta.get("last-partition-id", 999),
            max((f["field-id"] for f in new_fields), default=999),
        )
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)
        return new_sid

    def promote_column(
        self, name: str, spark_type: str, now_ms: int = 0
    ) -> None:
        """Schema evolution, the type-promotion face (round 10;
        metadata-only like :meth:`add_column`): widen a column along
        the spec's promotion lattice (int → long, float → double),
        keeping its field id.  Reads pin the snapshot schema's (widest)
        type and Spark's parquet reader upcasts narrower physical
        columns natively — no file rewrite, no per-file plan.  Anything
        off the lattice refuses."""
        version, meta = self._base()
        cur = self._schema_by_id(meta["current-schema-id"])
        field = next(
            (f for f in cur["fields"] if f["name"] == name), None
        )
        if field is None:
            raise ValueError(f"no such column {name!r}")
        if spark_type not in _SPARK_TO_ICEBERG:
            raise NotImplementedError(
                f"no Iceberg mapping for Spark type {spark_type!r}"
            )
        new_t = _SPARK_TO_ICEBERG[spark_type]
        pair = (
            json.dumps(field["type"], sort_keys=True),
            json.dumps(new_t, sort_keys=True),
        )
        if pair not in _PROMOTIONS:
            raise NotImplementedError(
                f"promotion {field['type']!r} -> {new_t!r} is off the "
                "spec's lattice (int->long, float->double)"
            )
        self._commit_schema(version, meta, cur, [
            {**f, "type": new_t} if f["name"] == name else f
            for f in cur["fields"]
        ], now_ms)

    def drop_column(self, name: str, now_ms: int = 0) -> None:
        """Schema evolution, the drop face (metadata-only like
        :meth:`add_column`): the new schema omits the field; reads
        pinned to newer schemas prune the column from older files, and
        time travel to pre-drop snapshots still sees it (their
        schema-id).  The field id is retired, never reused —
        ``last-column-id`` only grows, so a later add cannot alias a
        dropped column's id (the invariant the rename/promotion check
        relies on)."""
        version, meta = self._base()
        cur = self._schema_by_id(meta["current-schema-id"])
        if not any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"no such column {name!r}")
        if len(cur["fields"]) == 1:
            raise ValueError("cannot drop the last column")
        by_id = {f["id"]: f["name"] for f in cur["fields"]}
        for spec in meta.get("partition-specs", []):
            for pf in spec["fields"]:
                if by_id.get(pf.get("source-id")) == name:
                    raise ValueError(
                        f"column {name!r} is a partition source "
                        f"(spec field {pf['name']!r}) — drop the "
                        "partition field first"
                    )
        self._commit_schema(version, meta, cur, [
            f for f in cur["fields"] if f["name"] != name
        ], now_ms)

    def expire_metadata(self, keep_last: int = 5) -> list[int]:
        """Metadata-log retention (the spec's
        ``write.metadata.delete-after-commit.enabled`` /
        ``previous-versions-max`` behavior): delete
        ``v<N>.metadata.json`` files older than the newest
        ``keep_last``.  Snapshots/manifests/data are untouched — only
        the metadata-version history shrinks (old table-metadata
        time travel via explicit ``metadata(version=)`` stops working
        below the floor, exactly like the registry's vacuum)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = sorted(
            int(n[1:].split(".", 1)[0])
            for n in os.listdir(self.meta_dir)
            if n.startswith("v") and n.endswith(".metadata.json")
        )
        expired = versions[:-keep_last]
        for v in expired:
            os.remove(os.path.join(self.meta_dir, f"v{v}.metadata.json"))
        return expired

    def compact(
        self,
        spark,
        now_ms: int = 0,
        target_bytes: int = 128 << 20,
        min_group: int = 2,
    ) -> dict | None:
        """``rewrite_data_files``-style bin-packing compaction
        (``Registry.compact`` delegates here for iceberg tables).

        Per (spec, partition tuple), live data files under
        ``target_bytes`` are packed by
        :func:`hadoop_sync_spark.io.plan_bins`, the one planner of every
        compactor; each bin of ≥ ``min_group`` files is REWRITTEN
        into one file **with every live row-level delete applied** (the
        rewrite reads through :meth:`read`'s MoR path restricted to the
        bin's manifest paths).  The commit is a ``replace`` snapshot:
        untouched files carry forward EXISTING with their original data
        sequence numbers, rewritten files go DELETED, new files enter
        ADDED at the new sequence, and delete manifests carry forward
        UNCHANGED — position deletes naming rewritten paths become
        dangling (harmless; expire+vacuum reclaims them), equality
        deletes still apply to strictly-older untouched files but not to
        the new files (their rows already reflect the deletes), which is
        exactly the sequence-number algebra production Iceberg's rewrite
        relies on.

        Crash contract: data for new files stages under ``data/`` with
        names no manifest references until the final put-if-absent
        metadata commit in :meth:`_commit_snapshot` — a crash anywhere
        before that leaves every existing snapshot intact and only
        unreferenced debris, which :meth:`vacuum` reclaims.  Returns a
        summary dict, or None when nothing qualified (a no-op makes NO
        commit)."""
        from pyspark.sql import functions as F

        base = self._base()
        meta = base[1]
        live = [f for f in self.files() if f.content == _CONTENT_DATA]
        # bins never mix specs: the rewritten file re-enters under the
        # SAME spec its sources were written under (the bin's partition
        # tuple only means what its spec says it means) — compaction
        # preserves metadata truth across spec evolution rather than
        # silently migrating values it cannot derive
        bins = plan_bins(
            live,
            lambda f: f.file_size,
            lambda f: (f.spec_id, tuple(sorted(f.partition.items()))),
            target_bytes,
            min_group,
        )
        if not bins:
            return None

        seq = meta["last-sequence-number"] + 1
        self._check_free(base)
        rewritten: set[str] = set()
        new_files: list[DataFile] = []
        rows_in = bytes_in = 0
        cur_schema = self._schema_by_id(meta["current-schema-id"])
        types = [(f["name"], self._spark_type(f["type"]))
                 for f in cur_schema["fields"]]
        for i, ((bin_spec, part_key), fs) in enumerate(bins):
            part = dict(part_key)
            raws = {f.raw_path for f in fs}
            # the rewrite column list comes from the snapshot's PINNED
            # schema, not a sampled footer: a bin mixing pre- and
            # post-add_column files could sample an old footer and
            # silently drop the new column's values (permanent loss —
            # ADVICE r9 high), and after drop_column a footer column
            # read() no longer returns would crash the select.  Partition
            # columns still live in metadata only, so the attach columns
            # read() adds must not leak into the data file.  Columns
            # write under the schema's CURRENT names, deliberately
            # WITHOUT parquet field ids: Spark's inferred-schema read of
            # a mixed directory (one stamped footer + one plain) demands
            # ids of every file and hard-fails, and the rename read path
            # resolves by name variant, never by footer id.  Each column
            # casts back to its schema type: read() types a column that
            # some files carry as a partition value as a long, and an
            # int column written as INT64 fails every later pinned read.
            out = self.read(spark, paths=raws).select(*[
                F.col(n).cast(t).alias(n) if t else F.col(n)
                for n, t in types if n not in part
            ])
            rel = f"data/compact-{seq}-{i}.parquet"
            write_parquet(out, os.path.join(self.dir, rel))
            new_files.append(_written_data_file(
                self.dir, rel, part, cur_schema["fields"], spec_id=bin_spec
            ))
            rewritten |= raws
            rows_in += sum(f.record_count for f in fs)
            bytes_in += sum(f.file_size for f in fs)

        entries = []
        for e in self._live_entries(base):
            if e["data_file"]["file_path"] in rewritten:
                e = dict(e)
                e["status"] = _STATUS_DELETED
            entries.append(e)
        entries += [
            {**_added_entry(f), "spec_id": f.spec_id} for f in new_files
        ]
        snap_id = self._commit_snapshot(
            base,
            entries,
            "replace",
            now_ms,
            delete_entries=self._live_delete_entries(base),
        )
        return {
            "snapshot_id": snap_id,
            "groups": len(bins),
            "files_in": len(rewritten),
            "files_out": len(new_files),
            "rows_in": rows_in,
            "rows_out": sum(f.record_count for f in new_files),
            "bytes_in": bytes_in,
        }

    def remove_dangling_deletes(self, now_ms: int = 0) -> list[str]:
        """The cleanup half of Iceberg's ``rewrite_position_delete_files``
        maintenance (round 9; pairs with :meth:`compact`, after which
        position deletes naming rewritten paths can no longer match):
        drop live delete files that cannot affect any live data file —

        - a POSITION delete is dangling when no live data file with data
          sequence ≤ the delete's has its manifest path in the delete
          parquet's ``file_path`` column (:meth:`_named_data_files`);
        - an EQUALITY delete is dangling when no live data file is
          STRICTLY older than it.

        Commits a ``delete`` snapshot whose delete manifest marks the
        dropped files DELETED (their parquet stays on disk — older
        snapshots still reference it; :meth:`expire_snapshots` +
        :meth:`vacuum` reclaim it).  Returns the dropped manifest paths;
        nothing dangling → no commit, empty list."""
        base = self._base()
        data = [f for f in self.files() if f.content == _CONTENT_DATA]
        dropped: set[str] = set()
        for d in self.delete_files():
            refs = (self._named_data_files(d)
                    if d.content == _CONTENT_POS_DELETES else None)
            if not any(_applies(d, f) and (refs is None or f.raw_path in refs)
                       for f in data):
                dropped.add(d.raw_path)
        if not dropped:
            return []
        del_entries = []
        for e in self._live_delete_entries(base):
            if e["data_file"]["file_path"] in dropped:
                e = dict(e)
                e["status"] = _STATUS_DELETED
            del_entries.append(e)
        self._commit_snapshot(
            base,
            self._live_entries(base),
            "delete",
            now_ms,
            delete_entries=del_entries,
        )
        return sorted(dropped)

    # ---------------------------------------------- maintenance (round 8)
    def expire_snapshots(
        self,
        keep_last: int | None = None,
        older_than_ms: int | None = None,
        now_ms: int = 0,
    ) -> list[int]:
        """Drop expired snapshots from the metadata (the spec's snapshot
        expiration: shrink the ``snapshots`` list + ``snapshot-log``;
        the current snapshot always survives) and delete the manifest /
        manifest-list files only THEY referenced.  Returns the expired
        snapshot ids.  Data files are untouched — :meth:`vacuum`
        removes unreferenced ones, the same two-step split the
        registry's versioned publish uses (drop versions, then
        vacuum)."""
        version, meta = self._base()
        snaps = meta.get("snapshots", [])
        cur = meta.get("current-snapshot-id")
        keep: set[int] = {cur} if cur is not None else set()
        # refs protect their snapshots (spec: expiration must not break
        # a tag/branch; drop the ref first to release the snapshot)
        keep |= {
            r["snapshot-id"] for r in (meta.get("refs") or {}).values()
        }
        ordered = sorted(snaps, key=lambda s: -s["timestamp-ms"])
        if keep_last is not None:
            keep |= {s["snapshot-id"] for s in ordered[:keep_last]}
        if older_than_ms is not None:
            keep |= {
                s["snapshot-id"]
                for s in snaps
                if s["timestamp-ms"] >= older_than_ms
            }
        if keep_last is None and older_than_ms is None:
            raise ValueError("give keep_last and/or older_than_ms")
        expired = [
            s["snapshot-id"] for s in snaps if s["snapshot-id"] not in keep
        ]
        if not expired:
            return []
        survivors = [s for s in snaps if s["snapshot-id"] in keep]
        # metadata files referenced by surviving snapshots
        live_meta: set[str] = set()
        for snap in survivors:
            mlist = self._resolve(snap["manifest-list"])
            live_meta.add(mlist)
            _, manifests, _ = read_ocf(mlist)
            live_meta.update(
                self._resolve(mf["manifest_path"]) for mf in manifests
            )
        dead_meta: set[str] = set()
        for snap in snaps:
            if snap["snapshot-id"] in keep:
                continue
            mlist = self._resolve(snap["manifest-list"])
            dead_meta.add(mlist)
            _, manifests, _ = read_ocf(mlist)
            dead_meta.update(
                self._resolve(mf["manifest_path"]) for mf in manifests
            )
        meta = dict(meta)
        meta["snapshots"] = survivors
        meta["snapshot-log"] = [
            e
            for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] in keep
        ]
        meta["last-updated-ms"] = now_ms
        self._write_metadata(version + 1, meta)
        for path in sorted(dead_meta - live_meta):
            if os.path.exists(path):
                os.remove(path)
        return sorted(expired)

    def vacuum(self) -> list[str]:
        """Delete data/delete files under ``data/`` referenced by NO
        surviving snapshot (run after :meth:`expire_snapshots`; with
        all snapshots live it deletes nothing — every snapshot's reads
        keep working, the retention guarantee).  Returns the removed
        table-relative paths."""
        meta = self.metadata()
        live: set[str] = set()
        for snap in meta.get("snapshots", []):
            _, manifests, _ = read_ocf(self._resolve(snap["manifest-list"]))
            for mf in manifests:
                _, entries, _ = read_ocf(
                    self._resolve(mf["manifest_path"])
                )
                for e in entries:
                    # DELETED entries still protect the file: the
                    # PREVIOUS snapshot that lists it live shares the
                    # path string; only files no entry mentions at all
                    # are candidates (conservative, like production's
                    # reachability walk)
                    live.add(
                        os.path.abspath(
                            self._resolve(e["data_file"]["file_path"])
                        )
                    )
        removed = []
        data_dir = os.path.join(self.dir, "data")
        for root, _dirs, names in os.walk(data_dir):
            for n in names:
                full = os.path.abspath(os.path.join(root, n))
                if full not in live:
                    os.remove(full)
                    removed.append(os.path.relpath(full, self.dir))
        return sorted(removed)

    def _carry_entries(self, files: list[DataFile]) -> list[dict]:
        """Live files re-written as EXISTING entries with their original
        data sequence numbers EXPLICIT (the spec forbids inheritance for
        EXISTING status — losing the original sequence would break
        merge-on-read applicability).  The carried ``file_path`` is the
        original manifest string VERBATIM (raw_path): position-delete
        files reference data files by that exact string, so rewriting an
        absolute manifest path as table-relative across a commit would
        silently detach every older delete file (ADVICE r8)."""
        return [
            {
                "status": _STATUS_EXISTING,
                "snapshot_id": None,
                "sequence_number": f.sequence,
                "file_sequence_number": None,
                "spec_id": f.spec_id,
                "data_file": {
                    "content": f.content,
                    "file_path": f.raw_path
                    or os.path.relpath(f.path, self.dir),
                    "file_format": "PARQUET",
                    "partition": f.partition,
                    "record_count": f.record_count,
                    "file_size_in_bytes": f.file_size,
                    "equality_ids": list(f.equality_ids) or None,
                    "lower_bounds": [
                        {"key": k, "value": v}
                        for k, v in sorted(f.lower_bounds.items())
                    ] or None,
                    "upper_bounds": [
                        {"key": k, "value": v}
                        for k, v in sorted(f.upper_bounds.items())
                    ] or None,
                },
            }
            for f in files
        ]

    def _live_entries(self, base, content=_MANIFEST_DATA) -> list[dict]:
        """The files live in ``base``'s current snapshot — data files,
        or delete files with ``content=_MANIFEST_DELETES`` — as
        EXISTING entries."""
        meta = base[1]
        sid = meta.get("current-snapshot-id")
        if sid is None:
            return []
        return self._carry_entries(
            self._scan_manifests(content, sid, None, None, meta=meta)
        )

    def _live_delete_entries(self, base) -> list[dict]:
        return self._live_entries(base, _MANIFEST_DELETES)
