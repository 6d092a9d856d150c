"""The shard registry: the reference's metadata-sync engine, Spark-first.

The reference (`HdfsSynchronizer.java`) maintains CitusDB catalog tables that
map one logical table to an HDFS directory, one *shard* per HDFS block, one
*placement* per replica, with optional per-shard min/max statistics — synced
incrementally (diff, not rebuild) and transactionally (all-or-nothing catalog
update).  This module is that engine for a Spark world:

- table ↔ directory of parquet files      (`HdfsSynchronizer.java:29-34`)
- shard ↔ one data file; identity is the (path, size, mtime) triple
  mirroring ShardPlacement's (shardId, shardLength, hostname) value
  semantics (`ShardPlacement.java:47-60`: same id with a different length
  is a *different* placement)
- min/max stats per shard, stored as strings
  (`MinMaxValue.java:6-7`, `CitusMasterNode.java:44-47`) and cast back to
  the column type at prune time
- diff = two anti-joins (`HdfsSynchronizer.java:172-188`)
- sync = validate-then-publish with the reference's invariants
  (`HdfsSynchronizer.java:263-273,282-289`)
- transaction = stage a full new catalog version in a scratch directory,
  then atomically swap a pointer file (`os.replace`) — the engine-level
  analogue of the reference's BEGIN/COMMIT/ROLLBACK
  (`CitusMasterNode.java:108-126`); a crash mid-sync leaves the previous
  version live and queryable (`README.md:15-19`).

Scale posture: catalog I/O is parquet via pyarrow (columnar, O(#files) rows
— at 100 TB / 128 MB files that's ~800k rows, megabytes of footprint).
Min/max statistics for new files come from the parquet footers (row-group
statistics merged per file, read driver-side without a Spark job), rendered
byte-identically to Spark's ``cast('string')``.  Only files whose footer
cannot be trusted (no statistics, INT96, floating/decimal/text types, ...)
take the scan fallback: ONE distributed Spark job over those files grouped
by ``input_file_name()`` — not the reference's shard-at-a-time loop
(`HdfsSynchronizer.java:438-459`).  Pruning reads the partition column's
type from one footer schema, so it launches no Spark job either.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable, NamedTuple
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

_POINTER = "VERSION"
_TABLES = "tables.json"
_SHARDS = "shards.parquet"
_PLACEMENTS = "placements.parquet"

_SHARD_SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("shard_id", pa.int64()),  # unsigned-decimal naming quirk preserved
        ("path", pa.string()),
        ("size", pa.int64()),
        ("mtime_ns", pa.int64()),
        ("min_value", pa.string()),  # stringly, like shardminvalue
        ("max_value", pa.string()),
    ]
)

#: One row per REPLICA of a shard — the reference's ShardPlacement value
#: class (`ShardPlacement.java:4-98`): identity is the (shardId, length,
#: hostname) triple, so a re-replicated block with a new length IS a
#: different placement.  On a local FS each shard has exactly one
#: placement ("localhost"); the model carries the full set regardless so
#: the diff semantics stay faithful (`HdfsSynchronizer.java:172-188`).
_PLACEMENT_SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("shard_id", pa.int64()),
        ("path", pa.string()),
        ("size", pa.int64()),  # ShardPlacement.shardLength
        ("mtime_ns", pa.int64()),
        ("hostname", pa.string()),
    ]
)


def _shard_id(path: str) -> int:
    """Stable signed-64 shard id from the file path (the reference derives
    shardId from the HDFS blockId; a content-independent stable id)."""
    import zlib

    h = 0
    for chunk in (path[i : i + 64] for i in range(0, len(path), 64)):
        h = (h * 1000003 ^ zlib.crc32(chunk.encode(), h & 0xFFFFFFFF)) & (
            (1 << 64) - 1
        )
    return h - (1 << 64) if h >= (1 << 63) else h


class _ReadConf(NamedTuple):
    """The session settings that decide how Spark's parquet reader types a
    column and how ``cast('string')`` renders it."""

    utc: bool  # session time zone is UTC
    infer_ntz: bool  # naive parquet timestamps read as timestamp_ntz
    nanos_as_long: bool  # TIMESTAMP(NANOS) reads as bigint
    corrected: bool  # no read-side calendar rebase for non-Spark files

    @classmethod
    def of(cls, spark: SparkSession) -> "_ReadConf":
        get = spark.conf.get
        return cls(
            get("spark.sql.session.timeZone") == "UTC",
            get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true",
            get("spark.sql.legacy.parquet.nanosAsLong") == "true",
            get("spark.sql.parquet.datetimeRebaseModeInRead") == "CORRECTED",
        )


_EPOCH = datetime(1970, 1, 1)
_SIGNED_INT = {8: "tinyint", 16: "smallint", 32: "int", 64: "bigint"}
_UNSIGNED_INT = {8: "smallint", 16: "int", 32: "bigint", 64: "decimal(20,0)"}
#: footer keys Spark writes when it rebased values to the legacy hybrid
#: calendar; such values need Spark's read-side rebase
_LEGACY_REBASE_KEYS = (
    b"org.apache.spark.legacyDateTime",
    b"org.apache.spark.legacyINT96",
)


def _in_range(t: datetime) -> bool:
    # Spark zero-pads years below 1000 and signs years above 9999;
    # strftime('%Y') does neither
    return 1000 <= t.year <= 9999


def _fmt_date(days: int) -> str | None:
    d = _EPOCH + timedelta(days=days)
    return d.strftime("%Y-%m-%d") if _in_range(d) else None


def _fmt_ts(micros_per_unit: int) -> Callable[[int], str | None]:
    def fmt(v: int) -> str | None:
        t = _EPOCH + timedelta(microseconds=v * micros_per_unit)
        if not _in_range(t):
            return None
        s = t.strftime("%Y-%m-%d %H:%M:%S")
        # Spark prints the fraction with its trailing zeros trimmed
        return f"{s}.{t.microsecond:06d}".rstrip("0") if t.microsecond else s

    return fmt


def _spark_type(col, conf: _ReadConf) -> tuple[str | None, Callable | None]:
    """The Spark SQL type Spark's parquet reader gives a footer column, and
    the formatter that renders a raw footer statistic of it exactly as
    ``cast('string')`` does.  The formatter is None where the footer
    statistic cannot be rendered that way: INT96, unsigned or nanosecond
    integers, floating, decimal, text and boolean columns, zoned
    timestamps outside a UTC session, and dates or timestamps under a
    read-side calendar rebase.  The type is taken from the parquet column,
    not from pyarrow's arrow schema, because arrow maps INT96 and
    TIMESTAMP(NANOS) alike to ``timestamp[ns]`` while Spark reads them as
    ``timestamp`` and ``bigint``.  An unknown type is None; pruning then
    keeps every file."""
    phys = col.physical_type
    lt = json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if phys == "INT96":
        return "timestamp", None
    if kind == "Decimal":
        return f"decimal({lt['precision']},{lt['scale']})", None
    if phys in ("INT32", "INT64"):
        if kind == "None":
            return ("int" if phys == "INT32" else "bigint"), str
        if kind == "Int":
            if lt["isSigned"]:
                return _SIGNED_INT[lt["bitWidth"]], str
            return _UNSIGNED_INT[lt["bitWidth"]], None
        if kind == "Date":
            return "date", _fmt_date if conf.corrected else None
        if kind == "Timestamp":
            unit = lt["timeUnit"]
            if unit == "nanoseconds":
                return ("bigint" if conf.nanos_as_long else None), None
            ntz = conf.infer_ntz and not lt["isAdjustedToUTC"]
            trusted = (ntz or conf.utc) and conf.corrected
            fmt = _fmt_ts(1000 if unit == "milliseconds" else 1)
            return ("timestamp_ntz" if ntz else "timestamp"), (
                fmt if trusted else None
            )
        return None, None
    if phys == "BYTE_ARRAY" and kind in ("String", "Enum", "Json"):
        return "string", None
    if phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY") and kind == "None":
        return "binary", None
    simple = {"BOOLEAN": "boolean", "FLOAT": "float", "DOUBLE": "double"}
    return (simple.get(phys) if kind == "None" else None), None


def _footer_column(md: pq.FileMetaData, name: str) -> int | None:
    """Index of top-level primitive column ``name`` in a footer, or None."""
    if "." in name:
        return None
    for i in range(md.num_columns):
        c = md.schema.column(i)
        if c.path == name and c.max_repetition_level == 0:
            return i
    return None


def _footer_spark_type(path: str, column: str, conf: _ReadConf) -> str | None:
    """The Spark type of ``column`` in one file's footer schema."""
    md = pq.read_metadata(path)
    i = _footer_column(md, column)
    return None if i is None else _spark_type(md.schema.column(i), conf)[0]


def _footer_min_max(
    path: str, column: str, conf: _ReadConf
) -> tuple[str | None, str | None] | None:
    """One file's min/max of ``column`` from its row-group statistics,
    rendered as Spark's ``cast('string')`` — (None, None) for a file with
    no rows or only nulls, like the scan — or None when the footer cannot
    be trusted and the file must take the scan."""
    md = pq.read_metadata(path)
    if md.num_rows == 0:
        return None, None
    meta = md.metadata or {}
    # Spark before 3.0 wrote hybrid-calendar values without a marker
    if any(k in meta for k in _LEGACY_REBASE_KEYS) or (
        meta.get(b"org.apache.spark.version", b"3") < b"3"
    ):
        return None
    i = _footer_column(md, column)
    if i is None:
        return None
    fmt = _spark_type(md.schema.column(i), conf)[1]
    if fmt is None:
        return None
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        st = rg.column(i).statistics
        if st is None or not st.has_min_max:
            if st is not None and st.has_null_count and (
                st.null_count == rg.num_rows
            ):
                continue  # an all-null group adds nothing
            return None
        lo = st.min_raw if lo is None else min(lo, st.min_raw)
        hi = st.max_raw if hi is None else max(hi, st.max_raw)
    if lo is None:
        return None, None
    try:
        mn, mx = fmt(lo), fmt(hi)
    except OverflowError:  # outside Python's datetime range
        return None
    return None if mn is None or mx is None else (mn, mx)


def shard_table_name(table: str, shard_id: int) -> str:
    """`table_<unsigned shardId>` — the reference renders signed ids in
    unsigned decimal (`CitusWorkerNode.java:36-37,185-193`)."""
    return f"{table}_{shard_id & 0xFFFFFFFFFFFFFFFF}"


@dataclass
class MetadataDifference:
    """The reference's 5-field diff IR (`HdfsSynchronizer.java:117-134`),
    with the shard/placement split intact: shard (file) identity and
    placement (replica) identity are diffed INDEPENDENTLY — the four set
    differences of `calculateMetadataDifference`
    (`HdfsSynchronizer.java:172-199`) — so a replica moving hosts shows up
    as a placement change with an empty shard diff, exactly like a block
    re-replicating without its id changing."""

    new_files: list[dict] = field(default_factory=list)  # on FS, not in catalog
    old_files: list[dict] = field(default_factory=list)  # in catalog, gone/changed
    unchanged: list[dict] = field(default_factory=list)
    #: open-format tables: the Delta version / Iceberg snapshot id the
    #: FS-state side was captured from (None for plain directories) —
    #: recorded on the table at sync so catalog-scoped reads can apply
    #: that snapshot's ROW-level deletes (DVs / MoR delete files)
    fs_version: int | None = None
    # placement-level diffs: identity is (path, size, mtime_ns, hostname)
    new_placements: list[dict] = field(default_factory=list)
    old_placements: list[dict] = field(default_factory=list)

    @property
    def empty(self) -> bool:
        return (
            not self.new_files
            and not self.old_files
            and not self.new_placements
            and not self.old_placements
        )


@dataclass
class SyncResult:
    table: str
    version: int
    added: int
    removed: int
    noop: bool
    #: files whose min/max came from parquet footers / from the Spark scan
    stats_footer: int = 0
    stats_scan: int = 0


@dataclass
class CompactResult:
    """Outcome of a small-file compaction pass."""

    table: str
    version: int  # catalog version after the pass (unchanged when noop)
    groups: int  # bins rewritten
    files_in: int  # small files consumed
    files_out: int  # compacted files produced (== groups)
    bytes_in: int  # total bytes rewritten
    noop: bool = False


class Registry:
    """Versioned, atomically-published table/shard/placement catalog.

    ``placement_hosts`` maps a listed file to the hostnames holding its
    replicas — the A2 block-location scan (`HdfsMasterNode.java:149-182`
    walks each block's `DatanodeInfo[]`).  A local FS has exactly one
    replica ("localhost"); a cluster deployment injects a resolver backed
    by the real block-location API, and every diff/sync path below already
    handles >1 replica per shard."""

    def __init__(
        self,
        spark: SparkSession,
        meta_dir: str,
        placement_hosts=None,
    ):
        self.spark = spark
        self.meta_dir = meta_dir
        self.placement_hosts = placement_hosts or (lambda f: ["localhost"])
        os.makedirs(meta_dir, exist_ok=True)

    # ---------------------------------------------------------------- core io
    def _current_version(self) -> int:
        ptr = os.path.join(self.meta_dir, _POINTER)
        if not os.path.exists(ptr):
            return 0
        with open(ptr) as f:
            return int(f.read().strip() or "0")

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:09d}")

    def _load_tables(self, version: int | None = None) -> dict[str, dict]:
        v = self._current_version() if version is None else version
        if v == 0:
            return {}
        with open(os.path.join(self._version_dir(v), _TABLES)) as f:
            return json.load(f)

    def _load_shards(self, version: int | None = None) -> list[dict]:
        v = self._current_version() if version is None else version
        if v == 0:
            return []
        path = os.path.join(self._version_dir(v), _SHARDS)
        return pq.read_table(path).to_pylist()

    def _load_placements(self, version: int | None = None) -> list[dict]:
        v = self._current_version() if version is None else version
        if v == 0:
            return []
        path = os.path.join(self._version_dir(v), _PLACEMENTS)
        if not os.path.exists(path):  # catalog written before the split
            return []
        return pq.read_table(path).to_pylist()

    def _publish(
        self,
        tables: dict[str, dict],
        shards: list[dict],
        placements: list[dict] | None = None,
        have_lock: bool = False,
    ) -> int:
        """Stage version N+1 fully, then atomically swap the pointer.

        The pointer write is `os.replace` of a same-directory temp file —
        atomic on POSIX — so a reader sees either version N or N+1, never a
        torn catalog.  Analogue of the reference's single COMMIT
        (`HdfsSynchronizer.java:321`); any exception before the replace
        leaves the old version live (rollback, `:323-325`).

        ``have_lock`` lets a caller that already holds the publish lock
        (compaction, which must keep its journal+rename+publish sequence
        under ONE critical section) skip re-acquisition."""
        lock = None if have_lock else self._acquire_publish_lock()
        try:
            # version counter is read UNDER the lock: without it two
            # concurrent publishers both compute N+1 and the loser's
            # stale-dir cleanup would rmtree the winner's LIVE version
            new_version = self._current_version() + 1
            vdir = self._version_dir(new_version)
            if os.path.exists(vdir):  # stale leftover from a crashed attempt
                shutil.rmtree(vdir)
            os.makedirs(vdir)
            with open(os.path.join(vdir, _TABLES), "w") as f:
                json.dump(tables, f, indent=1, sort_keys=True)
            pq.write_table(
                pa.Table.from_pylist(shards, schema=_SHARD_SCHEMA),
                os.path.join(vdir, _SHARDS),
            )
            if placements is None:  # carry the live placement set forward
                placements = self._load_placements()
            pq.write_table(
                pa.Table.from_pylist(placements, schema=_PLACEMENT_SCHEMA),
                os.path.join(vdir, _PLACEMENTS),
            )
            tmp = os.path.join(self.meta_dir, f".{_POINTER}.tmp")
            with open(tmp, "w") as f:
                f.write(str(new_version))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.meta_dir, _POINTER))
            return new_version
        finally:
            if lock is not None:
                os.unlink(lock)

    #: a publish lock older than this is presumed crashed and stolen
    _LOCK_STALE_S = 300.0

    def _acquire_publish_lock(self) -> str:
        """Exclusive writer lock (O_CREAT|O_EXCL lockfile) serializing
        publishes — the engine-side analogue of the master catalog taking
        row locks inside the reference's transaction.  Readers never take
        it (the pointer swap keeps them lock-free).  A lockfile left by a
        crashed publisher is stolen after `_LOCK_STALE_S`."""
        path = os.path.join(self.meta_dir, ".publish.lock")
        for _ in range(2):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return path
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(path)
                except OSError:
                    continue  # holder just released; retry
                if age > self._LOCK_STALE_S:
                    os.unlink(path)  # crashed holder
                    continue
                raise RuntimeError(
                    "another publish is in progress (stale after "
                    f"{self._LOCK_STALE_S:.0f}s: {path})"
                )
        raise RuntimeError(f"could not acquire publish lock {path}")

    # ------------------------------------------------------------- listing
    @staticmethod
    def _list_data_files(dir_path: str) -> list[dict]:
        """Recursive listing of data files — the A1 directory walk
        (`HdfsMasterNode.java:110-147`); local-FS flavor of the paginated
        NameNode scan.  Hidden/underscore files are skipped exactly like
        Spark's file index does.  A plain file path is accepted as a
        single-file table (the fixture layout is one parquet file per
        table, not one directory per table)."""
        if os.path.isfile(dir_path):
            st = os.stat(dir_path)
            return [
                {
                    "path": dir_path,
                    "size": st.st_size,
                    "mtime_ns": st.st_mtime_ns,
                }
            ]
        out = []
        for root, dirs, files in os.walk(dir_path):
            # prune hidden/underscore DIRECTORIES too (Spark skips any path
            # with such a segment): otherwise a crashed writer's
            # `_temporary/.../part-*.parquet` would register as a shard and
            # a later read() would scan partial output
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for fname in sorted(files):
                if fname.startswith((".", "_")):
                    continue
                p = os.path.join(root, fname)
                st = os.stat(p)
                out.append(
                    {"path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns}
                )
        return out

    # ---------------------------------------------------------------- api
    def register(
        self,
        name: str,
        dir_path: str,
        partition_column: str | None = None,
    ) -> None:
        """Bind a logical table to a directory (the foreign table's
        `hdfs_directory_path` option, `CitusMasterNode.java:338-381`).
        Idempotent overwrite, like the reference's drop-if-exists DDL
        (`CitusWorkerNode.java:119-134`)."""
        tables = self._load_tables()
        shards = self._load_shards()
        tables[name] = {
            "dir_path": os.path.abspath(dir_path),
            "partition_column": partition_column,
            "registered_at": time.strftime("%Y-%m-%d %H:%M:%S"),
        }
        self._publish(tables, shards)

    def tables(self) -> dict[str, dict]:
        return self._load_tables()

    def versions(self) -> list[int]:
        """All published catalog versions still on disk, oldest first.
        Every `_publish` stages a complete version directory, so each entry
        is a full, independently-queryable snapshot."""
        out = []
        for d in sorted(os.listdir(self.meta_dir)):
            if d.startswith("v") and d[1:].isdigit():
                out.append(int(d[1:]))
        return out

    def vacuum(self, keep_last: int = 3) -> list[int]:
        """Drop all but the newest `keep_last` version snapshots; returns
        the versions removed.  The live version is never dropped
        (keep_last is clamped to ≥1), and removal happens strictly oldest-
        first AFTER the pointer already names a retained version, so a
        concurrent reader of the current catalog is never broken — only
        time-travel to vacuumed versions stops working.

        Scale: each snapshot is O(#files) catalog metadata, not data, but
        at 100 TB (millions of files × frequent syncs) unbounded retention
        would eventually dominate the _meta dir — the same reason Delta
        and Iceberg ship expire-snapshots."""
        keep_last = max(1, keep_last)
        current = self._current_version()
        cutoff = max(0, current - keep_last + 1)
        removed = []
        for v in self.versions():
            if v < cutoff and v != current:
                shutil.rmtree(self._version_dir(v))
                removed.append(v)
        return removed

    def shards(
        self, name: str | None = None, version: int | None = None
    ) -> list[dict]:
        rows = self._load_shards(version)
        return rows if name is None else [r for r in rows if r["table_name"] == name]

    def placements(
        self, name: str | None = None, version: int | None = None
    ) -> list[dict]:
        """One row per shard replica — pg_dist_shard_placement's analogue
        (`CitusMasterNode.java:41-42`)."""
        rows = self._load_placements(version)
        return rows if name is None else [r for r in rows if r["table_name"] == name]

    def register_delta(self, name: str, table_dir: str) -> None:
        """Bind a logical table to a DELTA table directory: the FS-state
        side of diff/sync becomes the Delta log's latest SNAPSHOT (live
        files only) instead of the raw directory walk — a raw walk would
        resurrect files a Delta writer already removed.  Everything
        downstream (sync's transactional apply, catalog-only reads,
        stats, pruning) is unchanged: Delta commits arrive as ordinary
        shard adds/removes, so the reference's incremental-sync workflow
        (`HdfsSynchronizer.java:142-205`) runs verbatim against the open
        format.  Idempotent overwrite like :meth:`register`."""
        tables = self._load_tables()
        shards = self._load_shards()
        tables[name] = {
            "dir_path": os.path.abspath(table_dir),
            "partition_column": None,
            "format": "delta",
            "registered_at": time.strftime("%Y-%m-%d %H:%M:%S"),
        }
        self._publish(tables, shards)

    @staticmethod
    def _delta_live_files(table_dir: str) -> list[dict]:
        """FS state of a Delta-format table: the latest snapshot's live
        file list (driver-side metadata replay, like production Delta),
        with (size, mtime) identity from the filesystem so a rewritten
        path still diffs as old+new."""
        from hadoop_sync_spark.delta_log import DeltaLog

        snap = DeltaLog(table_dir).snapshot()
        out = []
        for rel in snap.files:
            p = os.path.join(table_dir, rel)
            st = os.stat(p)
            out.append(
                {"path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns}
            )
        return out, snap.version

    def register_iceberg(self, name: str, table_dir: str) -> None:
        """Bind a logical table to an ICEBERG table directory — the
        Iceberg twin of :meth:`register_delta`: diff/sync source FS state
        from the current snapshot's manifest tree (live data files only),
        so copy-on-write deletes drop shards even while the data files
        remain on disk for time travel, and everything downstream of
        diff is the unchanged A12-A16 workflow."""
        tables = self._load_tables()
        shards = self._load_shards()
        tables[name] = {
            "dir_path": os.path.abspath(table_dir),
            "partition_column": None,
            "format": "iceberg",
            "registered_at": time.strftime("%Y-%m-%d %H:%M:%S"),
        }
        self._publish(tables, shards)

    @staticmethod
    def _iceberg_live_files(table_dir: str) -> list[dict]:
        """FS state of an Iceberg-format table: the current snapshot's
        live data files from the manifest walk (metadata-only planning),
        (size, mtime) identity from the filesystem like every other
        format."""
        from hadoop_sync_spark.iceberg_meta import IcebergTable

        table = IcebergTable(table_dir)
        snap_id = table.metadata().get("current-snapshot-id")
        if snap_id is None:
            # freshly created table, no snapshots yet: empty FS state,
            # so diff/sync behave like an empty directory (dir/delta
            # formats return a zero-change diff here too)
            return [], None
        out = []
        # list from the captured snapshot id, not "current" — a racing
        # committer between the two calls must not split the identity
        for f in table.files(snapshot_id=snap_id):
            st = os.stat(f.path)
            out.append(
                {
                    "path": f.path,
                    "size": st.st_size,
                    "mtime_ns": st.st_mtime_ns,
                }
            )
        return out, snap_id

    def diff(self, name: str) -> MetadataDifference:
        """FS state vs catalog state — the reference's
        `calculateMetadataDifference` (`HdfsSynchronizer.java:142-205`),
        all four of its set differences: shard ids (files) and shard
        placements (replicas) are diffed independently.

        Shard identity is the (path, size, mtime) triple: a rewritten file
        (same path, new size/mtime) appears in BOTH old and new.  Placement
        identity adds the hostname (`ShardPlacement.java:47-60`), so a
        replica moving hosts is a pure placement change — empty shard
        diff, non-empty placement diff — exactly the case the reference's
        placement walk handles separately from shard DDL."""
        tables = self._load_tables()
        if name not in tables:
            raise KeyError(f"table not registered: {name}")
        # open-format tables substitute the snapshot's live list for the
        # raw walk; the plain-directory path is byte-identical to before
        fmt = tables[name].get("format")
        fs_version = None
        if fmt == "delta":
            fs_files, fs_version = self._delta_live_files(
                tables[name]["dir_path"]
            )
        elif fmt == "iceberg":
            fs_files, fs_version = self._iceberg_live_files(
                tables[name]["dir_path"]
            )
        else:
            fs_files = self._list_data_files(tables[name]["dir_path"])
        fs = {(f["path"], f["size"], f["mtime_ns"]): f for f in fs_files}
        cat = {
            (s["path"], s["size"], s["mtime_ns"]): s
            for s in self.shards(name)
        }
        new_keys = fs.keys() - cat.keys()
        old_keys = cat.keys() - fs.keys()

        fs_place = {}
        for f in fs_files:
            for host in self.placement_hosts(f):
                k = (f["path"], f["size"], f["mtime_ns"], host)
                fs_place[k] = {**f, "hostname": host}
        cat_place = {
            (p["path"], p["size"], p["mtime_ns"], p["hostname"]): p
            for p in self.placements(name)
        }
        new_p = fs_place.keys() - cat_place.keys()
        old_p = cat_place.keys() - fs_place.keys()
        return MetadataDifference(
            new_files=[fs[k] for k in sorted(new_keys)],
            old_files=[cat[k] for k in sorted(old_keys)],
            unchanged=[cat[k] for k in sorted(cat.keys() & fs.keys())],
            new_placements=[fs_place[k] for k in sorted(new_p)],
            old_placements=[cat_place[k] for k in sorted(old_p)],
            fs_version=fs_version,
        )

    def _fetch_min_max(
        self, files: list[dict], column: str
    ) -> tuple[dict[str, tuple[str, str]], int]:
        """Per-file min/max of the partition column — A17
        (`CitusWorkerNode.java:140-165`) — and how many files took the
        scan.  Each file's row-group statistics are merged from its parquet
        footer, driver-side; files whose footer cannot be trusted (see
        :func:`_spark_type` and :func:`_footer_min_max`) go to ONE
        distributed scan (:meth:`_scan_min_max`).  Every file gets an
        entry; an empty or all-null file gets (None, None)."""
        if not files:
            return {}, 0
        conf = _ReadConf.of(self.spark)
        out, scan = {}, []
        for f in files:
            mm = _footer_min_max(f["path"], column, conf)
            if mm is None:
                scan.append(f)
            else:
                out[f["path"]] = mm
        out.update(self._scan_min_max(scan, column))
        return out, len(scan)

    def _scan_min_max(
        self, files: list[dict], column: str
    ) -> dict[str, tuple[str, str]]:
        """The scan behind :meth:`_fetch_min_max`: ONE Spark job over all
        given files (`groupBy(input_file_name())`), not a per-shard loop."""
        if not files:
            return {}
        df = self.spark.read.parquet(*[f["path"] for f in files])
        rows = (
            df.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.min(column).cast("string").alias("min_value"),
                F.max(column).cast("string").alias("max_value"),
            )
            .collect()
        )
        out = {}
        for r in rows:
            # input_file_name returns a percent-encoded URI (file:///...);
            # decode it or paths with spaces/non-ASCII never match the
            # os.walk listing and healthy files would look stat-less
            p = r["file"]
            if p.startswith("file:"):
                p = unquote(urlparse(p).path)
            out[p] = (r["min_value"], r["max_value"])
        # Loud-failure guard (the io.py attach_file_columns idiom, adapted
        # to the aggregate-per-file shape): a requested file absent from
        # the result is EITHER genuinely empty (no rows → no group; a
        # stat-less entry is sound for pruning) or a URI-decode mismatch
        # that would silently strip stats from healthy files.  The parquet
        # footer distinguishes the two driver-side without reading data.
        for f in files:
            if f["path"] not in out:
                if pq.read_metadata(f["path"]).num_rows:
                    raise ValueError(
                        "min/max aggregation returned no group for "
                        f"non-empty file {f['path']!r} — "
                        "input_file_name URI decode mismatch"
                    )
                out[f["path"]] = (None, None)
        return out

    def sync(self, name: str, fetch_min_max: bool = False) -> SyncResult:
        """Apply the diff transactionally — `syncMetadataDifference`
        (`HdfsSynchronizer.java:215-332`), same load-bearing order:
        drop old placements/shards → add new (with optional stats) →
        validate → commit.  Placements are applied as their own set (the
        reference walks placement differences before shard inserts,
        `HdfsSynchronizer.java:219-247`), so a pure replica move publishes
        a new catalog version with the shard rows untouched.

        Idempotent: an immediate re-run has an empty diff and publishes
        nothing (`README.md:10-13`)."""
        tables = self._load_tables()
        if name not in tables:
            raise KeyError(f"table not registered: {name}")
        self._recover_compaction()  # roll forward any crashed compaction
        d = self.diff(name)
        fmt = tables[name].get("format")
        if d.empty and (
            fmt is None
            or tables[name].get("synced_format_version") == d.fs_version
        ):
            return SyncResult(name, self._current_version(), 0, 0, noop=True)
        # an open-format commit that changed only ROW-level state (a
        # deletion vector / MoR delete file) moves no shards but must
        # still publish: catalog-scoped reads apply the deletes of the
        # RECORDED snapshot, so a stale record would resurrect rows
        if fmt is not None:
            tables = dict(tables)
            tables[name] = {
                **tables[name], "synced_format_version": d.fs_version
            }

        part_col = tables[name]["partition_column"]
        stats, n_scan = (
            self._fetch_min_max(d.new_files, part_col)
            if fetch_min_max and part_col
            else ({}, 0)
        )

        unchanged_keys = {
            (u["path"], u["size"], u["mtime_ns"]) for u in d.unchanged
        }
        keep = [
            s
            for s in self._load_shards()
            if s["table_name"] != name
            or (s["path"], s["size"], s["mtime_ns"]) in unchanged_keys
        ]
        added = []
        for f in d.new_files:
            # a zero-row or all-null file gets (None, None) — pruning
            # treats missing stats as keep-always, so this stays sound.
            # Genuine scan failures raise inside the Spark job itself
            # (the A18 replica-fallback concern is Spark task retry).
            mn, mx = stats.get(f["path"], (None, None))
            added.append(
                {
                    "table_name": name,
                    "shard_id": _shard_id(f["path"]),
                    "path": f["path"],
                    "size": f["size"],
                    "mtime_ns": f["mtime_ns"],
                    "min_value": mn,
                    "max_value": mx,
                }
            )

        new_shards = keep + added
        # A16 invariant: an old shard must leave no surviving row; a new
        # shard must appear exactly once (`HdfsSynchronizer.java:263-289`)
        by_key = {}
        for s in new_shards:
            k = (s["table_name"], s["path"], s["size"], s["mtime_ns"])
            if k in by_key:
                raise RuntimeError(f"duplicate shard staged: {k}")
            by_key[k] = s

        # placements: drop old, keep surviving, add new — then validate
        # every placement references a staged shard of its table
        old_place_keys = {
            (p["path"], p["size"], p["mtime_ns"], p["hostname"])
            for p in d.old_placements
        }
        keep_place = [
            p
            for p in self._load_placements()
            if p["table_name"] != name
            or (p["path"], p["size"], p["mtime_ns"], p["hostname"])
            not in old_place_keys
        ]
        added_place = [
            {
                "table_name": name,
                "shard_id": _shard_id(p["path"]),
                "path": p["path"],
                "size": p["size"],
                "mtime_ns": p["mtime_ns"],
                "hostname": p["hostname"],
            }
            for p in d.new_placements
        ]
        new_placements = keep_place + added_place
        seen_place = set()
        for p in new_placements:
            k = (p["table_name"], p["path"], p["size"], p["mtime_ns"], p["hostname"])
            if k in seen_place:
                raise RuntimeError(f"duplicate placement staged: {k}")
            seen_place.add(k)
            sk = (p["table_name"], p["path"], p["size"], p["mtime_ns"])
            if sk not in by_key:
                raise RuntimeError(f"placement references unstaged shard: {k}")

        removed_keys = {
            (name, s["path"], s["size"], s["mtime_ns"]) for s in d.old_files
        }
        if removed_keys & by_key.keys():
            raise RuntimeError("old shard survived staging — aborting publish")

        version = self._publish(tables, new_shards, new_placements)
        return SyncResult(
            name,
            version,
            added=len(added),
            removed=len(d.old_files),
            noop=False,
            stats_footer=len(stats) - n_scan,
            stats_scan=n_scan,
        )

    # ---------------------------------------------------------- compaction
    #: journal filename inside meta_dir; presence = a compaction reached
    #: its commit point and must roll FORWARD (all data is already in the
    #: staged files; only renames/deletes/publish may be outstanding)
    _JOURNAL = "compact.journal.json"

    def compact(
        self,
        name: str,
        target_bytes: int = 128 << 20,
        min_group: int = 2,
    ) -> CompactResult:
        """Bin-pack small data files into ~``target_bytes`` files and
        republish the catalog — the small-file management every 100 TB
        deployment needs (a NameNode and a Spark driver both pay O(#files);
        streaming sinks and incremental syncs accrete kilobyte files).

        Transactional via a roll-forward journal, extending the
        reference's crash contract ("reverts back to its original state",
        `README.md:15-19`) to data-file rewrites where pure rollback is
        impossible once originals are deleted:

        1. under the publish lock, plan bins from the CATALOG (not the FS);
        2. write each bin with Spark into a hidden ``_compact_stage`` dir
           (underscore-prefixed → invisible to listing and readers; a
           crash here leaves only debris that the next pass sweeps);
        3. write the journal (tmp + fsync + atomic replace) — the COMMIT
           POINT: it names every staged file, its final path, and every
           original to delete;
        4. rename staged → final, delete originals, publish the swapped
           catalog rows, drop the journal.

        A crash after (3) is completed by :meth:`_recover_compaction` —
        every step is idempotent (rename-if-exists, delete-if-exists,
        publish-if-catalog-still-references-originals) and runs before any
        subsequent ``sync``/``compact`` plans anything, closing the window
        where a half-applied rewrite could be re-registered as new files.

        Older catalog versions referencing the deleted originals stop
        being time-travel-readable — the same retention trade as
        :meth:`vacuum`.

        Scale: planning is O(#shards) catalog rows; each bin rewrite is a
        narrow ``coalesce(1)`` read→write of ~target_bytes (no shuffle),
        and bins rewrite independently — on a cluster they parallelize as
        separate jobs; min/max stats for compacted files are re-fetched
        like sync's (footers first, one scan job for the rest)."""
        tables = self._load_tables()
        if name not in tables:
            raise KeyError(f"table not registered: {name}")
        fmt = tables[name].get("format")
        if fmt is not None:
            # The format owns the file layout, so compaction goes through
            # the format-native committer (round 9; the round-8 guard
            # refused outright).  The rewrite commits a new format
            # snapshot — old snapshots stay time-travel-readable, unlike
            # the plain-directory journaled rewrite below — and a sync
            # publishes the new file list into the catalog.
            import time as _time

            dir_path = tables[name]["dir_path"]
            if fmt == "delta":
                from hadoop_sync_spark.delta_log import DeltaLog

                res = DeltaLog(dir_path).compact(
                    self.spark, target_bytes, min_group
                )
            elif fmt == "iceberg":
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                res = IcebergTable(dir_path).compact(
                    self.spark,
                    now_ms=int(_time.time() * 1000),
                    target_bytes=target_bytes,
                    min_group=min_group,
                )
            else:
                raise ValueError(f"unknown table format {fmt!r}")
            if res is None:
                return CompactResult(
                    table=name,
                    version=self._current_version(),
                    groups=0,
                    files_in=0,
                    files_out=0,
                    bytes_in=0,
                    noop=True,
                )
            s = self.sync(name)
            return CompactResult(
                table=name,
                version=s.version,
                groups=res["groups"],
                files_in=res["files_in"],
                files_out=res["files_out"],
                bytes_in=res["bytes_in"],
            )
        lock = self._acquire_publish_lock()
        try:
            self._recover_compaction(have_lock=True)
            dir_path = tables[name]["dir_path"]
            self._sweep_stage_debris(dir_path)

            shards = self.shards(name)
            smalls = sorted(
                (s for s in shards if s["size"] < target_bytes),
                key=lambda s: -s["size"],
            )
            bins: list[list[dict]] = []
            for s in smalls:  # first-fit decreasing
                for b in bins:
                    if sum(x["size"] for x in b) + s["size"] <= target_bytes:
                        b.append(s)
                        break
                else:
                    bins.append([s])
            bins = [b for b in bins if len(b) >= min_group]
            if not bins:
                return CompactResult(
                    name, self._current_version(), 0, 0, 0, 0, noop=True
                )

            stage_root = os.path.join(dir_path, "_compact_stage")
            renames: list[list[str]] = []  # [staged_tmp, final]
            old_paths: list[str] = []
            bytes_in = 0
            base_version = self._current_version()
            for i, b in enumerate(bins):
                member_paths = [s["path"] for s in b]
                stage_dir = os.path.join(stage_root, f"bin-{i}")
                (
                    self.spark.read.parquet(*member_paths)
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(stage_dir)
                )
                parts = [
                    f
                    for f in os.listdir(stage_dir)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                ]
                if len(parts) != 1:
                    raise RuntimeError(
                        f"expected one part file in {stage_dir}, got {parts}"
                    )
                final = os.path.join(
                    dir_path, f"compact-v{base_version}-{i:05d}.parquet"
                )
                renames.append([os.path.join(stage_dir, parts[0]), final])
                old_paths.extend(member_paths)
                bytes_in += sum(s["size"] for s in b)

            part_col = tables[name]["partition_column"]
            refetch_stats = bool(part_col) and any(
                s["min_value"] is not None for s in smalls
            )
            journal = {
                "table": name,
                "renames": renames,
                "old_paths": old_paths,
                "refetch_stats": refetch_stats,
            }
            jpath = os.path.join(self.meta_dir, self._JOURNAL)
            jtmp = jpath + ".tmp"
            with open(jtmp, "w") as f:
                json.dump(journal, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            os.replace(jtmp, jpath)  # ---- commit point ----

            version = self._apply_compaction(journal, have_lock=True)
            os.unlink(jpath)
            self._sweep_stage_debris(dir_path)
            return CompactResult(
                name,
                version,
                groups=len(bins),
                files_in=len(old_paths),
                files_out=len(renames),
                bytes_in=bytes_in,
            )
        finally:
            os.unlink(lock)

    @staticmethod
    def _sweep_stage_debris(dir_path: str) -> None:
        """Remove `_compact_stage` leftovers from a pass that crashed
        before its commit point (they are invisible to readers either
        way — underscore prefix)."""
        stage_root = os.path.join(dir_path, "_compact_stage")
        if os.path.isdir(stage_root):
            shutil.rmtree(stage_root)

    def _recover_compaction(self, have_lock: bool = False) -> bool:
        """Roll a journaled-but-unfinished compaction forward; returns
        True if one was applied.  Safe to call anytime: no journal → no-op."""
        jpath = os.path.join(self.meta_dir, self._JOURNAL)
        if not os.path.exists(jpath):
            return False
        lock = None if have_lock else self._acquire_publish_lock()
        try:
            if not os.path.exists(jpath):  # lost the race to another repairer
                return False
            with open(jpath) as f:
                journal = json.load(f)
            self._apply_compaction(journal, have_lock=True)
            os.unlink(jpath)
            tables = self._load_tables()
            if journal["table"] in tables:
                self._sweep_stage_debris(tables[journal["table"]]["dir_path"])
            return True
        finally:
            if lock is not None:
                os.unlink(lock)

    def _apply_compaction(self, journal: dict, have_lock: bool) -> int:
        """Idempotently execute a journal: renames, deletes, catalog swap.
        Caller holds the publish lock."""
        name = journal["table"]
        for staged, final in journal["renames"]:
            if os.path.exists(staged):
                os.replace(staged, final)
            elif not os.path.exists(final):
                raise RuntimeError(
                    f"compaction journal names a missing file: {final}"
                )
        for p in journal["old_paths"]:
            if os.path.exists(p):
                os.unlink(p)

        old_set = set(journal["old_paths"])
        final_paths = [final for _, final in journal["renames"]]
        shards = self._load_shards()
        catalog_paths = {
            s["path"] for s in shards if s["table_name"] == name
        }
        already = set(final_paths) <= catalog_paths and not (
            old_set & catalog_paths
        )
        if already:  # crash landed after the publish — nothing left to do
            return self._current_version()

        tables = self._load_tables()
        new_files = []
        for p in final_paths:
            st = os.stat(p)
            new_files.append(
                {"path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns}
            )
        stats = (
            self._fetch_min_max(new_files, tables[name]["partition_column"])[0]
            if journal.get("refetch_stats")
            else {}
        )
        keep = [
            s
            for s in shards
            if s["table_name"] != name or s["path"] not in old_set
        ]
        for f in new_files:
            mn, mx = stats.get(f["path"], (None, None))
            keep.append(
                {
                    "table_name": name,
                    "shard_id": _shard_id(f["path"]),
                    "path": f["path"],
                    "size": f["size"],
                    "mtime_ns": f["mtime_ns"],
                    "min_value": mn,
                    "max_value": mx,
                }
            )
        placements = [
            p
            for p in self._load_placements()
            if p["table_name"] != name or p["path"] not in old_set
        ]
        for f in new_files:
            for host in self.placement_hosts(f):
                placements.append(
                    {
                        "table_name": name,
                        "shard_id": _shard_id(f["path"]),
                        "path": f["path"],
                        "size": f["size"],
                        "mtime_ns": f["mtime_ns"],
                        "hostname": host,
                    }
                )
        return self._publish(tables, keep, placements, have_lock=have_lock)

    def table_ddl_events(self, name: str) -> list[str]:
        """Ordered DDL statements that recreate the table and its per-shard
        bindings — the analogue of `master_get_table_ddl_events()` (A11,
        `CitusMasterNode.java:38-39,195-215`) replayed per shard by the
        reference (A25, `CitusWorkerNode.java:69-113`).  Here: one Spark SQL
        CREATE TABLE for the logical table, plus one per-shard external
        table statement using the reference's unsigned shard naming quirk
        (`shard_table_name`).

        Schema evolution: the DDL is derived from the UNION of all shard
        footers (`mergeSchema`), so a table whose newer files added
        columns replays with the full evolved schema — the reference's
        single-master-DDL-for-every-shard property
        (`CitusWorkerNode.java:69-113` replays one DDL per shard)
        preserved under evolution."""
        tables = self._load_tables()
        if name not in tables:
            raise KeyError(f"table not registered: {name}")
        shards = self.shards(name)
        if not shards:
            raise ValueError(f"no synced shards for table {name}")
        schema_ddl = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*[s["path"] for s in shards])
            .schema.toDDL()
        )
        events = [
            f"CREATE TABLE IF NOT EXISTS {name} ({schema_ddl}) USING parquet "
            f"LOCATION '{tables[name]['dir_path']}'"
        ]
        for s in sorted(shards, key=lambda r: r["shard_id"]):
            events.append(
                f"CREATE TABLE IF NOT EXISTS "
                f"{shard_table_name(name, s['shard_id'])} ({schema_ddl}) "
                f"USING parquet LOCATION '{s['path']}'"
            )
        return events

    # ------------------------------------------------------------- querying
    def read(
        self,
        name: str,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Scan a registered table from its *catalog* file list (not a live
        directory listing) — queries see exactly the last published sync,
        the reference's only-the-catalog-is-queried property.

        `version` time-travels to an older published snapshot: because the
        transactional publish (A23) stages each version as a complete
        directory, every historical catalog state remains queryable — the
        same mechanism that gives the reference its "reverts back to its
        original state" crash guarantee (`README.md:15-19`) doubles as
        snapshot isolation for readers.

        `merge_schema=True` reads the union of all shard schemas (columns
        absent from older files surface as NULL) — schema evolution for
        append-style corpora, at the footer-merge cost that option always
        carries; leave it off for fixed-schema tables so scans keep the
        single-footer fast path.

        Open-format tables (Delta / Iceberg) ALWAYS delegate to the
        format reader PINNED AT the snapshot the catalog was synced
        from — same files as the shard list, plus whatever the format's
        snapshot semantics add (partition columns attached from
        metadata, row-level deletes subtracted).  Delegating
        unconditionally keeps the read schema STABLE across syncs: with
        the old deletes-only dispatch, a partitioned table's partition
        columns appeared the first time a DV/MoR commit synced and were
        absent before — a result schema that depended on delete state,
        not table state (ADVICE r8).  The catalog-lag property is
        preserved exactly: a format commit after the last sync (file-
        or row-level) stays invisible until the next sync publishes,
        and `version` time travel pins the format snapshot recorded by
        THAT catalog version.  ``merge_schema=True`` is the explicit
        catalog-scan schema-union escape hatch and keeps its old
        semantics (refused when the snapshot carries row-level deletes,
        which a shard-list scan cannot honor)."""
        tables = self._load_tables(version)
        rec = tables.get(name, {})
        fmt = rec.get("format")
        synced = rec.get("synced_format_version")
        if fmt == "delta" and synced is not None:
            from hadoop_sync_spark.delta_log import DeltaLog

            log = DeltaLog(rec["dir_path"])
            if not merge_schema:
                return log.read(self.spark, synced)
            if any(
                a.get("deletionVector")
                for a in log.snapshot(synced).live.values()
            ):
                raise ValueError(
                    "merge_schema is not supported for deletion-"
                    "vector Delta tables (the log owns the schema)"
                )
        elif fmt == "iceberg" and synced is not None:
            from hadoop_sync_spark.iceberg_meta import IcebergTable

            table = IcebergTable(rec["dir_path"])
            if not merge_schema:
                return table.read(self.spark, snapshot_id=synced)
            if table.delete_files(snapshot_id=synced):
                raise ValueError(
                    "merge_schema is not supported for merge-on-"
                    "read Iceberg tables (the metadata owns the "
                    "schema)"
                )
        files = [s["path"] for s in self.shards(name, version)]
        if not files:
            raise ValueError(f"no synced shards for table {name}")
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    def prune_files(self, name: str, lo, hi) -> list[str]:
        """Stat-based shard pruning — the *point* of the reference's
        min/max sync (`README.md:41-46`): keep files whose [min,max]
        interval intersects [lo,hi]; files without stats always survive
        (sound).  Values compare in the partition column's type (stats are
        stored stringly and cast back here — `MinMaxValue.java:6-7`).

        Driver-only: the catalog is loaded once, and the column's Spark
        type comes from the first shard's footer schema
        (:func:`_footer_spark_type`), so no Spark job runs.  A table with no
        synced shards prunes to ``[]``."""
        version = self._current_version()
        part_col = self._load_tables(version)[name]["partition_column"]
        shards = self.shards(name, version)
        paths = [s["path"] for s in shards]
        if part_col is None or not paths:
            return paths
        dtype = _footer_spark_type(paths[0], part_col, _ReadConf.of(self.spark))

        # dtypes whose string form compares correctly as text: ISO
        # timestamps/dates and plain strings ('false' < 'true' for bool)
        _TEXT_ORDERED = ("string", "date", "timestamp", "boolean")

        def cast(v):
            if v is None:
                return None
            if dtype in ("bigint", "int", "smallint", "tinyint"):
                return int(v)
            if dtype in ("double", "float") or dtype.startswith("decimal"):
                from decimal import Decimal

                return Decimal(v)
            return v

        numeric = ("bigint", "int", "smallint", "tinyint", "double", "float")
        if dtype is None or not (
            dtype in numeric or dtype.startswith(("decimal",) + _TEXT_ORDERED)
        ):
            # unknown/unorderable-as-text dtype (binary, array, ...):
            # comparing would be lexicographic nonsense — keep every file
            # (pruning must stay sound before it is effective)
            return paths

        lo_c, hi_c = cast(str(lo)), cast(str(hi))
        keep = []
        for s in shards:
            mn, mx = cast(s["min_value"]), cast(s["max_value"])
            if mn is None or mx is None or (mx >= lo_c and mn <= hi_c):
                keep.append(s["path"])
        return keep

    def read_pruned(self, name: str, lo, hi) -> DataFrame:
        """Scan only the shards surviving min/max pruning (P2 proxy)."""
        files = self.prune_files(name, lo, hi)
        if not files:
            return self.read(name).limit(0)
        return self.spark.read.parquet(*files)
