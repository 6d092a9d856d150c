"""Table loading and data-file writing: directory-per-table parquet, the
reference's data model.

The reference binds one logical table to one HDFS directory via the
``hdfs_directory_path`` foreign-table option (``HdfsSynchronizer.java:29-34``,
``CitusMasterNode.java:338-381``).  Spark's file-source model is exactly that;
``load_table`` is the engine's scan entry point and keeps schema fixed and
external (no inference surprises), mirroring the master-catalog-is-truth
design (``CitusMasterNode.java:195-215``).  The write side is how a Spark
frame becomes a table's named data files — :func:`write_parquet`, with
:func:`split_tuples` for partitioned faces and :func:`plan_bins` for
compaction — shared by the registry, Delta and Iceberg writers.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

#: Every fixture table (TESTDATA.md).  Order: dims → facts → L3 tables.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: broadcast ceiling for row-level delete sets (MoR position/equality
#: deletes, deletion vectors), in ROWS — shared by the Delta and
#: Iceberg readers.  A delete-key row is ~tens of bytes, so the limit
#: sits well inside Spark's default broadcast comfort zone (≈ low
#: hundreds of MB); above it the delete anti-join falls back to a
#: shuffle join with a loud log line, and (for DVs) the descriptor
#: decode moves executor-side so the driver never materializes a
#: position list (VERDICT r9 item 7 — the size ledger for pathological
#: delete sets at 100 TB).
BROADCAST_DELETE_ROW_LIMIT = 5_000_000

#: below this many rows a delete set (deletion-vector positions,
#: Iceberg position deletes) decodes DRIVER-side into a local frame —
#: the executor read's fixed job and per-file task overhead dominates
#: tiny sets; above it the rows decode on the executors, where a
#: Python decode on the driver loses (crossovers in SCALING.md and
#: ``tools/iceberg_delete_probe.py --big``)
DRIVER_DECODE_ROW_LIMIT = 20_000


def table_path(sf_dir: str, name: str) -> str:
    """Resolve a table name to its parquet path under a scale-factor dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


#: Memo of ANALYZED table plans (round-13 optimization).
#: ``spark.read.parquet`` pays ~100 ms of driver work per call at any
#: scale — file listing, footer schema read, py4j round-trips — and the
#: query layer re-loads each table on every ``fn()`` call (a six-table
#: join paid it six times per run).  The memo returns the same analyzed
#: DataFrame, so listing + schema inference happen once per
#: (session, sf_dir, table); EXECUTION still scans the parquet files
#: every action — this caches a plan, never data or results, the same
#: class of metadata cache as Spark's own
#: ``filesourcePartitionFileCacheSize`` (optimization guide §6) and the
#: bench protocol's warm-up pass ("file-listing caches").
#:
#: Bounded LRU keyed by (session, sf_dir, name, stamp): the session
#: object itself sits in the key (SparkSession hashes and compares by
#: identity), so a dead session's address can never alias a live one,
#: and the FIFO bound is what retires a stopped session's plans (a
#: weak-keyed dict could never evict them — the values pin their keys).
#: ``stamp`` is the table path's ``(st_size, st_mtime_ns)``, so a table
#: regenerated in place misses the cache instead of serving the old
#: file listing.
from collections import OrderedDict

_PLAN_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_PLAN_CACHE_CAP = 64


def _plan_cache_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    try:
        st = os.stat(table_path(sf_dir, name))
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:  # not a local path; spark.read reports a missing one
        stamp = None
    return (spark, sf_dir, name, stamp)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table.  Plain ``spark.read.parquet`` so Catalyst gets full
    pushdown/pruning; callers `.select()` early to keep ReadSchema narrow.

    ``events.ts`` normalization: the fixture generator has shipped the
    column as parquet TIMESTAMP(NANOS) (read here as a nanos long via
    ``spark.sql.legacy.parquet.nanosAsLong``) and as naive TIMESTAMP(US)
    (read as ``timestamp_ntz`` under Spark 4's NTZ inference).  Both are
    wall-clock-in-UTC encodings, so we canonicalize to one engine-wide
    type — TimestampType (LTZ) holding the naive value as a UTC instant —
    which every downstream consumer (``unix_micros``, ``F.window``,
    ``session_window``, watermarks) accepts, and which collects back to
    the same naive datetime DuckDB's ``ts::TIMESTAMP`` yields (sessions
    run with UTC as the session zone), keeping oracle parity.
    """
    # session-settable legacy conf; required for any table with ns timestamps
    # (set even on a plan-cache hit: execution re-resolves it per scan)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _plan_cache_key(spark, sf_dir, name)
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        _PLAN_CACHE.move_to_end(key)
        return hit
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer division: float division loses precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # naive wall clock → the same instant under UTC, type TIMESTAMP;
            # session-tz-independent (to_utc_timestamp pins the zone to UTC)
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
        # restore the documented column order
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    elif name in ("lineitem", "orders"):
        # the fixture generator has flipped timestamp encodings between
        # rounds before (events.ts: NANOS long in r1, naive US in r2);
        # if the date columns ever arrive as nanos longs, restore a real
        # timestamp so every downstream year()/range/window survives.
        # Inert while the columns are already timestamps.
        col = "l_shipdate" if name == "lineitem" else "o_orderdate"
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    _PLAN_CACHE[key] = df
    while len(_PLAN_CACHE) > _PLAN_CACHE_CAP:
        _PLAN_CACHE.popitem(last=False)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def decode_file_uri(fp: str) -> str:
    """Driver-side twin of :func:`attach_file_columns`'s Spark-side
    decode: Spark's ``_metadata.file_path`` / ``input_file_name()``
    yield a percent-encoded ``file:`` URI; strip the scheme, protect
    literal ``+`` (x-www-form-urlencoded would read it as space), and
    decode the percent-escapes back to a plain absolute path."""
    import re as _re
    from urllib.parse import unquote as _unquote

    return _unquote(_re.sub("^file:(//)?", "", fp).replace("+", "%2B"))


def decode_file_uri_col(fp) -> Column:
    """Spark-side twin of :func:`decode_file_uri` over a file-URI
    column (``fp`` a Column or a column name): the same scheme strip,
    ``+`` protection and percent-decode, evaluated by the executors."""
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(fp, "^file:(//)?", ""), r"\+", "%2B"
        )
    )


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s
    field order; ``schema`` a StructType or a DDL string) — the one way
    this engine turns a Python list into a frame.

    The rows go to the JVM as a ``pyarrow.Table`` typed from the Spark
    schema, so the plan is a ``LocalRelation`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.  A plain
    ``spark.createDataFrame(<list>)`` is a ``LogicalRDD`` instead: every
    collect or broadcast of it runs a Python-worker job (a one-row frame
    collects in ~450 ms against ~40 ms as a LocalRelation, 4-vCPU
    host).  Naive datetimes in a TimestampType column read as
    process-local time, the same rule ``createDataFrame(<list>)``
    applies."""
    from datetime import timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for values, field, afield in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            values = [
                v.astimezone(timezone.utc)
                if v is not None and v.tzinfo is None else v
                for v in values
            ]
        arrays.append(pa.array(values, type=afield.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def write_parquet(
    df: DataFrame, dest: str | Callable[[int], str]
) -> list[str]:
    """Write ``df`` as named parquet files and return their paths — the
    one way Spark output becomes a table's data files.  A path ``dest``
    gets exactly that one file (``df`` coalesced to one partition); a
    function gets one file per Spark part, the ``i``-th part (in part
    name order) at ``dest(i)``.

    Spark writes into a ``_``-prefixed staging directory made in the
    destination's own directory, so each move into place is a rename
    within one directory, hence within one filesystem: staging under
    ``TMPDIR`` fails with ``EXDEV`` wherever that is another filesystem
    (a tmpfs ``/tmp``).  The ``_`` prefix hides the staging directory
    from Spark's file index and the registry's directory walk."""
    single = isinstance(dest, str)
    staging = tempfile.mkdtemp(
        prefix="_staging-", dir=os.path.dirname(dest if single else dest(0))
    )
    try:
        (df.coalesce(1) if single else df).write.mode("overwrite").parquet(
            staging
        )
        parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
        if single:
            (part,) = parts
            names = [dest]
        else:
            names = [dest(i) for i in range(len(parts))]
        for part, name in zip(parts, names):
            os.replace(part, name)
        return names
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def split_tuples(frame: DataFrame, key_cols: list[str]):
    """Distinct partition tuples of ``frame`` over ``key_cols``,
    deterministically ordered (None first), plus a per-tuple null-safe
    filter builder — how every partitioned write face splits its input
    into one file per tuple."""
    tuples = sorted(
        frame.select(*key_cols).distinct().collect(),
        key=lambda r: tuple((v is None, v) for v in r),
    )

    def cond_for(t) -> Column:
        cond = None
        for c in key_cols:
            term = F.col(c).eqNullSafe(F.lit(t[c]))
            cond = term if cond is None else cond & term
        return cond

    return tuples, cond_for


def plan_bins(
    items: list,
    size: Callable,
    key: Callable,
    target_bytes: int,
    min_group: int,
) -> list[tuple]:
    """The compaction plan of every table format: per ``key``, the items
    whose ``size`` is under ``target_bytes`` packed first-fit decreasing
    into bins of at most ``target_bytes`` (first-fit never opens more
    bins than next-fit), keeping bins of at least ``min_group`` items.
    Returns ``[(key, [item, ...]), ...]`` in key order, each bin's items
    largest first."""
    groups: dict = {}
    for it in items:
        if size(it) < target_bytes:
            groups.setdefault(key(it), []).append(it)
    out = []
    for k in sorted(groups):
        bins: list[list] = []  # [bytes, items]
        for it in sorted(groups[k], key=lambda it: -size(it)):
            for b in bins:
                if b[0] + size(it) <= target_bytes:
                    break
            else:
                b = [0, []]
                bins.append(b)
            b[0] += size(it)
            b[1].append(it)
        out += [(k, b[1]) for b in bins if len(b[1]) >= min_group]
    return out


def attach_file_columns(
    scan: DataFrame,
    file_rows: list[tuple],
    columns: list[str],
    types: dict,
    what: str = "file metadata",
) -> DataFrame:
    """Attach per-file metadata columns (e.g. an open table format's
    partition values) to a multi-file scan via a broadcast join on the
    DECODED file path — the lakehouse readers' shared idiom.

    ``file_rows`` is ``[(abs_path, v1, v2, ...), ...]`` keyed by the
    plain absolute path (no URI encoding); ``types`` maps every name in
    ``columns`` to its Spark type (the caller knows it from its
    metadata — a value can be None for EVERY scanned file, e.g. only
    pre-evolution files survive a filter, so it is never inferred).
    The path map is a :func:`local_frame`, so the broadcast costs no
    Python-worker job.  Spark's ``input_file_name()`` yields a
    percent-encoded ``file:`` URI whose exact encoding Hadoop owns, so
    the Spark side strips the scheme, protects literal ``+``
    (url_decode speaks x-www-form-urlencoded where ``+`` means space),
    and decodes the percent-escapes.  The join is LEFT with a per-row
    ``raise_error`` guard: any residual mismatch (foreign scheme,
    exotic encoding) fails the read loudly instead of silently dropping
    the file's rows — a partition VALUE may legitimately be null, so
    the guard keys on an explicit match marker, never the value.
    (ADVICE r7: the first Iceberg cut inner-joined on a re-encoded
    URI.)
    """
    schema = StructType(
        [StructField("_file", StringType(), False),
         StructField("_matched", BooleanType(), False)]
        + [StructField(c, types[c], True) for c in columns]
    )
    part_map = local_frame(
        scan.sparkSession,
        [(r[0], True) + tuple(r[1:]) for r in file_rows],
        schema,
    )
    joined = scan.withColumn(
        "_file", decode_file_uri_col(F.input_file_name())
    ).join(
        F.broadcast(part_map), "_file", "left"
    )
    err = F.raise_error(
        F.concat(
            F.lit(f"scanned file missing from the {what} map "
                  "(URI normalization mismatch): "),
            F.col("_file"),
        )
    )
    return joined.select(
        *[F.col(c) for c in scan.columns if c != "_file"],
        *[
            F.when(F.col("_matched").isNull(), err.cast(types[c]))
            .otherwise(F.col(c))
            .alias(c)
            for c in columns
        ],
    )
