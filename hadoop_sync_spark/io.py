"""Table loading: directory-per-table parquet, the reference's data model.

The reference binds one logical table to one HDFS directory via the
``hdfs_directory_path`` foreign-table option (``HdfsSynchronizer.java:29-34``,
``CitusMasterNode.java:338-381``).  Spark's file-source model is exactly that;
``load_table`` is the engine's scan entry point and keeps schema fixed and
external (no inference surprises), mirroring the master-catalog-is-truth
design (``CitusMasterNode.java:195-215``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

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
#: Bounded LRU keyed by (id(session), sf_dir, name, stamp): a cached
#: DataFrame strongly references its session, so id() cannot be reused
#: while the entry lives, and the FIFO bound is what retires a stopped
#: session's plans (a weak-keyed dict could never evict them — the values
#: pin their keys).  ``stamp`` is the table path's ``(st_size,
#: st_mtime_ns)``, so a table regenerated in place misses the cache
#: instead of serving the old file listing.
from collections import OrderedDict

_PLAN_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_PLAN_CACHE_CAP = 64


def _plan_cache_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    try:
        st = os.stat(table_path(sf_dir, name))
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:  # not a local path; spark.read reports a missing one
        stamp = None
    return (id(spark), sf_dir, name, stamp)


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


def write_single_parquet(df: DataFrame, dest: str, prefix: str) -> None:
    """Materialize ``df`` as EXACTLY the file ``dest`` (coalesce(1)
    through a staging dir, then an atomic rename) — the write idiom the
    compaction and DML faces share.  ``prefix`` names the staging dir
    for debuggability."""
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    staging = _tempfile.mkdtemp(prefix=prefix)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        (part_file,) = _glob.glob(os.path.join(staging, "part-*.parquet"))
        os.replace(part_file, dest)
    finally:
        _shutil.rmtree(staging, ignore_errors=True)


def attach_file_columns(
    scan: DataFrame,
    file_rows: list[tuple],
    columns: list[str],
    what: str = "file metadata",
    types: dict | None = None,
) -> DataFrame:
    """Attach per-file metadata columns (e.g. an open table format's
    partition values) to a multi-file scan via a broadcast join on the
    DECODED file path — the lakehouse readers' shared idiom.

    ``file_rows`` is ``[(abs_path, v1, v2, ...), ...]`` keyed by the
    plain absolute path (no URI encoding).  Spark's
    ``input_file_name()`` yields a percent-encoded ``file:`` URI whose
    exact encoding Hadoop owns, so the Spark side strips the scheme,
    protects literal ``+`` (url_decode speaks x-www-form-urlencoded
    where ``+`` means space), and decodes the percent-escapes.  The
    join is LEFT with a per-row ``raise_error`` guard: any residual
    mismatch (foreign scheme, exotic encoding) fails the read loudly
    instead of silently dropping the file's rows — a partition VALUE
    may legitimately be null, so the guard keys on an explicit match
    marker, never the value.  (ADVICE r7: the first Iceberg cut
    inner-joined on a re-encoded URI.)
    """
    rows = [(r[0], True) + tuple(r[1:]) for r in file_rows]
    if types is not None and all(c in types for c in columns):
        # explicit column types (spec evolution: a metadata value can
        # be None for EVERY scanned file — e.g. only pre-evolution
        # files survive a filter — and type inference would refuse an
        # all-null column; the caller knows the type from its metadata)
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("_file", T.StringType(), False),
             T.StructField("_matched", T.BooleanType(), False)]
            + [T.StructField(c, types[c], True) for c in columns]
        )
        part_map = scan.sparkSession.createDataFrame(rows, schema)
    else:
        part_map = scan.sparkSession.createDataFrame(
            rows, ["_file", "_matched", *columns]
        )
    decoded = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
            r"\+",
            "%2B",
        )
    )
    joined = scan.withColumn("_file", decoded).join(
        F.broadcast(part_map), "_file", "left"
    )
    err = F.raise_error(
        F.concat(
            F.lit(f"scanned file missing from the {what} map "
                  "(URI normalization mismatch): "),
            F.col("_file"),
        )
    )
    types = dict(part_map.dtypes)
    return joined.select(
        *[F.col(c) for c in scan.columns if c != "_file"],
        *[
            F.when(F.col("_matched").isNull(), err.cast(types[c]))
            .otherwise(F.col(c))
            .alias(c)
            for c in columns
        ],
    )
