"""Lakehouse interop queries: reading open-table-format metadata with the
engine's own log reader (delta_log.py) and proving snapshot semantics
against the relational oracle.

Reference parity note: the reference's catalog is bespoke
(``CitusMetadataStore.java``); its 2026 successor in any real deployment
is an open table format.  q138 is the VERDICT-r6 "one lakehouse-interop
reader" slot: the Delta transaction log (public PROTOCOL.md) replayed to
a file list that feeds the ordinary distributed parquet scan.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.queries import register
from hadoop_sync_spark.queries._util import t

#: rewrite threshold for the v2 delete-where commit (dollars; compared
#: identically as DOUBLE >= integer literal in both engines)
_REWRITE_MIN = 50000


def _scratch_dir(key: str) -> str:
    h = hashlib.md5(key.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"hss_delta_{h}")


def _move_single_part(staging: str, dest: str) -> None:
    parts = glob.glob(os.path.join(staging, "part-*.parquet"))
    assert len(parts) == 1, parts
    os.replace(parts[0], dest)
    shutil.rmtree(staging, ignore_errors=True)


def build_orders_delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic 3-commit Delta table over ``orders`` (rebuilt from
    scratch on every call so reruns are idempotent):

    - v0: protocol + metaData + add f0 (bucket 0) + add f1 (bucket 1)
    - v1: add f2 (bucket 2)        [checkpoint written here]
    - v2: remove f1 + add f3 (bucket 1 rows with o_totalprice >=
      {_REWRITE_MIN}) — a delete-where expressed the way Delta writers
      actually express it: rewrite the file, swap via remove+add

    where bucket = o_orderkey % 4 (bucket 3 never enters the table).
    Data files are written by Spark executors; only the KB-scale log is
    driver-side — the production Delta split."""
    scratch = _scratch_dir(os.path.abspath(sf_dir) + "#orders_delta")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "orders_delta")
    os.makedirs(table_dir)

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket = F.col("o_orderkey") % 4

    def write_file(df: DataFrame, name: str) -> None:
        staging = os.path.join(scratch, "staging_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        _move_single_part(staging, os.path.join(table_dir, name))

    write_file(src.filter(bucket == 0), "part-00000-f0.parquet")
    write_file(src.filter(bucket == 1), "part-00001-f1.parquet")
    write_file(src.filter(bucket == 2), "part-00002-f2.parquet")
    write_file(
        src.filter((bucket == 1) & (F.col("o_totalprice") >= _REWRITE_MIN)),
        "part-00003-f3.parquet",
    )

    log = DeltaLog(table_dir)
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "orders-delta-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": src.schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            log.add_action_for("part-00000-f0.parquet"),
            log.add_action_for("part-00001-f1.parquet"),
        ],
    )
    log.commit(1, [log.add_action_for("part-00002-f2.parquet")])
    log.write_checkpoint(1)
    log.commit(
        2,
        [
            {"remove": {"path": "part-00001-f1.parquet",
                        "dataChange": True}},
            log.add_action_for("part-00003-f3.parquet"),
        ],
    )
    return table_dir


build_orders_delta_fixture.__doc__ = build_orders_delta_fixture.__doc__.format(
    _REWRITE_MIN=_REWRITE_MIN
)


@register(
    "q138_delta_log_reader",
    oracle=f"""
    WITH b AS (
        SELECT o_orderkey % 4 AS bkt, o_totalprice FROM orders
    )
    SELECT
        CAST(2 AS BIGINT) AS latest_version,
        CAST(3 AS BIGINT) AS n_live_files_latest,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b
         WHERE bkt IN (0, 2)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cnt_latest,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b
         WHERE bkt IN (0, 2)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cents_latest,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE bkt IN (0, 1, 2))
            AS cnt_v1,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b WHERE bkt IN (0, 1, 2))
            AS cents_v1
    """,
    tags=("lakehouse", "delta", "time-travel", "interop"),
)
def q138_delta_log_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake interop: build a 3-commit Delta table over ``orders``
    (append, append+checkpoint, delete-where-via-rewrite), then read it
    back with the from-scratch log reader — latest snapshot AND
    version-1 time travel — and aggregate both into one oracle-checked
    row.  The latest-snapshot read seeds from the v1 checkpoint and
    replays only the v2 JSON tail, so checkpoint + tail replay +
    last-writer-wins removal are all on the verified path (the pure-JSON
    replay equivalence is pinned separately in tests/test_delta_log.py).

    Scale: replay is driver-side metadata (KBs/commit, like production
    Delta); the snapshot's live files feed a plain distributed parquet
    scan, so executor-side pushdown/pruning are untouched.  Aggregates
    use the scaled-BIGINT cents idiom for bit-exact cross-engine sums."""
    table_dir = build_orders_delta_fixture(spark, sf_dir)
    log = DeltaLog(table_dir)

    def agg_of(version: int | None, cnt_name: str, cents_name: str):
        return log.read(spark, version).agg(
            F.count("*").alias(cnt_name),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias(cents_name),
        )

    latest = log.latest_version()
    snap = log.snapshot()
    meta = spark.range(1).select(
        F.lit(latest).cast("long").alias("latest_version"),
        F.lit(len(snap.files)).cast("long").alias("n_live_files_latest"),
    )
    # one-row assembly via the union/max-fold idiom (same as the round-7
    # pair-contract epilogue): one job, no bounded-cross nested loops
    cols = (
        "latest_version", "n_live_files_latest",
        "cnt_latest", "cents_latest", "cnt_v1", "cents_v1",
    )

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast("long").alias(c)
                for c in cols
            ]
        )

    return (
        _pad(meta)
        .unionByName(_pad(agg_of(None, "cnt_latest", "cents_latest")))
        .unionByName(_pad(agg_of(1, "cnt_v1", "cents_v1")))
        .agg(*[F.max(c).alias(c) for c in cols])
    )


# --------------------------------------------------------------------------
# q144 — Delta table synced through the registry (A12-A16 over the open
# format)
# --------------------------------------------------------------------------
@register(
    "q144_delta_registry_sync",
    oracle=f"""
    WITH b AS (
        SELECT o_orderkey % 4 AS bkt, o_totalprice FROM orders
    )
    SELECT
        CAST(2 AS BIGINT) AS shards_after_c0,
        CAST(1 AS BIGINT) AS added_c1,
        CAST(1 AS BIGINT) AS added_c2,
        CAST(1 AS BIGINT) AS removed_c2,
        CAST(3 AS BIGINT) AS shards_final,
        TRUE AS resync_noop,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b
         WHERE bkt IN (0, 2)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cnt_live,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b
         WHERE bkt IN (0, 2)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cents_live
    """,
    tags=("lakehouse", "delta", "registry", "sync", "interop"),
)
def q144_delta_registry_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental-sync workflow (A12-A16: diff the FS
    state against the catalog, apply transactionally, idempotent re-run)
    driven by a DELTA table instead of a raw directory: each Delta
    commit surfaces as ordinary shard adds/removes because
    ``register_delta`` swaps the diff's FS-state source for the log's
    latest snapshot.  Commit-by-commit: c0 (two files) syncs 2 shards;
    c1 (append) diffs as exactly one add; c2 (delete-where rewrite)
    diffs as one add + one remove — the raw directory walk would have
    resurrected the removed file; an immediate re-sync is a noop; and
    the catalog-only read aggregates exactly the live rows (same oracle
    arithmetic as q138).

    Scale: identical posture to q82's sync lifecycle — log replay and
    catalog publish are KB-scale driver metadata, the final read is the
    ordinary distributed scan of the live files."""
    from hadoop_sync_spark.registry import Registry

    scratch = _scratch_dir(os.path.abspath(sf_dir) + "#delta_sync")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "orders_delta")
    os.makedirs(table_dir)
    meta_dir = os.path.join(scratch, "meta")

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket = F.col("o_orderkey") % 4

    def write_file(df: DataFrame, name: str) -> None:
        staging = os.path.join(scratch, "staging_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        _move_single_part(staging, os.path.join(table_dir, name))

    write_file(src.filter(bucket == 0), "part-00000-f0.parquet")
    write_file(src.filter(bucket == 1), "part-00001-f1.parquet")
    write_file(src.filter(bucket == 2), "part-00002-f2.parquet")
    write_file(
        src.filter((bucket == 1) & (F.col("o_totalprice") >= _REWRITE_MIN)),
        "part-00003-f3.parquet",
    )

    log = DeltaLog(table_dir)
    reg = Registry(spark, meta_dir)

    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "orders-delta-sync",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": src.schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            log.add_action_for("part-00000-f0.parquet"),
            log.add_action_for("part-00001-f1.parquet"),
        ],
    )
    reg.register_delta("orders_delta", table_dir)
    reg.sync("orders_delta")
    shards_after_c0 = len(reg.shards("orders_delta"))

    log.commit(1, [log.add_action_for("part-00002-f2.parquet")])
    s1 = reg.sync("orders_delta")

    log.commit(
        2,
        [
            {"remove": {"path": "part-00001-f1.parquet",
                        "dataChange": True}},
            log.add_action_for("part-00003-f3.parquet"),
        ],
    )
    s2 = reg.sync("orders_delta")
    shards_final = len(reg.shards("orders_delta"))
    noop = reg.sync("orders_delta").noop

    live = reg.read("orders_delta").agg(
        F.count("*").alias("cnt_live"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_live"),
    )
    meta = spark.range(1).select(
        F.lit(shards_after_c0).cast("long").alias("shards_after_c0"),
        F.lit(s1.added).cast("long").alias("added_c1"),
        F.lit(s2.added).cast("long").alias("added_c2"),
        F.lit(s2.removed).cast("long").alias("removed_c2"),
        F.lit(shards_final).cast("long").alias("shards_final"),
        F.lit(bool(noop)).alias("resync_noop"),
    )
    cols = {
        "shards_after_c0": "long",
        "added_c1": "long",
        "added_c2": "long",
        "removed_c2": "long",
        "shards_final": "long",
        "resync_noop": "boolean",
        "cnt_live": "long",
        "cents_live": "long",
    }

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have else F.lit(None).cast(tp).alias(c)
                for c, tp in cols.items()
            ]
        )

    return (
        _pad(meta)
        .unionByName(_pad(live))
        .agg(*[F.max(c).alias(c) for c in cols])
    )


# --------------------------------------------------------------------------
# q147 — Iceberg v2 snapshot reader (registered in round 9)
# --------------------------------------------------------------------------
Q147_ORACLE = f"""
    WITH b AS (
        SELECT o_orderkey % 4 AS bkt, o_totalprice FROM orders
    )
    SELECT
        CAST(5 AS BIGINT) AS n_snapshots,
        CAST(4 AS BIGINT) AS n_live_files_latest,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b
         WHERE bkt IN (0, 2, 3)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cnt_latest,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b
         WHERE bkt IN (0, 2, 3)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS cents_latest,
        (SELECT CAST(SUM(bkt) AS BIGINT) FROM b
         WHERE bkt IN (0, 2, 3)
            OR (bkt = 1 AND o_totalprice >= {_REWRITE_MIN}))
            AS sum_bucket_latest,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE bkt IN (0, 1, 2))
            AS cnt_s2,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b WHERE bkt IN (0, 1, 2))
            AS cents_s2,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b
         WHERE bkt = 1 AND o_totalprice >= {_REWRITE_MIN})
            AS cnt_b1_latest,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b
         WHERE bkt = 1 AND o_totalprice >= {_REWRITE_MIN})
            AS cents_b1_latest,
        CAST(1 AS BIGINT) AS n_files_hi,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE bkt = 3)
            AS cnt_hi,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM b WHERE bkt = 3)
            AS cents_hi,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE bkt = 3)
            AS cnt_priority
    """

#: the evolved file's keys shift above every honest o_orderkey (orders
#: keys stay far below 10^9 at any test sf), making its o_orderkey
#: bounds DISJOINT from f0–f3's — the deterministic substrate for the
#: metadata-only column_filter pruning proof (n_files_hi = 1)
_EVOLVED_KEY_SHIFT = 1_000_000_000


def build_orders_iceberg_fixture(spark: SparkSession, sf_dir: str):
    """Deterministic 5-snapshot Iceberg v2 table over ``orders``
    (rebuilt from scratch on every call), identity-partitioned on
    ``bucket = o_orderkey % 4``.  Partition values live ONLY in the
    manifest metadata — the data files carry just the order columns, so
    every read exercises the partition-attach join.  Every data file is
    stamped with footer-derived column bounds (the conforming-writer
    path), so the ``column_filter`` reads prune files metadata-only:

    - s1: append f0 (bucket 0) + f1 (bucket 1)
    - s2: append f2 (bucket 2)
    - s3: copy-on-write delete of f1
    - s4: append f3 (bucket-1 rows with o_totalprice >= {_REWRITE_MIN})
      — s3+s4 together are the delete-where-via-rewrite q138 models on
      the Delta side.
    - DDL: ``add_column("priority", "string")`` (metadata-only, no
      snapshot) — every subsequent read runs the round-9 pinned-schema
      evolution branch, null-filling f0–f3.
    - s5: append f4 — bucket-3 rows with keys shifted by
      ``_EVOLVED_KEY_SHIFT`` (o_orderkey bounds disjoint from every
      older file) and a non-null ``priority`` column.

    Returns (table, (s1, s2, s3, s4, s5) snapshot ids)."""
    from hadoop_sync_spark.iceberg_meta import (
        DataFile,
        IcebergTable,
        parquet_column_bounds,
    )

    scratch = _scratch_dir(os.path.abspath(sf_dir) + "#orders_iceberg")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "orders_iceberg")
    os.makedirs(os.path.join(table_dir, "data"))

    table = IcebergTable.create(
        table_dir,
        [
            ("o_orderkey", "bigint"),
            ("o_custkey", "bigint"),
            ("o_totalprice", "double"),
            ("bucket", "int"),
        ],
        partition_by=[("bucket", "int")],
        now_ms=1000,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket = F.col("o_orderkey") % 4
    counts = {
        r["bkt"]: r["cnt"]
        for r in src.groupBy(bucket.alias("bkt"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    n_rewrite = src.filter(
        (bucket == 1) & (F.col("o_totalprice") >= _REWRITE_MIN)
    ).count()

    def write_file(df: DataFrame, name: str, bkt: int, n: int) -> DataFile:
        staging = os.path.join(scratch, "staging_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        dest = os.path.join(table_dir, "data", name)
        _move_single_part(staging, dest)
        # conforming-writer bounds from the CURRENT schema (f4 carries
        # the evolved priority column; string bounds serialize fine)
        lb, ub = parquet_column_bounds(
            dest,
            table._schema_by_id(
                table.metadata()["current-schema-id"]
            )["fields"],
        )
        return DataFile(
            path=f"data/{name}",
            partition={"bucket": bkt},
            record_count=n,
            file_size=os.path.getsize(dest),
            lower_bounds=lb,
            upper_bounds=ub,
        )

    f0 = write_file(src.filter(bucket == 0), "f0.parquet", 0, counts.get(0, 0))
    f1 = write_file(src.filter(bucket == 1), "f1.parquet", 1, counts.get(1, 0))
    f2 = write_file(src.filter(bucket == 2), "f2.parquet", 2, counts.get(2, 0))
    f3 = write_file(
        src.filter((bucket == 1) & (F.col("o_totalprice") >= _REWRITE_MIN)),
        "f3.parquet",
        1,
        n_rewrite,
    )

    s1 = table.append([f0, f1], now_ms=2000)
    s2 = table.append([f2], now_ms=3000)
    s3 = table.delete({"data/f1.parquet"}, now_ms=4000)
    s4 = table.append([f3], now_ms=5000)
    # schema evolution (round 9): metadata-only DDL, then the evolved
    # file — keys shifted above every honest orderkey so its o_orderkey
    # bounds are disjoint from f0–f3's (the pruning substrate)
    table.add_column("priority", "string", now_ms=5500)
    f4 = write_file(
        src.filter(bucket == 3).select(
            (F.col("o_orderkey") + F.lit(_EVOLVED_KEY_SHIFT)).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_totalprice",
            F.lit("evolved").alias("priority"),
        ),
        "f4.parquet",
        3,
        counts.get(3, 0),
    )
    s5 = table.append([f4], now_ms=6000)
    return table, (s1, s2, s3, s4, s5)


build_orders_iceberg_fixture.__doc__ = (
    build_orders_iceberg_fixture.__doc__.format(_REWRITE_MIN=_REWRITE_MIN)
)


@register(
    "q147_iceberg_snapshot_reader",
    oracle=Q147_ORACLE,
    tags=("lakehouse", "iceberg", "time-travel", "interop"),
)
def q147_iceberg_snapshot_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg interop: build the 5-snapshot partitioned + schema-evolved
    table over ``orders``, then read it back with the from-scratch
    metadata-tree reader (iceberg_meta.py:224 `IcebergTable`) — latest
    snapshot, snapshot-id time travel to s2 (whose PINNED pre-evolution
    schema has no priority column), a partition-pruned read
    (``bucket = 1``, pruned at both the manifest-list summary and the
    manifest entry layer), AND a ``column_filter`` read whose
    metadata-only bounds pruning survives exactly ONE file
    (``n_files_hi``: f4's shifted keys make its o_orderkey bounds
    disjoint from every older file) — aggregated into one oracle-checked
    row.  ``sum_bucket_latest`` proves the per-row partition-attach
    join (bucket exists only in manifest metadata, never in the data
    files); ``cnt_priority`` proves the evolved column null-fills f0–f3
    and reads real values from f4 through the snapshot-pinned schema.

    Scale: planning is metadata-only (no data file opened — pinned
    adversarially in tests/test_iceberg.py); each read is ONE
    distributed parquet scan of exactly the selected files with a
    broadcast partition-map join, production Iceberg's own split.
    Aggregates use the scaled-BIGINT cents idiom for bit-exact
    cross-engine sums."""
    table, (s1, s2, s3, s4, s5) = build_orders_iceberg_fixture(
        spark, sf_dir
    )

    latest = table.read(spark).agg(
        F.count("*").alias("cnt_latest"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_latest"),
        F.sum(F.col("bucket").cast("long")).alias("sum_bucket_latest"),
        F.sum(
            F.col("priority").isNotNull().cast("long")
        ).alias("cnt_priority"),
    )
    at_s2 = table.read(spark, snapshot_id=s2).agg(
        F.count("*").alias("cnt_s2"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_s2"),
    )
    b1 = table.read(spark, partition_filter={"bucket": 1}).agg(
        F.count("*").alias("cnt_b1_latest"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_b1_latest"),
    )
    hi_filter = {"o_orderkey": (_EVOLVED_KEY_SHIFT, None)}
    hi = table.read(spark, column_filter=hi_filter).agg(
        F.count("*").alias("cnt_hi"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_hi"),
    )
    meta = spark.range(1).select(
        F.lit(len(table.history())).cast("long").alias("n_snapshots"),
        F.lit(len(table.files())).cast("long").alias("n_live_files_latest"),
        # metadata-only file pruning: bounds decide before any scan plan
        F.lit(len(table.files(column_filter=hi_filter)))
        .cast("long")
        .alias("n_files_hi"),
    )

    cols = (
        "n_snapshots",
        "n_live_files_latest",
        "cnt_latest",
        "cents_latest",
        "sum_bucket_latest",
        "cnt_s2",
        "cents_s2",
        "cnt_b1_latest",
        "cents_b1_latest",
        "n_files_hi",
        "cnt_hi",
        "cents_hi",
        "cnt_priority",
    )

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast("long").alias(c)
                for c in cols
            ]
        )

    return (
        _pad(meta)
        .unionByName(_pad(latest))
        .unionByName(_pad(at_s2))
        .unionByName(_pad(b1))
        .unionByName(_pad(hi))
        .agg(*[F.max(c).alias(c) for c in cols])
    )


# --------------------------------------------------------------------------
# q148 — Iceberg merge-on-read reader (registered round 9)
# --------------------------------------------------------------------------
_EQ_DEL_MOD = 100
_EQ_DEL_REM = 7
_POS_DEL_K = 5
#: Hard cap on the equality-delete key set: the K SMALLEST matching
#: custkeys.  Equality-delete files are by nature driver-authored
#: metadata, but an uncapped "every custkey ≡ REM (mod MOD)" enumeration
#: grows linearly with sf and the fixture's `.collect()` with it (round-8
#: VERDICT item 3); the cap bounds the driver materialization at K rows
#: at EVERY scale factor while the oracle reproduces the same set via
#: ORDER BY o_custkey LIMIT K.
_EQ_DEL_CAP = 20
#: column_filter threshold for the MoR-composed bounds read: low enough
#: that rows survive at every sf, high enough to be a real predicate
_HI_KEY_MIN = 1000
#: a filter range beyond every honest orderkey — with bounds stamped on
#: all three files, file pruning must drop ALL of them metadata-only
_BEYOND_KEY = 10**12

Q148_ORACLE = f"""
    WITH evens AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
        FROM orders WHERE o_orderkey % 2 = 0
    ), odds AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
    ), eqdel AS (
        SELECT o_custkey FROM (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_custkey % {_EQ_DEL_MOD} = {_EQ_DEL_REM}
        ) ORDER BY o_custkey LIMIT {_EQ_DEL_CAP}
    ), readd AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT o_custkey FROM eqdel)
          AND o_orderkey % 10 = 1
    ), live AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM evens
        WHERE pos >= {_POS_DEL_K}
          AND o_custkey NOT IN (SELECT o_custkey FROM eqdel)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice FROM odds
        WHERE o_custkey NOT IN (SELECT o_custkey FROM eqdel)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice FROM readd
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM live) AS cnt_live,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM live) AS cents_live,
        (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM live)
            AS custkey_sum_live,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM evens) - {_POS_DEL_K}
            + (SELECT CAST(COUNT(*) AS BIGINT) FROM odds)
            AS cnt_after_posdel,
        CAST(2 AS BIGINT) AS n_delete_files_latest,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM live
         WHERE o_orderkey >= {_HI_KEY_MIN}) AS cnt_live_hi,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM live
         WHERE o_orderkey >= {_HI_KEY_MIN}) AS cents_live_hi,
        CAST(0 AS BIGINT) AS n_files_beyond
    """


def q148_iceberg_mor_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ end to end (iceberg_meta.py round-8
    support): a 4-commit table over ``orders`` —

    - s1: append f_even (even orderkeys, SORTED so row position is
      deterministic) + f_odd (odd orderkeys)
    - s2: POSITION delete of the first {_POS_DEL_K} rows of f_even
      (the {_POS_DEL_K} smallest even orderkeys)
    - s3: EQUALITY delete of the {_EQ_DEL_CAP} smallest custkeys
      ≡ {_EQ_DEL_REM} (mod {_EQ_DEL_MOD}) — applies to both s1 files
      (strictly older); the key set is CAPPED so the driver-authored
      delete file never grows with sf
    - s4: append f_readd re-inserting a subset of the deleted custkeys
      (orderkey ≡ 1 mod 10) — SURVIVES s3 (upsert semantics: equality
      deletes never touch newer files)

    The one-row result aggregates the latest MoR read (count, exact
    cents, custkey sum — the custkey sum catches an equality join on
    the wrong column), a time-travel read at s2 (position deletes
    applied, equality not yet committed), the live delete-file count,
    and — round 10, the bounds-pruning legs — a ``column_filter`` read
    COMPOSED with the MoR subtraction (cnt_live_hi / cents_live_hi:
    every file is stamped with footer bounds, the ranges interleave so
    all survive, and the exact predicate applies on top of the
    anti-joins) plus a metadata-only pruning proof (n_files_beyond: a
    range beyond every honest orderkey drops ALL bounded files without
    a scan plan).  The oracle reproduces the survivor set in pure SQL
    via the row-number ↔ position correspondence of the sorted even
    file.

    Scale: delete application is broadcast anti-joins of metadata-scale
    delete sets against the distributed scan — production Iceberg's own
    plan; nothing driver-side grows with the data."""
    from hadoop_sync_spark.iceberg_meta import (
        DataFile,
        IcebergTable,
        _iceberg_schema_json,
        parquet_column_bounds,
    )

    scratch = _scratch_dir(os.path.abspath(sf_dir) + "#orders_iceberg_mor")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "orders_mor")
    os.makedirs(os.path.join(table_dir, "data"))

    _MOR_COLS = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_totalprice", "double"),
    ]
    # the exact field-id/type assignment create() will make below
    _MOR_FIELDS = _iceberg_schema_json(_MOR_COLS)["fields"]

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def write_file(df: DataFrame, name: str, sort: bool = False) -> DataFile:
        staging = os.path.join(scratch, "staging_" + name)
        part = df.repartition(1)
        if sort:
            part = part.sortWithinPartitions("o_orderkey")
        part.write.mode("overwrite").parquet(staging)
        dest = os.path.join(table_dir, "data", name)
        _move_single_part(staging, dest)
        n = spark.read.parquet(dest).count()
        # conforming-writer column bounds: the column_filter contract
        # legs (cnt_live_hi / n_files_beyond) prune on these
        lb, ub = parquet_column_bounds(dest, _MOR_FIELDS)
        return DataFile(
            path=f"data/{name}",
            partition={},
            record_count=n,
            file_size=os.path.getsize(dest),
            lower_bounds=lb,
            upper_bounds=ub,
        )

    evens = src.filter(F.col("o_orderkey") % 2 == 0)
    odds = src.filter(F.col("o_orderkey") % 2 == 1)
    # Equality-delete key set: the _EQ_DEL_CAP smallest matching custkeys.
    # The collect is bounded at _EQ_DEL_CAP rows at every scale factor
    # (sorted-limit runs distributed; only the capped result reaches the
    # driver) — equality-delete files are driver-authored metadata and
    # must never grow with the data.
    del_custkeys = [
        int(r["o_custkey"])
        for r in src.filter(F.col("o_custkey") % _EQ_DEL_MOD == _EQ_DEL_REM)
        .select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(_EQ_DEL_CAP)
        .collect()
    ]
    readd = src.filter(
        F.col("o_custkey").isin(del_custkeys)
        & (F.col("o_orderkey") % 10 == 1)
    )

    f_even = write_file(evens, "f_even.parquet", sort=True)
    f_odd = write_file(odds, "f_odd.parquet")
    f_readd = write_file(readd, "f_readd.parquet")

    table = IcebergTable.create(table_dir, _MOR_COLS, now_ms=1000)
    table.append([f_even, f_odd], now_ms=2000)
    s2 = table.add_position_deletes(
        [("data/f_even.parquet", p) for p in range(_POS_DEL_K)], now_ms=3000
    )
    # equality delete keyed on o_custkey (schema field id 2)
    table.add_equality_deletes(
        [{"o_custkey": int(c)} for c in del_custkeys],
        equality_ids=[2],
        now_ms=4000,
    )
    table.append([f_readd], now_ms=5000)

    live = table.read(spark).agg(
        F.count("*").alias("cnt_live"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_live"),
        F.sum("o_custkey").alias("custkey_sum_live"),
    )
    at_s2 = table.read(spark, snapshot_id=s2).agg(
        F.count("*").alias("cnt_after_posdel")
    )
    # column_filter COMPOSED with MoR delete subtraction: bounds decide
    # the file set (all three survive — ranges interleave), the exact
    # predicate applies on top, and the anti-joins still subtract
    live_hi = table.read(
        spark, column_filter={"o_orderkey": (_HI_KEY_MIN, None)}
    ).agg(
        F.count("*").alias("cnt_live_hi"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_live_hi"),
    )
    meta = spark.range(1).select(
        F.lit(len(table.delete_files()))
        .cast("long")
        .alias("n_delete_files_latest"),
        # metadata-only pruning to ZERO: a range beyond every honest
        # orderkey drops all three bounded files without a scan plan
        F.lit(len(table.files(
            column_filter={"o_orderkey": (_BEYOND_KEY, None)}
        )))
        .cast("long")
        .alias("n_files_beyond"),
    )

    cols = (
        "cnt_live",
        "cents_live",
        "custkey_sum_live",
        "cnt_after_posdel",
        "n_delete_files_latest",
        "cnt_live_hi",
        "cents_live_hi",
        "n_files_beyond",
    )

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast("long").alias(c)
                for c in cols
            ]
        )

    return (
        _pad(meta)
        .unionByName(_pad(live))
        .unionByName(_pad(at_s2))
        .unionByName(_pad(live_hi))
        .agg(*[F.max(c).alias(c) for c in cols])
    )


q148_iceberg_mor_reader.__doc__ = q148_iceberg_mor_reader.__doc__.format(
    _POS_DEL_K=_POS_DEL_K,
    _EQ_DEL_REM=_EQ_DEL_REM,
    _EQ_DEL_MOD=_EQ_DEL_MOD,
    _EQ_DEL_CAP=_EQ_DEL_CAP,
)
# Registered via explicit call AFTER the docstring fix-up so Query.doc
# captures the formatted text (register() snapshots __doc__ at call time).
register(
    "q148_iceberg_mor_reader",
    oracle=Q148_ORACLE,
    tags=("lakehouse", "iceberg", "merge-on-read", "interop"),
)(q148_iceberg_mor_reader)


# --------------------------------------------------------------------------
# q149 — Delta deletion-vector reader (registered round 9)
# --------------------------------------------------------------------------
_DV_FIRST_K = 7
_DV_MOD = 97
_DV_REM = 3

Q149_ORACLE = f"""
    WITH evens AS (
        SELECT o_totalprice, o_custkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
        FROM orders WHERE o_orderkey % 2 = 0
    ), odds AS (
        SELECT o_totalprice, o_custkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
        FROM orders WHERE o_orderkey % 2 = 1
    ), live AS (
        SELECT o_totalprice, o_custkey FROM evens
        WHERE pos >= {_DV_FIRST_K}
        UNION ALL
        SELECT o_totalprice, o_custkey FROM odds
        WHERE pos % {_DV_MOD} <> {_DV_REM}
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM live) AS cnt_live,
        (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) FROM live) AS cents_live,
        (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM live)
            AS custkey_sum_live,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS cnt_v0,
        CAST({_DV_FIRST_K} AS BIGINT)
            + (SELECT CAST(COUNT(*) AS BIGINT) FROM odds
               WHERE pos % {_DV_MOD} = {_DV_REM})
            AS dv_cardinality_total,
        CAST(1 AS BIGINT) AS n_ckpt_sidecars
    """


def q149_delta_dv_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta protocol-v3 DELETION VECTORS end to end (delta_log.py
    round-8 support): two sorted data files over ``orders`` (sorted so
    row positions are deterministic and the oracle can name them via
    ROW_NUMBER), then

    - v1: a 'u'-storage DV on the even file (framed
      ``deletion_vector_<uuid>.bin``, CRC-verified Roaring payload)
      deleting the first {_DV_FIRST_K} positions,
    - v2: an INLINE ('i', Base85) DV on the odd file deleting every
      position ≡ {_DV_REM} (mod {_DV_MOD}).

    One oracle-checked row aggregates the DV-subtracted latest read,
    the v0 time travel (no DVs yet — full row count), and the summed
    descriptor cardinalities (straight from the replayed add actions —
    a wrong bitmap codec or a dropped descriptor flips it).

    Round 10 routes the same contract through TWO more round-9 read
    branches, value-identically: the table is COLUMN-MAPPED (name mode —
    data files store physical col-* names, the logical schema carries
    the delta.columnMapping metadata; ``custkey_sum_live`` would flip if
    the mapping resolved the two same-typed long columns crosswise) and
    the latest read seeds from a V2 CHECKPOINT (UUID-named main file +
    one ``_sidecars`` parquet, written after the DV commits; a no-op
    tail commit replays on top, and ``n_ckpt_sidecars`` pins the
    layout).  Time travel to v0 replays below the checkpoint.

    Scale: the DV positions are metadata-scale; read() broadcasts them
    into a LEFT ANTI join against (file, ``_metadata.row_index``)
    lineage — the Spark-native form of the scan-side bitmap filter
    production Delta readers apply.  Payload rows never shuffle."""
    import json as _json

    from hadoop_sync_spark.delta_log import DeltaLog

    scratch = _scratch_dir(os.path.abspath(sf_dir) + "#orders_delta_dv")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "orders_dv")
    os.makedirs(table_dir)

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # logical -> physical column mapping (name mode); two long columns
    # on purpose — a crosswise physical resolution flips custkey_sum_live
    phys = {
        "o_orderkey": ("col-okey", 1, "long"),
        "o_custkey": ("col-ckey", 2, "long"),
        "o_totalprice": ("col-price", 3, "double"),
    }

    def write_sorted(df: DataFrame, name: str) -> int:
        staging = os.path.join(scratch, "staging_" + name)
        (
            df.repartition(1)
            .sortWithinPartitions("o_orderkey")
            .select(*[
                F.col(c).alias(phys[c][0]) for c in df.columns
            ])
            .write.mode("overwrite")
            .parquet(staging)
        )
        dest = os.path.join(table_dir, name)
        _move_single_part(staging, dest)
        return spark.read.parquet(dest).count()

    write_sorted(src.filter(F.col("o_orderkey") % 2 == 0), "evens.parquet")
    n_odd = write_sorted(
        src.filter(F.col("o_orderkey") % 2 == 1), "odds.parquet"
    )

    schema_string = _json.dumps({
        "type": "struct",
        "fields": [
            {
                "name": name,
                "type": typ,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": fid,
                    "delta.columnMapping.physicalName": pn,
                },
            }
            for name, (pn, fid, typ) in phys.items()
        ],
    })
    log = DeltaLog(table_dir)
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "orders-delta-dv",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            },
            log.add_action_for("evens.parquet"),
            log.add_action_for("odds.parquet"),
        ],
    )
    log.add_deletion_vector(
        1, "evens.parquet", list(range(_DV_FIRST_K)), storage="u"
    )
    log.add_deletion_vector(
        2,
        "odds.parquet",
        [p for p in range(n_odd) if p % _DV_MOD == _DV_REM],
        storage="i",
    )
    # V2 checkpoint + a no-op tail commit, then a FRESH log: the latest
    # read seeds from the UUID checkpoint's sidecar and replays the tail.
    # The DV protocol lacks v2Checkpoint, so the writer first COMMITS the
    # upgraded protocol at version 3 (ADVICE r10) and checkpoints there —
    # the tail no-op lands at 4.
    log.write_checkpoint_v2(2, sidecars=1)
    log.commit(
        4, [{"remove": {"path": "absent.parquet", "dataChange": False}}]
    )
    fresh = DeltaLog(table_dir)

    snap = fresh.snapshot()
    dv_total = sum(
        a["deletionVector"]["cardinality"]
        for a in snap.live.values()
        if a.get("deletionVector")
    )
    n_sidecars = len(os.listdir(
        os.path.join(table_dir, "_delta_log", "_sidecars")
    ))

    live = fresh.read(spark).agg(
        F.count("*").alias("cnt_live"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents_live"),
        F.sum("o_custkey").alias("custkey_sum_live"),
    )
    v0 = fresh.read(spark, 0).agg(F.count("*").alias("cnt_v0"))
    meta = spark.range(1).select(
        F.lit(dv_total).cast("long").alias("dv_cardinality_total"),
        F.lit(n_sidecars).cast("long").alias("n_ckpt_sidecars"),
    )

    cols = (
        "cnt_live",
        "cents_live",
        "custkey_sum_live",
        "cnt_v0",
        "dv_cardinality_total",
        "n_ckpt_sidecars",
    )

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast("long").alias(c)
                for c in cols
            ]
        )

    return (
        _pad(meta)
        .unionByName(_pad(live))
        .unionByName(_pad(v0))
        .agg(*[F.max(c).alias(c) for c in cols])
    )


q149_delta_dv_reader.__doc__ = q149_delta_dv_reader.__doc__.format(
    _DV_FIRST_K=_DV_FIRST_K, _DV_MOD=_DV_MOD, _DV_REM=_DV_REM
)
register(
    "q149_delta_dv_reader",
    oracle=Q149_ORACLE,
    tags=("lakehouse", "delta", "deletion-vectors", "interop"),
)(q149_delta_dv_reader)
