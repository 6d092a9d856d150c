"""Registry/statistics queries — the L1 face of the reference itself.

The full registry engine (diff/sync/atomic publish, SURVEY §7 Phase 2) lives
in :mod:`hadoop_sync_spark.registry` with property tests; here we declare the
oracle-checkable statistics surface: the A17 min/max scan whose results the
reference stores as stringly-typed shard stats (``MinMaxValue.java:6-7``,
``CitusWorkerNode.java:140-165``).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_sync_spark.io import local_frame
from hadoop_sync_spark.queries import register
from hadoop_sync_spark.queries._util import t


def _scratch_meta_dir(sf_dir: str) -> str:
    """Deterministic scratch catalog location for one fixture dir."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"hss_meta_{key}")


@register(
    "q80_minmax_stats",
    oracle="""
    SELECT 'lineitem' AS table_name, 'l_shipdate' AS stat_column,
           CAST(MIN(l_shipdate) AS VARCHAR) AS min_value,
           CAST(MAX(l_shipdate) AS VARCHAR) AS max_value,
           COUNT(*) AS row_cnt
    FROM lineitem
    UNION ALL
    SELECT 'orders', 'o_orderdate',
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'events', 'ts',
           CAST(MIN(ts::TIMESTAMP) AS VARCHAR), CAST(MAX(ts::TIMESTAMP) AS VARCHAR),
           COUNT(*)
    FROM events
    """,
    tags=("registry", "stats"),
)
def q80_minmax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column min/max statistics, stored stringly exactly like the
    reference's `shardminvalue`/`shardmaxvalue` (A17/A19,
    `CitusMasterNode.java:44-47`) — what registry-based file pruning casts
    back at query time (SURVEY §4.1 P2).

    Scale: parquet footers already hold these per row group; Spark's
    aggregate pushdown can answer min/max without scanning data rows."""

    def one(tbl: str, col: str) -> DataFrame:
        return (
            t(spark, sf_dir, tbl)
            .agg(
                F.min(col).cast("string").alias("min_value"),
                F.max(col).cast("string").alias("max_value"),
                F.count("*").alias("row_cnt"),
            )
            .select(
                F.lit(tbl).alias("table_name"),
                F.lit(col).alias("stat_column"),
                "min_value",
                "max_value",
                "row_cnt",
            )
        )

    return (
        one("lineitem", "l_shipdate")
        .unionByName(one("orders", "o_orderdate"))
        .unionByName(one("events", "ts"))
    )


@register(
    "q81_registry_pruned_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-09-01 00:00:00'
      AND l_quantity >= 45
    """,
    tags=("registry", "pruning"),
)
def q81_registry_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end registry lifecycle behind a query: register lineitem with
    `l_shipdate` as partition column, sync with min/max stat collection
    (A17/A19), then answer a range query through `read_pruned` — only files
    whose [min,max] interval intersects the predicate are opened, plus the
    residual filter (SURVEY §4.1 P2, `README.md:44-46`).

    The oracle is the plain range scan, so the driver hash-checks pruning
    SOUNDNESS: pruned results must equal the full-scan results exactly.
    Scale: pruning cost is O(#files) catalog rows on the driver; the saved
    work is O(pruned bytes) of cluster scan."""
    from hadoop_sync_spark.io import table_path
    from hadoop_sync_spark.registry import Registry

    reg = Registry(spark, _scratch_meta_dir(sf_dir))
    reg.register(
        "lineitem",
        table_path(sf_dir, "lineitem"),
        partition_column="l_shipdate",
    )
    reg.sync("lineitem", fetch_min_max=True)
    lo, hi = "1997-06-01 00:00:00", "1997-09-01 00:00:00"
    df = reg.read_pruned("lineitem", lo, hi)
    return (
        df.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
            & (F.col("l_quantity") >= 45)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("timestamp_ntz").alias("l_shipdate"),
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
    )


@register(
    "q82_registry_sync_lifecycle",
    oracle="""
    SELECT t.table_name,
           CAST(0 AS BIGINT) AS first_removed,
           TRUE AS rerun_noop,
           TRUE AS catalog_matches_fs
    FROM (VALUES ('customer'), ('documents'), ('embeddings'), ('events'),
                 ('lineitem'), ('nation'), ('orders'), ('part'),
                 ('region'), ('supplier')) t(table_name)
    """,
    tags=("registry", "sync", "idempotency"),
)
def q82_registry_sync_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's defining behaviors as a checkable contract row per
    table: first sync of a fresh catalog removes nothing; an immediate
    re-run is a no-op (`README.md:10-13`); after sync the catalog's shard
    set matches what the sync reported adding (catalog == filesystem).
    The registry has no SQL twin, so the oracle pins the invariants as
    constants over the fixed fixture table list (the contract pattern) —
    the file COUNTS stay out of the row because they are an environment
    property, not an engine invariant."""
    import shutil

    from hadoop_sync_spark.io import TABLES, table_path
    from hadoop_sync_spark.registry import Registry

    scratch = _scratch_meta_dir(sf_dir + "#lifecycle")
    shutil.rmtree(scratch, ignore_errors=True)  # a FRESH catalog every run
    reg = Registry(spark, scratch)
    rows = []
    for name in sorted(TABLES):
        reg.register(name, table_path(sf_dir, name))
        first = reg.sync(name, fetch_min_max=False)
        second = reg.sync(name, fetch_min_max=False)
        rows.append(
            (
                name,
                first.removed,
                bool(second.noop),
                bool(len(reg.shards(name)) == first.added),
            )
        )
    return local_frame(
        spark,
        rows,
        "table_name string, first_removed long, "
        "rerun_noop boolean, catalog_matches_fs boolean",
    )


@register(
    "q95_compaction_lifecycle",
    oracle="""
    SELECT 'docs' AS table_name,
           CAST(4 AS BIGINT) AS files_in,
           CAST(1 AS BIGINT) AS files_out,
           TRUE AS rows_preserved,
           TRUE AS resync_noop,
           TRUE AS version_advanced
    """,
    tags=("registry", "compaction", "l3"),
)
def q95_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end as a checkable row: shred the
    documents table into small shards, sync, compact, and report the
    file-count collapse plus the invariants that make compaction safe —
    row counts identical before/after, the post-compact catalog matches
    the FS exactly (re-sync no-op), and the catalog version advanced
    atomically.  The registry has no SQL twin, so the oracle pins the
    contract: the query itself constructs exactly 4 input shards
    (`repartition(4)`), and the whole table fits one 1 GiB target bin, so
    files_in/files_out are deterministic alongside the three invariants.

    Scale: this is the operator that keeps O(#files) driver/NameNode state
    bounded at 100 TB; each bin rewrite is a narrow coalesce(1) job."""
    import shutil

    from hadoop_sync_spark.registry import Registry

    scratch = _scratch_meta_dir(sf_dir + "#compaction")
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir = os.path.join(scratch, "data")
    meta_dir = os.path.join(scratch, "meta")
    (
        t(spark, sf_dir, "documents")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(data_dir)
    )

    reg = Registry(spark, meta_dir)
    reg.register("docs", data_dir)
    synced = reg.sync("docs")
    rows_before = reg.read("docs").count()
    v_before = reg._current_version()

    c = reg.compact("docs", target_bytes=1 << 30)
    rows_after = reg.read("docs").count()
    resync = reg.sync("docs")

    return local_frame(
        spark,
        [
            (
                "docs",
                # files_in per the catalog AND per the compactor must agree
                c.files_in if c.files_in == synced.added else -1,
                c.files_out,
                bool(rows_before == rows_after),
                bool(resync.noop),
                bool(reg._current_version() > v_before),
            )
        ],
        "table_name string, files_in long, files_out long, "
        "rows_preserved boolean, resync_noop boolean, version_advanced boolean",
    )


# --------------------------------------------------------------------------
# q100 — column profile: the A17 stats scan, generalized
# --------------------------------------------------------------------------
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _sql_profile_one(col: str) -> str:
    return f"""
    SELECT column_name, stat, value FROM (
        WITH x AS (SELECT {col} AS x FROM lineitem),
        b AS (
            SELECT COUNT(*) AS n,
                   SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS nulls,
                   COUNT(DISTINCT x) AS nd,
                   MIN(x) AS mn, MAX(x) AS mx,
                   SUM(CAST(ROUND(x * 100) AS BIGINT)) AS s
            FROM x
        )
        SELECT '{col}' AS column_name, 'n' AS stat, CAST(n AS DOUBLE) AS value FROM b
        UNION ALL SELECT '{col}', 'nulls', CAST(nulls AS DOUBLE) FROM b
        UNION ALL SELECT '{col}', 'n_distinct', CAST(nd AS DOUBLE) FROM b
        UNION ALL SELECT '{col}', 'min', CAST(mn AS DOUBLE) FROM b
        UNION ALL SELECT '{col}', 'max', CAST(mx AS DOUBLE) FROM b
        UNION ALL SELECT '{col}', 'mean', CAST(s AS DOUBLE) / 100.0 / n FROM b
        UNION ALL
        SELECT '{col}', 'h' || CAST(bkt AS VARCHAR), CAST(COUNT(*) AS DOUBLE)
        FROM (
            SELECT COALESCE(LEAST(7, CAST(FLOOR((x - mn) / NULLIF(mx - mn, 0)
                                               * 8) AS INT)), 0) AS bkt
            FROM x, b
        ) GROUP BY bkt
    )
    """


@register(
    "q100_column_profile",
    oracle=" UNION ALL ".join(_sql_profile_one(c) for c in _PROFILE_COLS),
    tags=("registry", "stats", "profile"),
)
def q100_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the reference's per-shard min/max statistic scan
    (A17, `CitusWorkerNode.java:140-165`) generalized to the profile a
    warehouse catalog actually stores per column: row/null/distinct
    counts, min/max, exact mean, and an 8-bucket equal-width histogram,
    emitted long-form as (column_name, stat, value) rows.

    Exactness: the mean rides the scaled-BIGINT idiom; histogram bucket
    edges are the same IEEE expression on both engines, so assignments
    match bit-for-bit.

    Scale: TWO table passes of real work per run since round 13 (was
    two per column): one aggregation computes every column's bounds /
    counts / distincts together (one Expand handles the multi-distinct),
    and one bucketing pass against the broadcast one-row bounds emits
    all histograms via a per-row struct explode + a single
    (column, bucket) groupBy.  The STATIC plan prints 6 scans — the
    one-row bounds subtree is repeated under the stats branch and the
    broadcast — but AQE's runtime exchange reuse dedups the identical
    subtrees: the executed run completes 17 tasks, exactly the two
    passes.  (Round 14 measured the "obvious" fix — materialize the
    one-row bounds as a local relation — and REJECTED it: splitting the
    action into collect-then-reattach defeats that reuse and ran 77
    tasks, 2.3 s → 4.0 s same-boot.)  Emitted rows are identical
    stat-for-stat; the single-pass alternative to the exact histogram
    remains a t-digest/KLL sketch, which q48's approx-percentile
    contract already covers."""
    li = t(spark, sf_dir, "lineitem")
    from hadoop_sync_spark.queries._util import memo

    def _build():
        bounds_aggs = [F.count("*").alias("n")]
        stat_structs = []
        hist_structs = []
        for c in _PROFILE_COLS:
            x = F.col(c)
            bounds_aggs += [
                F.sum(F.isnull(x).cast("long")).alias(f"nulls_{c}"),
                F.countDistinct(x).alias(f"nd_{c}"),
                F.min(x).alias(f"mn_{c}"),
                F.max(x).alias(f"mx_{c}"),
                F.sum(F.round(x * 100).cast("long")).alias(f"s_{c}"),
            ]
            for stat, v in (
                ("n", F.col("n").cast("double")),
                ("nulls", F.col(f"nulls_{c}").cast("double")),
                ("n_distinct", F.col(f"nd_{c}").cast("double")),
                ("min", F.col(f"mn_{c}").cast("double")),
                ("max", F.col(f"mx_{c}").cast("double")),
                ("mean", F.col(f"s_{c}").cast("double") / 100.0 / F.col("n")),
            ):
                stat_structs.append(
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.lit(stat).alias("stat"),
                        v.alias("value"),
                    )
                )
            bkt = F.coalesce(
                F.least(
                    F.lit(7),
                    F.floor(
                        (x - F.col(f"mn_{c}"))
                        / F.nullif(F.col(f"mx_{c}") - F.col(f"mn_{c}"), F.lit(0))
                        * 8
                    ).cast("int"),
                ),
                F.lit(0),
            )
            hist_structs.append(
                F.struct(
                    F.lit(c).alias("column_name"), bkt.alias("bkt")
                )
            )
        return (
            bounds_aggs,
            F.explode(F.array(*stat_structs)).alias("e"),
            F.explode(F.array(*hist_structs)).alias("e"),
            [F.col(f"mn_{c}") for c in _PROFILE_COLS]
            + [F.col(f"mx_{c}") for c in _PROFILE_COLS],
        )

    bounds_aggs, stat_explode, hist_explode, mnmx = memo("q100", _build)
    b = li.agg(*bounds_aggs)
    stats = b.select(stat_explode).select(
        "e.column_name", "e.stat", "e.value"
    )
    hist = (
        li.select(*_PROFILE_COLS)
        .crossJoin(F.broadcast(b.select(*mnmx)))
        .select(hist_explode)
        .groupBy(
            F.col("e.column_name").alias("column_name"),
            F.col("e.bkt").alias("bkt"),
        )
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            "column_name",
            F.concat(F.lit("h"), F.col("bkt").cast("string")).alias("stat"),
            "value",
        )
    )
    return stats.unionByName(hist)


# --------------------------------------------------------------------------
# q101 — time-travel + retention lifecycle (A23's snapshot face)
# --------------------------------------------------------------------------
@register(
    "q101_time_travel",
    oracle="""
    SELECT 'docs' AS table_name,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
                AS BIGINT) AS rows_v1,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS rows_v2,
           TRUE AS v1_stable_after_v2,
           TRUE AS vacuum_enforces_retention
    """,
    tags=("registry", "time-travel", "vacuum"),
)
def q101_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation and retention as a checkable row: publish v1
    (the even-doc_id half of `documents`), append the odd half and publish
    v2, then assert (a) the v1 snapshot still reads EXACTLY its original
    rows after v2 exists — the transactional-publish mechanism
    (`README.md:15-19`) doubling as time travel — and (b) `vacuum`
    drops v1 past the retention window so reading it fails.  Row counts
    for both versions are data-derived and oracle-checked.

    Scale: each published version is a complete catalog directory (KB of
    metadata, no data copies), so retention cost is O(#versions), not
    O(data)."""
    import shutil

    from hadoop_sync_spark.registry import Registry

    scratch = _scratch_meta_dir(sf_dir + "#timetravel")
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir = os.path.join(scratch, "data")
    meta_dir = os.path.join(scratch, "meta")

    docs = t(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(data_dir)

    reg = Registry(spark, meta_dir)
    reg.register("docs", data_dir)
    reg.sync("docs")
    v1 = reg._current_version()
    rows_v1 = reg.read("docs").count()

    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    reg.sync("docs")
    rows_v2 = reg.read("docs").count()

    v1_stable = reg.read("docs", version=v1).count() == rows_v1

    reg.vacuum(keep_last=1)
    try:
        reg.read("docs", version=v1)
        vacuumed = False
    except Exception:  # noqa: BLE001 — any failure to read = dropped
        vacuumed = True

    return local_frame(
        spark,
        [("docs", rows_v1, rows_v2, bool(v1_stable), bool(vacuumed))],
        "table_name string, rows_v1 long, rows_v2 long, "
        "v1_stable_after_v2 boolean, vacuum_enforces_retention boolean",
    )


# --------------------------------------------------------------------------
# q102 — schema evolution (merged-footer reads, old rows NULL-extended)
# --------------------------------------------------------------------------
@register(
    "q102_schema_evolution",
    oracle="""
    SELECT 'docs' AS table_name,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 1)
                AS BIGINT) AS n_scored,
           CAST((SELECT SUM(doc_id % 100) FROM documents
                 WHERE doc_id % 2 = 1) AS BIGINT) AS score_sum,
           TRUE AS old_rows_null_extended
    """,
    tags=("registry", "schema-evolution"),
)
def q102_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: shards written under the ORIGINAL
    schema coexist with shards that carry a new `score` column; a
    `merge_schema=True` catalog read surfaces the union schema with old
    rows NULL-extended — append-style corpus evolution without rewriting
    history.  The scored-row count and the exact score sum are
    data-derived (score = doc_id % 100) and oracle-checked, so a dropped
    column, misaligned footer merge, or default-filled old row all break
    the hash."""
    import shutil

    from hadoop_sync_spark.registry import Registry

    scratch = _scratch_meta_dir(sf_dir + "#schemaevo")
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir = os.path.join(scratch, "data")
    meta_dir = os.path.join(scratch, "meta")

    docs = t(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").coalesce(
        1
    ).write.mode("overwrite").parquet(data_dir)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", (F.col("doc_id") % 100).cast("long").alias("score")
    ).coalesce(1).write.mode("append").parquet(data_dir)

    reg = Registry(spark, meta_dir)
    reg.register("docs", data_dir)
    reg.sync("docs")
    merged = reg.read("docs", merge_schema=True)

    stats = merged.agg(
        F.count("*").alias("n_rows"),
        F.count("score").alias("n_scored"),
        F.sum("score").alias("score_sum"),
        F.sum(
            ((F.col("doc_id") % 2 == 0) & F.col("score").isNotNull()).cast(
                "long"
            )
        ).alias("_old_scored"),
    ).first()

    return local_frame(
        spark,
        [
            (
                "docs",
                stats["n_rows"],
                stats["n_scored"],
                stats["score_sum"],
                bool(stats["_old_scored"] == 0),
            )
        ],
        "table_name string, n_rows long, n_scored long, score_sum long, "
        "old_rows_null_extended boolean",
    )


# --------------------------------------------------------------------------
# q103 — z-order clustering: two-column skipping contract
# --------------------------------------------------------------------------
@register(
    "q103_zorder_box_query",
    oracle="""
    WITH b AS (
        SELECT MAX(l_orderkey) // 10 AS hi_ok,
               MAX(l_partkey)  // 10 AS hi_pk
        FROM lineitem
    )
    SELECT 'lineitem' AS table_name,
           CAST((SELECT COUNT(*) FROM lineitem, b
                 WHERE l_orderkey <= hi_ok AND l_partkey <= hi_pk)
                AS BIGINT) AS box_rows,
           TRUE AS zorder_lossless,
           TRUE AS zorder_serves_both_columns
    """,
    tags=("registry", "zorder", "skipping"),
)
def q103_zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column clustering as a judged row: write lineitem z-ordered
    on (l_orderkey, l_partkey) next to a single-column linear sort, and
    assert the property z-ordering exists for — ONE layout serving
    selective queries on BOTH columns.  Footer-stat file skipping is
    measured for a bottom-decile range on each column separately; the
    contract is that the z-layout's TOTAL files-hit across the two
    queries is at most the linear layout's total (linear prunes its sort
    column perfectly but must read every file for the other column —
    16 + ~2 files here vs the z-curve's balanced ~6 + ~6).  The two-column
    box answer from the clustered copy is also checked lossless against
    the oracle's plain scan.

    Scale: the write is one range-partition shuffle on the z-value; the
    skipping arithmetic reads only parquet footers (O(#files)), the same
    stats machinery the registry's A17 pruning uses."""
    import shutil

    import pyarrow.parquet as pq

    scratch = _scratch_meta_dir(sf_dir + "#zorder")
    shutil.rmtree(scratch, ignore_errors=True)
    zdir = os.path.join(scratch, "z")
    ldir = os.path.join(scratch, "linear")

    from hadoop_sync_spark.functions.zorder import write_zordered

    cols = ["l_orderkey", "l_partkey"]
    li = t(spark, sf_dir, "lineitem").select(*cols)
    n_files = 16
    write_zordered(li, cols, zdir, n_files)
    (
        li.repartitionByRange(n_files, cols[0])
        .sortWithinPartitions(cols[0])
        .write.mode("overwrite")
        .parquet(ldir)
    )

    mx = li.agg(
        F.max(cols[0]).alias("mo"), F.max(cols[1]).alias("mp")
    ).first()
    # bottom decile per column, integer bounds (exact in both engines)
    hi = {cols[0]: mx["mo"] // 10, cols[1]: mx["mp"] // 10}

    box = (F.col(cols[0]) <= hi[cols[0]]) & (F.col(cols[1]) <= hi[cols[1]])
    box_rows = spark.read.parquet(zdir).filter(box).count()
    plain = li.filter(box).count()

    def file_stats(path: str) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, fn))
            mins = {c: None for c in cols}
            maxs = {c: None for c in cols}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        st = col.statistics
                        if mins[name] is None or st.min < mins[name]:
                            mins[name] = st.min
                        if maxs[name] is None or st.max > maxs[name]:
                            maxs[name] = st.max
            out.append({"mins": mins, "maxs": maxs})
        return out

    def hit_one_col(stats: list[dict], c: str) -> int:
        return sum(
            1
            for f in stats
            if f["mins"][c] is None or f["mins"][c] <= hi[c]
        )

    z_stats, l_stats = file_stats(zdir), file_stats(ldir)
    z_total = sum(hit_one_col(z_stats, c) for c in cols)
    l_total = sum(hit_one_col(l_stats, c) for c in cols)

    return local_frame(
        spark,
        [
            (
                "lineitem",
                box_rows,
                bool(box_rows == plain),
                bool(z_total <= l_total),
            )
        ],
        "table_name string, box_rows long, zorder_lossless boolean, "
        "zorder_serves_both_columns boolean",
    )


# --------------------------------------------------------------------------
# q104 — multi-format sink/source round trip (CSV / JSON / ORC)
# --------------------------------------------------------------------------
@register(
    "q104_format_roundtrip",
    oracle="""
    WITH base AS (
        SELECT * FROM lineitem WHERE l_orderkey % 50 = 0
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS price_cents,
               CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags
        FROM base
    )
    SELECT fmt, n_rows, price_cents, n_flags, TRUE AS roundtrip_ok
    FROM (VALUES ('csv'), ('json'), ('orc')) AS f(fmt), agg
    """,
    tags=("io", "sinks", "roundtrip"),
)
def q104_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sources/sinks as a judged row: the same lineitem slice is written
    to CSV, JSON, and ORC through `sinks.write_table` (lossless-CSV
    contract: header, quote-escape, NULL-vs-empty markers, no trimming),
    read back with the EXPLICIT schema (`sinks.read_table` refuses
    inference for text formats — the registry, not the data, owns types),
    and re-aggregated.  One output row per format carries the row count,
    the exact scaled-cents revenue sum, and the distinct-flag count; the
    oracle computes the same values straight from the base parquet, so a
    single bit lost by any format's serializer breaks the hash.
    `roundtrip_ok` additionally pins full-row fidelity: the re-read frame
    EXCEPT the original slice must be empty both ways.

    Scale: each write is one narrow pass (no shuffle); `exceptAll` is the
    only exchange and exists solely for the fidelity proof."""
    from hadoop_sync_spark.sinks import read_table, write_table

    scratch = _scratch_meta_dir(sf_dir + "#roundtrip")
    cols = "l_orderkey long, l_quantity double, l_extendedprice double, " \
           "l_returnflag string"
    base = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
        )
    )
    rows = []
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(scratch, fmt)
        write_table(base, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt, schema=cols)
        agg = back.agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents"),
            F.countDistinct("l_returnflag").alias("flags"),
        ).first()
        lossless = (
            back.exceptAll(base).count() == 0
            and base.exceptAll(back).count() == 0
        )
        rows.append(
            (fmt, agg["n"], agg["cents"], int(agg["flags"]), bool(lossless))
        )
    return local_frame(
        spark,
        rows,
        "fmt string, n_rows long, price_cents long, n_flags long, "
        "roundtrip_ok boolean",
    )
