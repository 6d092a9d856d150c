#!/usr/bin/env python
"""Round-12 DML write-face scale study (SCALING.md evidence).

Measures the axes VERDICT r11 item 6 asked for, on fresh tables per
run (median of 3 where cheap, single where the build dominates):

1. delete_where matched-rows sweep — FIXED 2.4M-row table, predicate
   matching 120k rows (driver tier) vs 1.2M rows (over the 1M cap →
   round-12 EXECUTOR tier): the scale claim is that the executor tier
   stays near-linear in matched rows with no driver blowup.
2. merge_upsert source-batch sweep — FIXED 600k-row target, source
   batch 1k vs 10k rows: wall clock should track the source.
3. read_changes DV-growth — one table, delete commits growing the DV
   set 10×: the CDC read should track the DV rows, not the table.
4. changelog_scan — same grid as 3 on the Iceberg twin: events from a
   delete snapshot are a targeted-subset diff, so growing the UNTOUCHED
   part of the table 10× must NOT grow the scan.

Run on a QUIET box; prints a markdown-ready table per axis.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import json

from pyspark.sql import functions as F

from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
from hadoop_sync_spark.io import write_parquet
from hadoop_sync_spark.session import get_spark

SCHEMA = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    ],
})


def _mk_delta(spark, d, n_rows, n_files):
    os.makedirs(d)
    log = DeltaLog(d)
    per = n_rows // n_files
    acts = [{"protocol": {"minReaderVersion": 1}},
            {"metaData": {"id": "t",
                          "format": {"provider": "parquet",
                                     "options": {}},
                          "schemaString": SCHEMA,
                          "partitionColumns": [],
                          "configuration": {}}}]
    for i in range(n_files):
        rel = f"f{i}.parquet"
        df = spark.range(i * per, (i + 1) * per).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        write_parquet(df, os.path.join(d, rel))
        acts.append(log.add_action_for(rel))
    log.commit(0, acts)
    return log


def _mk_ice(spark, d, n_rows, n_files):
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint")], now_ms=1000)
    per = n_rows // n_files
    dfs = []
    for i in range(n_files):
        rel = f"data/f{i}.parquet"
        df = spark.range(i * per, (i + 1) * per).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        p = os.path.join(d, rel)
        write_parquet(df, p)
        dfs.append(DataFile(rel, {}, per, os.path.getsize(p)))
    t.append(dfs, now_ms=2000)
    return t


def _med(fn, runs=3):
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def main():
    spark = get_spark(app_name="dml-scale-study")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="dml_scale_")
    try:
        # ---- 1. delete_where matched-rows sweep (driver vs executor)
        rows = []
        for label, match in (("120k (driver tier)", 120_000),
                             ("1.2M (EXECUTOR tier)", 1_200_000)):
            d = os.path.join(root, f"del_{match}")
            log = _mk_delta(spark, d, 2_400_000, 8)
            t0 = time.perf_counter()
            res = log.delete_where(spark, {"k": (0, match - 1)},
                                   now_ms=10_000)
            dt = time.perf_counter() - t0
            assert res["rows_deleted"] == match
            rows.append((label, dt))
            shutil.rmtree(d)
        print("\n## delete_where matched-rows sweep "
              "(fixed 2.4M-row / 8-file Delta table)")
        for label, dt in rows:
            print(f"| {label} | {dt:.2f} s |")
        r = rows[1][1] / rows[0][1]
        print(f"ratio at 10x matched rows: {r:.2f}x")

        # ---- 2. merge_upsert source-batch sweep (fixed target)
        for fmt in ("delta", "iceberg"):
            rows = []
            for label, batch in (("1k", 1_000), ("10k", 10_000)):
                d = os.path.join(root, f"mrg_{fmt}_{batch}")
                tbl = (_mk_delta if fmt == "delta" else _mk_ice)(
                    spark, d, 600_000, 4)
                src = spark.range(0, batch).select(
                    F.col("id").alias("k"),
                    (F.col("id") + 7).alias("v"))
                t0 = time.perf_counter()
                tbl.merge_upsert(spark, src, "k", now_ms=20_000)
                dt = time.perf_counter() - t0
                rows.append((label, dt))
                shutil.rmtree(d)
            print(f"\n## merge_upsert source sweep ({fmt}, fixed "
                  "600k-row target)")
            for label, dt in rows:
                print(f"| {label} source | {dt:.2f} s |")
            print(f"ratio at 10x source: {rows[1][1]/rows[0][1]:.2f}x")

        # ---- 3. read_changes DV-growth (Delta)
        rows = []
        for label, n_del in (("6k DV rows", 6_000),
                             ("60k DV rows", 60_000)):
            d = os.path.join(root, f"cdf_{n_del}")
            log = _mk_delta(spark, d, 600_000, 4)
            # three delete commits growing the DV set
            for j in range(3):
                log.delete_where(
                    spark,
                    {"k": (j * n_del // 3, (j + 1) * n_del // 3 - 1)},
                    now_ms=30_000 + j)
            dt = _med(lambda: log.read_changes(spark, 1).select(
                F.count("*")).collect())
            rows.append((label, dt))
            shutil.rmtree(d)
        print("\n## read_changes DV-growth (fixed 600k-row table, "
              "3-commit range)")
        for label, dt in rows:
            print(f"| {label} | {dt:.2f} s |")
        print(f"ratio at 10x DV rows: {rows[1][1]/rows[0][1]:.2f}x")

        # ---- 4. changelog_scan: targeted diff must not grow with the
        # untouched table (fixed 6k-row delete touching ONE 75k-row
        # file; the table grows 10x in FILE COUNT at constant file
        # size, so a table-size dependence would show while the
        # targeted bytes stay fixed — the visibility diff's cost model
        # is O(targeted file bytes), never O(table))
        rows = []
        for label, n_rows, n_files in (("600k rows / 8 files",
                                        600_000, 8),
                                       ("6M rows / 80 files",
                                        6_000_000, 80)):
            d = os.path.join(root, f"clog_{n_rows}")
            t = _mk_ice(spark, d, n_rows, n_files)
            s1 = t.snapshot()["snapshot-id"]
            t.delete_rows(spark, {"k": (0, 5_999)}, now_ms=30_000)
            dt = _med(lambda: t.changelog_scan(spark, s1).select(
                F.count("*")).collect())
            rows.append((label, dt))
            shutil.rmtree(d)
        print("\n## changelog_scan table-growth (fixed 6k-row delete "
              "snapshot)")
        for label, dt in rows:
            print(f"| {label} | {dt:.2f} s |")
        print(f"ratio at 10x table: {rows[1][1]/rows[0][1]:.2f}x")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
