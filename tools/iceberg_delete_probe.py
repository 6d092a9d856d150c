#!/usr/bin/env python
"""Iceberg merge-on-read read cost against the number of delete files.

Builds one table of 8 data files x 5,000 rows, then commits one-row
position deletes (``add_position_deletes``) until the table holds k
delete files, for each k in ``--ks``.  For each k it prints the number
of joins in ``read()``'s optimized plan, the number of LEFT ANTI joins
among them, and the median wall time of 3 ``read().count()`` runs in
one Spark session.

With one delete-apply the plan holds the partition/lineage attach join
plus ONE position-delete anti-join whatever k is, so the read time
stays flat in k; with one anti-join per delete file it grows linearly.

``--big N[,N...]`` then builds, for each N, a table of 8 data files x
125,000 rows with ONE position-delete file of N rows spread over them,
and prints the same columns for it: the read cost of large delete
sets, where reading the delete rows on the driver or on the executors
makes the difference.

Writes only under OUT (the table directories are ``OUT/probe`` and
``OUT/big``)::

    python tools/iceberg_delete_probe.py OUT [--ks 0,1,8,32,64]
        [--big 200000,800000] [--master local[2]]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FILES, ROWS, BIG_ROWS = 8, 5_000, 125_000


def _plan_joins(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    return (sum(" Join " in ln for ln in lines),
            sum("LeftAnti" in ln for ln in lines))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out", help="directory the probe table is written under")
    ap.add_argument("--ks", default="0,1,8,32,64",
                    help="delete-file counts to measure (ascending)")
    ap.add_argument("--big", default="",
                    help="rows of one large position-delete file, per case")
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args(argv)
    ks = sorted(int(k) for k in args.ks.split(","))
    bigs = [int(n) for n in args.big.split(",") if n]

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable

    spark = (SparkSession.builder.master(args.master)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.local.dir", os.path.join(args.out, "spark-local"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def table(name, rows):
        d = os.path.join(args.out, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "data"))
        t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                                now_ms=1)
        files = []
        for i in range(FILES):
            rel = f"data/f{i}.parquet"
            ks_ = range(i * rows, (i + 1) * rows)
            pq.write_table(pa.table({"k": pa.array(ks_, pa.int64()),
                                     "v": pa.array(ks_, pa.int64())}),
                           os.path.join(d, rel))
            files.append(DataFile(rel, {}, rows,
                                  os.path.getsize(os.path.join(d, rel))))
        t.append(files, now_ms=2)
        t.read(spark).count()  # warm the session
        return t

    def measure(t, label, expect):
        joins, anti = _plan_joins(t.read(spark))
        times, rows = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = t.read(spark).count()
            times.append(time.perf_counter() - t0)
        assert rows == expect, (rows, expect)
        print(f"| {label} | {rows} | {joins} | {anti} | "
              f"{statistics.median(times):.2f} s |", flush=True)

    print("| k | rows | joins | anti-joins | read().count() median of 3 |")
    print("|---|---|---|---|---|")
    t = table("probe", ROWS)
    have = 0
    for k in ks:
        while have < k:
            # one row per delete file, spread over the data files
            t.add_position_deletes(
                [(f"data/f{have % FILES}.parquet", have // FILES)],
                now_ms=10 + have)
            have += 1
        measure(t, k, FILES * ROWS - k)
    for n in bigs:
        # one delete file of n rows, every step-th row of each data file
        per_file = -(-n // FILES)
        step = max(1, BIG_ROWS // per_file)
        t = table("big", BIG_ROWS)
        t.add_position_deletes(
            [(f"data/f{i % FILES}.parquet", (i // FILES) * step)
             for i in range(n)],
            now_ms=10)
        measure(t, f"1 file x {n} rows", FILES * BIG_ROWS - n)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
