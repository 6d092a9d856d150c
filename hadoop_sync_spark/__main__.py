"""CLI entry point mirroring the reference's `main` (A29,
`HdfsSynchronizer.java:50-80`): sync one registered table, optionally
collecting min/max statistics.

    python -m hadoop_sync_spark sync  <meta_dir> <table> [--fetch-min-max]
    python -m hadoop_sync_spark register <meta_dir> <table> <data_path>
                                        [--partition-column COL]
                                        [--format dir|delta|iceberg]
    python -m hadoop_sync_spark diff  <meta_dir> <table>
    python -m hadoop_sync_spark vacuum <meta_dir> [--keep-last N]
    python -m hadoop_sync_spark compact <meta_dir> <table>
                                        [--target-bytes N] [--min-group N]
    python -m hadoop_sync_spark maintain <meta_dir> <table>
                                        [--expire-keep-last N] [--expire-log]
                                        [--remove-dangling-deletes] [--vacuum]
    python -m hadoop_sync_spark ddl <meta_dir> <table>
                                        [--add-column NAME TYPE]
                                        [--drop-column NAME]
                                        [--rename-column OLD NEW]
                                        [--promote-column NAME TYPE]
                                        [--create-tag NAME | --create-branch
                                         NAME [--at-snapshot ID]]
                                        [--drop-ref NAME]
                                        [--evolve-spec
                                         [--partition-field COL TYPE
                                          TRANSFORM]...]
        (iceberg: every flag; delta: --add-column, --drop-column and
         --rename-column — drop/rename need column mapping — the other
         flags refuse up front, applying nothing)
    python -m hadoop_sync_spark delete <meta_dir> <table>
                                        --where COL LO HI [--where ...]
        (merge-on-read row-level DELETE: delta writes deletion
         vectors, iceberg one position-delete file; 'null' for a
         half-open bound)
    python -m hadoop_sync_spark update <meta_dir> <table>
                                        --where COL LO HI [--where ...]
                                        --set COL VALUE [--set ...]
        (merge-on-read row-level UPDATE: matched rows delete via
         DV/position file and their updated copies append, one commit)
    python -m hadoop_sync_spark restore <meta_dir> <table>
                                        (--version N | --snapshot ID)
        (undo a bad commit: delta RESTOREs to log version N in one
         head commit, iceberg rolls the current-snapshot pointer back;
         history stays time-travelable until expired)
    python -m hadoop_sync_spark merge <meta_dir> <table> <source.parquet>
                                        --key COL
        (MERGE/upsert a parquet batch: iceberg commits source file +
         equality delete in one snapshot with zero target scan; delta
         key-scans, DVs the matches and appends)

Exit codes: 0 success (including no-op sync, `README.md:10-13`), 1 usage
error, 2 runtime failure (catalog left at its previous version —
`README.md:15-19`).  Exception (ADVICE r10): a multi-flag `ddl`
invocation applies each action as its OWN metadata commit in the listed
order, printing each as it lands — a later flag's failure exits 2 with
the earlier, already-printed actions durably applied (table-format DDL
commits are not transactional across actions; re-run the failed flags
alone after fixing the input).
"""

from __future__ import annotations

import argparse
import json
import sys

from hadoop_sync_spark.registry import Registry
from hadoop_sync_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hadoop_sync_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    reg_p = sub.add_parser("register", help="bind a table to a data path")
    reg_p.add_argument("meta_dir")
    reg_p.add_argument("table")
    reg_p.add_argument("data_path")
    reg_p.add_argument("--partition-column", default=None)
    reg_p.add_argument(
        "--format",
        choices=("dir", "delta", "iceberg"),
        default="dir",
        help="'delta'/'iceberg' treat data_path as an open-format table: "
        "diff/sync track the current snapshot's live files (transaction "
        "log / manifest tree) instead of the raw directory walk",
    )

    sync_p = sub.add_parser("sync", help="incremental diff-sync one table")
    sync_p.add_argument("meta_dir")
    sync_p.add_argument("table")
    sync_p.add_argument(
        "--fetch-min-max",
        action="store_true",
        help="record partition-column min/max for new shards, read from "
        "parquet footers (a Spark scan only for files whose footer cannot "
        "be trusted); enables pruned queries",
    )

    diff_p = sub.add_parser("diff", help="show the pending FS-vs-catalog diff")
    diff_p.add_argument("meta_dir")
    diff_p.add_argument("table")

    vac_p = sub.add_parser(
        "vacuum", help="drop catalog snapshots older than the newest N"
    )
    vac_p.add_argument("meta_dir")
    vac_p.add_argument("--keep-last", type=int, default=3)

    cmp_p = sub.add_parser(
        "compact", help="bin-pack small shards into ~target-size files"
    )
    cmp_p.add_argument("meta_dir")
    cmp_p.add_argument("table")
    cmp_p.add_argument(
        "--target-bytes", type=int, default=128 << 20, help="bin size cap"
    )
    cmp_p.add_argument(
        "--min-group",
        type=int,
        default=2,
        help="only rewrite bins holding at least this many files",
    )

    mnt_p = sub.add_parser(
        "maintain",
        help="format-native maintenance for delta/iceberg tables "
        "(snapshot/log expiry, dangling-delete cleanup, data-file vacuum)",
    )
    mnt_p.add_argument("meta_dir")
    mnt_p.add_argument("table")
    mnt_p.add_argument(
        "--expire-keep-last",
        type=int,
        default=None,
        help="iceberg: expire all but the newest N snapshots",
    )
    mnt_p.add_argument(
        "--expire-log",
        action="store_true",
        help="delta: delete commit JSONs below the newest checkpoint",
    )
    mnt_p.add_argument(
        "--remove-dangling-deletes",
        action="store_true",
        help="iceberg: drop delete files that affect no live data file",
    )
    mnt_p.add_argument(
        "--vacuum",
        action="store_true",
        help="delete data files no surviving snapshot references",
    )

    ddl_p = sub.add_parser(
        "ddl",
        help="schema/ref DDL for a registered format table "
        "(metadata-only; run `sync` afterwards to refresh the catalog). "
        "iceberg: all flags; delta: --add-column/--drop-column/"
        "--rename-column (drop/rename need column mapping), the rest "
        "refuse",
    )
    ddl_p.add_argument("meta_dir")
    ddl_p.add_argument("table")
    ddl_p.add_argument(
        "--add-column", nargs=2, metavar=("NAME", "SPARK_TYPE"),
        default=None,
    )
    ddl_p.add_argument("--drop-column", metavar="NAME", default=None)
    ddl_p.add_argument(
        "--rename-column", nargs=2, metavar=("OLD", "NEW"), default=None
    )
    ddl_p.add_argument(
        "--promote-column", nargs=2, metavar=("NAME", "SPARK_TYPE"),
        default=None,
    )
    ddl_p.add_argument("--create-tag", metavar="NAME", default=None)
    ddl_p.add_argument("--create-branch", metavar="NAME", default=None)
    ddl_p.add_argument(
        "--at-snapshot", type=int, default=None,
        help="snapshot id for --create-tag/--create-branch "
        "(default: current)",
    )
    ddl_p.add_argument("--drop-ref", metavar="NAME", default=None)
    ddl_p.add_argument(
        "--evolve-spec", action="store_true",
        help="iceberg: make the --partition-field list the table's "
        "new default partition spec (spec evolution, zero data "
        "rewrites; no --partition-field = unpartitioned)",
    )
    ddl_p.add_argument(
        "--partition-field", nargs=3,
        metavar=("COL", "RESULT_TYPE", "TRANSFORM"), action="append",
        default=None,
        help="a field of the new spec, repeatable (TRANSFORM: "
        "identity, year/month/day/hour, bucket[N], truncate[W])",
    )

    del_p = sub.add_parser(
        "delete",
        help="row-level DELETE WHERE on a registered format table "
        "(merge-on-read: delta writes deletion vectors, iceberg a "
        "position-delete file; run `sync` afterwards to refresh the "
        "catalog)",
    )
    del_p.add_argument("meta_dir")
    del_p.add_argument("table")
    del_p.add_argument(
        "--where", nargs=3, metavar=("COL", "LO", "HI"), action="append",
        required=True,
        help="range predicate, conjunctive when repeated; LO/HI accept "
        "'null' for a half-open bound; values parse as int, then "
        "float, then string",
    )

    upd_p = sub.add_parser(
        "update",
        help="row-level UPDATE SET ... WHERE on a registered format "
        "table (merge-on-read: matched rows delete via DV/position "
        "file, updated copies append — one commit)",
    )
    upd_p.add_argument("meta_dir")
    upd_p.add_argument("table")
    upd_p.add_argument(
        "--where", nargs=3, metavar=("COL", "LO", "HI"), action="append",
        required=True,
    )
    upd_p.add_argument(
        "--set", nargs=2, metavar=("COL", "VALUE"), action="append",
        required=True, dest="set_",
        help="constant assignment, repeatable; VALUE parses as int, "
        "then float, then string",
    )

    rst_p = sub.add_parser(
        "restore",
        help="undo a bad commit on a registered format table: delta "
        "RESTOREs to --version (one commit re-establishing the old "
        "state at the log head), iceberg rolls the current snapshot "
        "back to --snapshot (metadata-only pointer swap); history "
        "stays time-travelable until expired",
    )
    rst_p.add_argument("meta_dir")
    rst_p.add_argument("table")
    rst_p.add_argument("--version", type=int, metavar="N",
                       help="delta: target log version")
    rst_p.add_argument("--snapshot", type=int, metavar="ID",
                       help="iceberg: target snapshot id")
    rst_p.add_argument("--timestamp", type=int, metavar="MS",
                       help="either format: restore to the state at "
                       "this epoch-millisecond instant")

    chg_p = sub.add_parser(
        "changes",
        help="row-level change feed of a registered format table "
        "(delta: read_changes over the log/CDC files tagged "
        "_change_type/_commit_version; iceberg: changelog_scan "
        "between snapshots tagged _change_type/_snapshot_id)",
    )
    chg_p.add_argument("meta_dir")
    chg_p.add_argument("table")
    chg_p.add_argument("--from", dest="from_", type=int, required=True,
                       metavar="N",
                       help="delta: starting log version (inclusive); "
                       "iceberg: cursor snapshot id (exclusive)")
    chg_p.add_argument("--to", type=int, metavar="N",
                       help="end version/snapshot (default: current)")
    chg_p.add_argument("--limit", type=int, default=20,
                       help="rows to print (default 20)")

    stm_p = sub.add_parser(
        "stream",
        help="drain a parquet source directory into a registered "
        "format table EXACTLY ONCE via Structured Streaming "
        "(delta: txn-action watermark; iceberg: snapshot-summary "
        "epoch watermark) — re-running, even after deleting the "
        "checkpoint, never duplicates rows",
    )
    stm_p.add_argument("meta_dir")
    stm_p.add_argument("table")
    stm_p.add_argument("source", help="parquet directory to tail")
    stm_p.add_argument("--checkpoint", required=True,
                       help="stream checkpoint directory")
    stm_p.add_argument("--app-id", default="hadoop-sync-stream",
                       help="writer identity the idempotence keys on "
                       "(default hadoop-sync-stream)")

    mrg_p = sub.add_parser(
        "merge",
        help="MERGE/upsert a parquet source batch into a registered "
        "format table keyed on one column (iceberg: one snapshot = "
        "source file + equality delete, zero target scan; delta: "
        "key-only pruned scan + DVs + append)",
    )
    mrg_p.add_argument("meta_dir")
    mrg_p.add_argument("table")
    mrg_p.add_argument("source", help="parquet file/dir with exactly "
                       "the table's data columns")
    mrg_p.add_argument("--key", required=True, metavar="COL")

    try:
        args = p.parse_args(argv)
    except SystemExit:
        return 1

    spark = get_spark(app_name="hadoop-sync-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    reg = Registry(spark, args.meta_dir)
    try:
        if args.cmd == "register":
            if args.format in ("delta", "iceberg"):
                if args.partition_column:
                    print(
                        "--partition-column is not supported with "
                        f"--format {args.format}",
                        file=sys.stderr,
                    )
                    return 1
                if args.format == "delta":
                    reg.register_delta(args.table, args.data_path)
                else:
                    reg.register_iceberg(args.table, args.data_path)
            else:
                reg.register(
                    args.table,
                    args.data_path,
                    partition_column=args.partition_column,
                )
            print(f"registered {args.table} -> {args.data_path}")
        elif args.cmd == "sync":
            r = reg.sync(args.table, fetch_min_max=args.fetch_min_max)
            if r.noop:
                print(f"{args.table}: catalog already current (no-op)")
            else:
                print(
                    f"{args.table}: +{r.added} -{r.removed} shards, "
                    f"published v{r.version}"
                )
        elif args.cmd == "vacuum":
            removed = reg.vacuum(keep_last=args.keep_last)
            print(
                f"vacuumed {len(removed)} snapshot(s); "
                f"{len(reg.versions())} retained"
            )
        elif args.cmd == "compact":
            c = reg.compact(
                args.table,
                target_bytes=args.target_bytes,
                min_group=args.min_group,
            )
            if c.noop:
                print(f"{args.table}: nothing to compact (no-op)")
            else:
                print(
                    f"{args.table}: {c.files_in} files -> {c.files_out} "
                    f"({c.bytes_in} bytes in {c.groups} group(s)), "
                    f"published v{c.version}"
                )
        elif args.cmd == "maintain":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("delta", "iceberg"):
                raise ValueError(
                    f"maintain is for format tables; {args.table!r} is "
                    "a plain directory — use vacuum/compact"
                )
            import time as _time

            if fmt == "iceberg" and args.expire_log:
                raise ValueError("--expire-log is a delta operation")
            if fmt == "delta" and args.expire_keep_last is not None:
                raise ValueError(
                    "--expire-keep-last is an iceberg operation; "
                    "delta uses --expire-log"
                )
            if fmt == "delta" and args.remove_dangling_deletes:
                raise ValueError(
                    "--remove-dangling-deletes is an iceberg operation"
                )
            did_something = False
            if fmt == "iceberg":
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                it = IcebergTable(rec["dir_path"])
                if args.expire_keep_last is not None:
                    ex = it.expire_snapshots(
                        keep_last=args.expire_keep_last,
                        now_ms=int(_time.time() * 1000),
                    )
                    print(f"expired {len(ex)} snapshot(s)")
                    did_something = True
                if args.remove_dangling_deletes:
                    dropped = it.remove_dangling_deletes(
                        now_ms=int(_time.time() * 1000)
                    )
                    print(f"dropped {len(dropped)} dangling delete file(s)")
                    did_something = True
                if args.vacuum:
                    removed = it.vacuum()
                    print(f"vacuumed {len(removed)} unreferenced file(s)")
                    did_something = True
            else:
                from hadoop_sync_spark.delta_log import DeltaLog

                log = DeltaLog(rec["dir_path"])
                if args.expire_log:
                    ex = log.expire_log()
                    print(f"expired {len(ex)} commit(s) below checkpoint")
                    did_something = True
                if args.vacuum:
                    removed = log.vacuum()
                    print(f"vacuumed {len(removed)} unreferenced file(s)")
                    did_something = True
            if not did_something:
                print("nothing to do (pass at least one maintenance flag)")
        elif args.cmd == "ddl":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    "ddl is for format tables (iceberg or delta); "
                    f"{args.table!r} is a plain directory"
                )
            import time as _time

            now = int(_time.time() * 1000)
            if fmt == "delta":
                # the Delta write face covers add/drop/rename (round
                # 11; drop/rename need column mapping); the remaining
                # flags are Iceberg concepts (field-id lattice
                # promotion, refs) — refuse UP FRONT so a mixed
                # invocation applies nothing
                unsupported = [
                    flag for flag, val in (
                        ("--promote-column", args.promote_column),
                        ("--create-tag", args.create_tag),
                        ("--create-branch", args.create_branch),
                        ("--at-snapshot", args.at_snapshot),
                        ("--drop-ref", args.drop_ref),
                        ("--evolve-spec",
                         args.evolve_spec or None),
                        ("--partition-field", args.partition_field),
                    ) if val is not None
                ]
                if unsupported:
                    raise ValueError(
                        f"delta ddl supports --add-column, "
                        f"--drop-column and --rename-column only; "
                        f"{', '.join(unsupported)} "
                        "not supported for delta tables"
                    )
                from hadoop_sync_spark.delta_log import DeltaLog

                log = DeltaLog(rec["dir_path"])
                did = 0
                if args.add_column:
                    fid = log.add_column(*args.add_column, now_ms=now)
                    suffix = (
                        f" (field id {fid})" if fid is not None else ""
                    )
                    print(f"added {args.add_column[0]}{suffix}")
                    did += 1
                if args.drop_column:
                    log.drop_column(args.drop_column, now_ms=now)
                    print(f"dropped {args.drop_column}")
                    did += 1
                if args.rename_column:
                    log.rename_column(*args.rename_column, now_ms=now)
                    print(
                        f"renamed {args.rename_column[0]} -> "
                        f"{args.rename_column[1]}"
                    )
                    did += 1
                if not did:
                    print("nothing to do (pass at least one DDL flag)")
                else:
                    print("hint: run `sync` to refresh the catalog")
                return 0

            from hadoop_sync_spark.iceberg_meta import IcebergTable

            if args.partition_field and not args.evolve_spec:
                # UP FRONT, before any DDL op commits — a mixed
                # invocation must refuse applying nothing (review: the
                # late check let earlier flags land before the exit 2)
                raise ValueError(
                    "--partition-field needs --evolve-spec"
                )
            it = IcebergTable(rec["dir_path"])
            # each action prints AS IT LANDS: DDL ops commit their own
            # metadata versions, so a later flag's failure must not
            # hide the earlier flags' already-applied commits
            did = 0
            if args.add_column:
                fid = it.add_column(*args.add_column, now_ms=now)
                print(f"added {args.add_column[0]} (field id {fid})")
                did += 1
            if args.drop_column:
                it.drop_column(args.drop_column, now_ms=now)
                print(f"dropped {args.drop_column}")
                did += 1
            if args.rename_column:
                it.rename_column(*args.rename_column, now_ms=now)
                print(
                    f"renamed {args.rename_column[0]} -> "
                    f"{args.rename_column[1]}"
                )
                did += 1
            if args.promote_column:
                it.promote_column(*args.promote_column, now_ms=now)
                print(
                    f"promoted {args.promote_column[0]} to "
                    f"{args.promote_column[1]}"
                )
                did += 1
            if args.create_tag:
                it.create_ref(args.create_tag, "tag",
                              snapshot_id=args.at_snapshot, now_ms=now)
                print(f"tagged {args.create_tag}")
                did += 1
            if args.create_branch:
                it.create_ref(args.create_branch, "branch",
                              snapshot_id=args.at_snapshot, now_ms=now)
                print(f"branched {args.create_branch}")
                did += 1
            if args.drop_ref:
                it.drop_ref(args.drop_ref, now_ms=now)
                print(f"dropped ref {args.drop_ref}")
                did += 1
            if args.evolve_spec:
                new_sid = it.update_spec(
                    [(c, t_, tr) for c, t_, tr
                     in (args.partition_field or [])],
                    now_ms=now,
                )
                print(f"evolved partition spec (spec id {new_sid})")
                did += 1
            if not did:
                print("nothing to do (pass at least one DDL flag)")
            else:
                print("hint: run `sync` to refresh the catalog")
        elif args.cmd in ("delete", "update"):
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    f"{args.cmd} is for format tables (iceberg or "
                    f"delta); {args.table!r} is a plain directory"
                )
            import time as _time

            def _coerce(s: str):
                # ONLY the exact word 'null' means SQL NULL / an open
                # bound — 'none'/'-' stay literal strings (round-11
                # review: a --set value of 'none' must not write NULL)
                if s.lower() == "null":
                    return None
                for cast in (int, float):
                    try:
                        return cast(s)
                    except ValueError:
                        continue
                return s

            # repeated --where on the SAME column conjoins (max of the
            # lows, min of the highs) — silently overwriting the earlier
            # triple would WIDEN a predicate the user meant to narrow
            column_filter: dict = {}
            for col, lo, hi in args.where:
                lo, hi = _coerce(lo), _coerce(hi)
                if col in column_filter:
                    plo, phi = column_filter[col]
                    lo = plo if lo is None else (
                        lo if plo is None else max(plo, lo))
                    hi = phi if hi is None else (
                        hi if phi is None else min(phi, hi))
                column_filter[col] = (lo, hi)
            now = int(_time.time() * 1000)
            if args.cmd == "update":
                set_values = {col: _coerce(v) for col, v in args.set_}
                if fmt == "delta":
                    from hadoop_sync_spark.delta_log import DeltaLog

                    res = DeltaLog(rec["dir_path"]).update_where(
                        spark, column_filter, set_values, now_ms=now
                    )
                    print(
                        f"updated {res['rows_updated']} row(s) across "
                        f"{res['files']} file(s) "
                        f"(+{res['new_files']} new)"
                    )
                else:
                    from hadoop_sync_spark.iceberg_meta import (
                        IcebergTable,
                    )

                    n = IcebergTable(rec["dir_path"]).update_rows(
                        spark, column_filter, set_values, now_ms=now
                    )
                    print(f"updated {n} row(s)")
            elif fmt == "delta":
                from hadoop_sync_spark.delta_log import DeltaLog

                res = DeltaLog(rec["dir_path"]).delete_where(
                    spark, column_filter, now_ms=now
                )
                print(
                    f"deleted {res['rows_deleted']} row(s) across "
                    f"{res['files']} file(s)"
                )
            else:
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                n = IcebergTable(rec["dir_path"]).delete_rows(
                    spark, column_filter, now_ms=now
                )
                print(f"deleted {n} row(s)")
            print("hint: run `sync` to refresh the catalog")
        elif args.cmd == "restore":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    "restore is for format tables (iceberg or delta); "
                    f"{args.table!r} is a plain directory — the "
                    "registry's own versions roll back via its pointer"
                )
            import time as _time

            now = int(_time.time() * 1000)
            if fmt == "delta":
                if args.snapshot is not None or (
                    (args.version is None) == (args.timestamp is None)
                ):
                    raise ValueError(
                        "delta restore takes --version OR --timestamp"
                    )
                from hadoop_sync_spark.delta_log import DeltaLog

                res = DeltaLog(rec["dir_path"]).restore(
                    args.version, now_ms=now,
                    timestamp_ms=args.timestamp,
                )
                if res["files_added"] or res["files_removed"] or (
                    res["metadata_restored"]
                ):
                    print(
                        f"restored to "
                        f"{'version ' + str(args.version) if args.version is not None else 'timestamp ' + str(args.timestamp)}: "
                        f"+{res['files_added']} -{res['files_removed']} "
                        f"file(s), metadata "
                        f"{'restored' if res['metadata_restored'] else 'kept'}, "
                        f"committed v{res['version']}"
                    )
                else:
                    print("table already at that state (no-op)")
            else:
                if args.version is not None or (
                    (args.snapshot is None) == (args.timestamp is None)
                ):
                    raise ValueError(
                        "iceberg restore takes --snapshot OR "
                        "--timestamp"
                    )
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                IcebergTable(rec["dir_path"]).rollback_to(
                    args.snapshot, now_ms=now,
                    as_of_timestamp_ms=args.timestamp,
                )
                print(
                    "rolled back to "
                    + (f"snapshot {args.snapshot}"
                       if args.snapshot is not None
                       else f"timestamp {args.timestamp}")
                )
            print("hint: run `sync` to refresh the catalog")
        elif args.cmd == "merge":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    "merge is for format tables (iceberg or delta); "
                    f"{args.table!r} is a plain directory"
                )
            import time as _time

            source = spark.read.parquet(args.source)
            now = int(_time.time() * 1000)
            if fmt == "delta":
                from hadoop_sync_spark.delta_log import DeltaLog

                res = DeltaLog(rec["dir_path"]).merge_upsert(
                    spark, source, args.key, now_ms=now
                )
                print(
                    f"merged: {res['rows_matched']} matched row(s) "
                    f"replaced, {res['rows_inserted']} row(s) written"
                )
            else:
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                res = IcebergTable(rec["dir_path"]).merge_upsert(
                    spark, source, args.key, now_ms=now
                )
                print(
                    f"merged: {res['keys']} key(s) upserted, "
                    f"{res['rows']} row(s) written"
                )
            print("hint: run `sync` to refresh the catalog")
        elif args.cmd == "stream":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    "stream is for format tables (iceberg or delta); "
                    f"{args.table!r} is a plain directory"
                )
            # the source schema comes from the files present now (a
            # streaming read requires an explicit schema)
            src_schema = spark.read.parquet(args.source).schema
            stream_df = (spark.readStream.schema(src_schema)
                         .parquet(args.source))
            if fmt == "delta":
                from hadoop_sync_spark.delta_log import DeltaLog
                from hadoop_sync_spark.streaming.pipeline import (
                    delta_txn_sink,
                )

                before = DeltaLog(rec["dir_path"]).txn_version(
                    args.app_id)
                delta_txn_sink(stream_df, rec["dir_path"],
                               args.app_id, args.checkpoint)
                after = DeltaLog(rec["dir_path"]).txn_version(
                    args.app_id)
            else:
                from hadoop_sync_spark.iceberg_meta import IcebergTable
                from hadoop_sync_spark.streaming.pipeline import (
                    iceberg_epoch_sink,
                )

                before = IcebergTable(
                    rec["dir_path"]).committed_epoch(args.app_id)
                iceberg_epoch_sink(stream_df, rec["dir_path"],
                                   args.app_id, args.checkpoint)
                after = IcebergTable(
                    rec["dir_path"]).committed_epoch(args.app_id)
            n = ((after - before) if (after is not None
                                      and before is not None)
                 else (after + 1 if after is not None else 0))
            print(f"drained: {n} new batch(es) landed "
                  f"(watermark {before} -> {after})")
            print("hint: run `sync` to refresh the catalog")
        elif args.cmd == "changes":
            rec = reg.tables().get(args.table)
            if rec is None:
                raise KeyError(f"table not registered: {args.table}")
            fmt = rec.get("format")
            if fmt not in ("iceberg", "delta"):
                raise ValueError(
                    "changes is for format tables (iceberg or delta); "
                    f"{args.table!r} is a plain directory"
                )
            if fmt == "delta":
                from hadoop_sync_spark.delta_log import DeltaLog

                feed = DeltaLog(rec["dir_path"]).read_changes(
                    spark, args.from_, args.to
                )
                order_col = "_commit_version"
            else:
                from hadoop_sync_spark.iceberg_meta import IcebergTable

                feed = IcebergTable(rec["dir_path"]).changelog_scan(
                    spark, args.from_, args.to
                )
                order_col = "_snapshot_id"
            rows = feed.orderBy(order_col).limit(
                args.limit + 1
            ).collect()
            for r in rows[: args.limit]:
                print(json.dumps(r.asDict(), default=str))
            n = len(rows)
            print(
                f"{'>' if n > args.limit else ''}"
                f"{min(n, args.limit)} change row(s)"
            )
        elif args.cmd == "diff":
            d = reg.diff(args.table)
            print(
                f"{args.table}: {len(d.new_files)} new, "
                f"{len(d.old_files)} removed/changed, "
                f"{len(d.unchanged)} unchanged"
            )
    except (KeyError, ValueError, RuntimeError,
            NotImplementedError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
