"""The DML write faces' one size decision.

Each row-level face (Delta ``delete_where`` / ``update_where`` /
``merge_upsert``, Iceberg ``delete_rows`` / ``update_rows`` /
``merge_upsert``) runs one pipeline; only how the matched positions
materialize depends on their count against the face's cap.  These tests
run the same sequence with the cap at its default (driver list) and at 0
(distributed frame) and require the same tables, and pin the cleanup
and subtraction behaviour of the shared steps.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hadoop_sync_spark.delta_log import DeltaLog
from tests.test_delta_log import _cdf_meta, _write_file
from tests.test_iceberg import _mor_table

#: files a DML face writes through Spark: their bytes, size and mtime
#: may differ between runs, so the log comparison drops those fields
_SPARK_WRITTEN = ("part-update-", "part-upsert-", "_change_data/")


def _delta_dml_sequence(spark, d: str, cap: int | None) -> DeltaLog:
    os.makedirs(d)
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4], "v": [10, 20, 30, 40]})
    _write_file(d, "b.parquet", {"k": [5, 6, 7], "v": [50, 60, 70]})
    for name in ("a.parquet", "b.parquet"):
        os.utime(os.path.join(d, name), (1_000, 1_000))
    log = DeltaLog(d)
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _cdf_meta(("p",)),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    if cap is not None:
        log.DELETE_WHERE_ROW_LIMIT = cap
    log.delete_where(spark, {"k": (2, 2)}, now_ms=1000)
    log.delete_where(spark, {"k": (1, 2)}, now_ms=1500)
    log.update_where(spark, {"k": (3, 5)}, {"v": F.col("v") + 1},
                     now_ms=2000)
    src = spark.createDataFrame(
        [(4, 400, 0), (6, 600, 1), (9, 900, 1)], ["k", "v", "p"]
    )
    log.merge_upsert(spark, src, "k", now_ms=3000)
    return log


def _normalized_log(d: str) -> list:
    out = []
    for path in sorted(glob.glob(os.path.join(d, "_delta_log", "*.json"))):
        with open(path) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        for a in actions:
            body = a.get("add") or a.get("cdc")
            if body and body["path"].startswith(_SPARK_WRITTEN):
                body.pop("size", None)
                body.pop("modificationTime", None)
        out.append((os.path.basename(path), actions))
    return out


def _dv_blobs(d: str) -> dict:
    out = {}
    for path in glob.glob(os.path.join(d, "deletion_vector_*.bin")):
        with open(path, "rb") as fh:
            out[os.path.basename(path)] = fh.read()
    return out


def test_delta_tiers_write_identical_tables(spark, tmp_path):
    """Partitioned, change-data-feed table: delete (twice, the second
    overlapping an existing vector), update, merge — once on the driver
    tier, once with every match over the cap.  The logs agree apart
    from the size and mtime of Spark-written files, the vector files
    are byte-identical, and both the table and its change feed read
    the same rows."""
    drv = _delta_dml_sequence(spark, str(tmp_path / "drv"), None)
    exe = _delta_dml_sequence(spark, str(tmp_path / "exe"), 0)
    assert _normalized_log(drv.table_dir) == _normalized_log(exe.table_dir)
    blobs = _dv_blobs(drv.table_dir)
    assert blobs and blobs == _dv_blobs(exe.table_dir)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(drv.read(spark)) == rows(exe.read(spark))
    assert rows(drv.read(spark)) == [
        (3, 31, 0), (4, 400, 0), (5, 51, 1), (6, 600, 1), (7, 70, 1),
        (9, 900, 1),
    ]
    changes = rows(drv.read_changes(spark, 1))
    assert changes and changes == rows(exe.read_changes(spark, 1))


def _iceberg_dml_sequence(spark, tmp_path, cap: int | None):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3, 4], bucket=0),
                   write_pq("f2.parquet", [5, 6, 7], bucket=1)],
                  now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=2500)
    if cap is not None:
        t.DELETE_ROWS_LIMIT = cap
    t.delete_rows(spark, {"id": (2, 2)}, now_ms=3000)
    t.update_rows(spark, {"id": (1, 5)}, {"val": "U"}, now_ms=4000)
    src = spark.createDataFrame([(6, "M6", 1), (9, "M9", 0)],
                                ["id", "val", "p_bucket"])
    t.merge_upsert(spark, src, "id", now_ms=5000)
    return t, s1


def _pos_delete_pairs(t) -> list:
    pairs = []
    for d in t.delete_files():
        if d.content == 1:
            tb = pq.read_table(d.path, columns=["file_path", "pos"])
            pairs += zip(tb["file_path"].to_pylist(), tb["pos"].to_pylist())
    return sorted(pairs)


def test_iceberg_tiers_write_identical_tables(spark, tmp_path):
    """Partitioned Iceberg table with a live position delete: delete,
    update (which subtracts the existing delete), merge — once on the
    driver tier, once with every match and key set over the cap.  Both
    read the same rows and the same changelog, and their position
    delete files hold the same (file_path, pos) pairs."""
    drv, s_drv = _iceberg_dml_sequence(spark, tmp_path / "drv", None)
    exe, s_exe = _iceberg_dml_sequence(spark, tmp_path / "exe", 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(drv.read(spark)) == rows(exe.read(spark)) == [
        (3, "U", 0), (4, "U", 0), (5, "U", 1), (6, "M6", 1), (7, "v7", 1),
        (9, "M9", 0),
    ]
    assert rows(drv.changelog_scan(spark, s_drv)) == rows(
        exe.changelog_scan(spark, s_exe))
    assert _pos_delete_pairs(drv) == _pos_delete_pairs(exe) == [
        ("data/f1.parquet", 0), ("data/f1.parquet", 1),
        ("data/f1.parquet", 2), ("data/f1.parquet", 3),
        ("data/f2.parquet", 0),
    ]


def test_refused_over_cap_merge_leaves_no_cache_or_files(spark, tmp_path):
    """An over-cap merge asking for inline vectors refuses before it
    writes any file or caches any frame."""
    d = str(tmp_path / "leak")
    os.makedirs(d)
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    log = DeltaLog(d)
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _cdf_meta(),
                   log.add_action_for("a.parquet")])
    log.DELETE_WHERE_ROW_LIMIT = 0
    spark.catalog.clearCache()
    src = spark.createDataFrame([(2, 200), (3, 300)], ["k", "v"])
    with pytest.raises(NotImplementedError, match="file-backed"):
        log.merge_upsert(spark, src, "k", now_ms=1000, storage="i")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not glob.glob(os.path.join(d, "part-upsert-*"))
    assert log.latest_version() == 0


def test_iceberg_update_subtracts_position_deletes_over_the_cap(
    spark, tmp_path
):
    """A 1-row update under a cap of 1, over two existing position
    deletes: update_rows subtracts them through Spark (their summed
    record count exceeds the cap) instead of refusing, and the rows
    they hide stay deleted."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3, 4])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=3000)
    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3500)
    t.DELETE_ROWS_LIMIT = 1
    assert t.update_rows(spark, {"id": (3, 3)}, {"val": "X"},
                         now_ms=4000) == 1
    # id 2 is already deleted: nothing fresh, no commit
    v = t.current_version()
    assert t.update_rows(spark, {"id": (2, 2)}, {"val": "Y"},
                         now_ms=5000) == 0
    assert t.current_version() == v
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == [
        (3, "X"), (4, "v4")]
