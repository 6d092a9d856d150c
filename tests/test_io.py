"""Unit pins for hadoop_sync_spark.io: the analyzed-plan cache, file-URI
decoding, the data-file writer and the compaction planner."""

from __future__ import annotations

import os

import pytest

from hadoop_sync_spark.io import _plan_cache_key, load_table, table_path


def test_table_regenerated_in_place_misses_plan_cache(spark, tmp_path):
    """Overwriting a table under the same path within one session must
    not serve the cached plan's old file listing."""
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "region")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 5


def test_plan_cache_key_holds_the_session_not_its_id(spark, tmp_path):
    """The key holds the session object itself (identity compare), so
    a dead session's reused address can never alias a live one."""
    assert _plan_cache_key(spark, str(tmp_path), "t")[0] is spark


def test_decode_file_uri_col_matches_driver_decode(spark, tmp_path):
    """The Spark-side file-URI decode and its driver-side twin agree on
    the URIs Spark reports for real files, and both give back the
    path: names holding '+', '%', a space and non-ASCII characters."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hadoop_sync_spark.io import decode_file_uri, decode_file_uri_col

    names = ["a+b", "p%20q", "100%", "with space", "ünïcødé €", "m +%é"]
    paths = []
    for n in names:
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        pq.write_table(pa.table({"x": [1]}), p)
        paths.append(os.path.abspath(p))
    rows = spark.read.parquet(*paths).select(
        F.col("_metadata.file_path").alias("fp"),
        decode_file_uri_col(F.col("_metadata.file_path")).alias("col"),
    ).collect()
    assert len(rows) == len(names)
    assert sorted(decode_file_uri(r.fp) for r in rows) == sorted(paths)
    assert sorted(r.col for r in rows) == sorted(paths)


# ---------------------------------------------------- the data-file writer

def _stage_tables(spark, root: str):
    """A 3-file Delta table, Iceberg table and registered directory
    table under ``root``: (delta log, iceberg table, registry)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.delta_log import DeltaLog
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    from hadoop_sync_spark.registry import Registry

    def write(path, ids):
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                                 "val": pa.array(ids, pa.int64())}), path)
        return os.path.getsize(path)

    chunks = [[1, 2, 3], [4, 5], [6]]
    delta_dir = os.path.join(root, "delta")
    os.makedirs(delta_dir)
    log = DeltaLog(delta_dir)
    for i, ids in enumerate(chunks):
        write(os.path.join(delta_dir, f"f{i}.parquet"), ids)
    schema = {"type": "struct", "fields": [
        {"name": c, "type": "long", "nullable": True, "metadata": {}}
        for c in ("id", "val")]}
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        *[log.add_action_for(f"f{i}.parquet") for i in range(3)],
    ])

    ice_dir = os.path.join(root, "iceberg")
    os.makedirs(os.path.join(ice_dir, "data"))
    ice = IcebergTable.create(ice_dir, [("id", "bigint"), ("val", "bigint")],
                              now_ms=1000)
    ice.append([
        DataFile(f"data/f{i}.parquet", {}, len(ids),
                 write(os.path.join(ice_dir, "data", f"f{i}.parquet"), ids))
        for i, ids in enumerate(chunks)
    ], now_ms=2000)

    dir_table = os.path.join(root, "dir")
    os.makedirs(dir_table)
    for i, ids in enumerate(chunks):
        write(os.path.join(dir_table, f"f{i}.parquet"), ids)
    reg = Registry(spark, os.path.join(root, "meta"))
    reg.register("t", dir_table)
    reg.sync("t")
    return log, ice, reg


@pytest.mark.parametrize("tempdir", ["missing", "other_filesystem"])
def test_writers_stage_beside_their_destination(
    spark, tmp_path, monkeypatch, tempdir
):
    """Every data-file writer stages Spark's output in the destination's
    own directory, so the final rename never leaves one filesystem:
    writes succeed whatever ``TMPDIR`` is — a directory that does not
    exist, or another filesystem (a rename across filesystems fails
    with EXDEV) — and leave no staging directory behind."""
    import tempfile

    from hadoop_sync_spark.io import local_frame

    if tempdir == "missing":
        tmp = str(tmp_path / "no-such-dir")
    else:
        tmp = "/dev/shm"
        if (not os.path.isdir(tmp)
                or os.stat(tmp).st_dev == os.stat(tmp_path).st_dev):
            pytest.skip("/dev/shm is not a separate filesystem here")
    log, ice, reg = _stage_tables(spark, str(tmp_path / "tables"))
    monkeypatch.setattr(tempfile, "tempdir", tmp)

    src = local_frame(spark, [(2, 20), (9, 90)], "id long, val long")
    res = log.merge_upsert(spark, src, "id", now_ms=3000)
    assert (res["rows_matched"], res["rows_inserted"]) == (1, 2)
    assert log.compact(spark)["files_out"] == 1
    want = [(1, 1), (2, 20), (3, 3), (4, 4), (5, 5), (6, 6), (9, 90)]
    assert sorted(tuple(r) for r in log.read(spark).collect()) == want

    assert ice.update_rows(spark, {"id": (2, 2)}, {"val": 20},
                           now_ms=3000) == 1
    assert ice.compact(spark, now_ms=4000)["files_out"] == 1
    assert sorted(tuple(r) for r in ice.read(spark).collect()) == want[:-1]

    res = reg.compact("t")
    assert (res.files_in, res.files_out) == (3, 1)
    assert sorted(r.id for r in reg.read("t").collect()) == [1, 2, 3, 4, 5, 6]

    left = [os.path.join(root, n)
            for root, dirs, files in os.walk(tmp_path / "tables")
            for n in dirs + files
            if n.startswith("_") and n != "_delta_log"]
    assert not left


def test_plan_bins_first_fit_decreasing():
    """First-fit decreasing: [6, 5, 4, 3] into 10-byte bins packs
    [6, 4] and [5, 3]; next-fit would close [6] alone and keep only
    [5, 4] (its [6] and [3] fall under ``min_group``)."""
    from hadoop_sync_spark.io import plan_bins

    assert plan_bins([6, 5, 4, 3], lambda s: s, lambda s: None, 10, 2) == [
        (None, [6, 4]), (None, [5, 3])]


def test_plan_bins_per_key_target_and_min_group():
    """Bins never mix keys and come out in key order; an item at or
    over the target is never binned; a bin under ``min_group`` items
    is dropped."""
    from hadoop_sync_spark.io import plan_bins

    items = [("b", 5), ("a", 6), ("b", 4), ("a", 3), ("a", 10),
             ("c", 2), ("b", 7)]
    bins = plan_bins(items, lambda it: it[1], lambda it: it[0], 10, 2)
    assert bins == [("a", [("a", 6), ("a", 3)]),
                    ("b", [("b", 5), ("b", 4)])]
    assert plan_bins(items, lambda it: it[1], lambda it: it[0], 10, 3) == []
