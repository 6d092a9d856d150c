"""``io.local_frame`` — the one way the engine makes driver-side
frames — and the plan shape it buys: every frame the engine builds
from a Python list is a JVM ``LocalRelation``, never a ``LogicalRDD``
whose collect or broadcast runs a Python-worker job."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
from pathlib import Path

import pytest
from pyspark.sql import types as T

from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.io import local_frame
from hadoop_sync_spark.queries._util import materialize_and_free
from tests.test_delta_log import _meta, _meta_partitioned, _write_file
from tests.test_iceberg import _mor_table

PACKAGE = Path(__file__).resolve().parent.parent / "hadoop_sync_spark"

SCHEMA = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("l", T.LongType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("arr", T.ArrayType(T.DoubleType())),
    T.StructField("dec", T.DecimalType(12, 3)),
])

ROWS = [
    ("a+b%20/ü 東", 1 << 40, 7, True, 1.5, dt.date(2020, 1, 2),
     dt.datetime(2020, 1, 2, 3, 4, 5, 6, tzinfo=dt.timezone.utc),
     dt.datetime(1, 1, 1), [1.0, None, -0.5], decimal.Decimal("1.234")),
    ("", -1, -(1 << 31), False, float("inf"), dt.date(1, 1, 1),
     dt.datetime(2021, 6, 1, 12, 30),  # naive: process-local time
     dt.datetime(9999, 12, 31, 23, 59, 59), [], decimal.Decimal("-0.001")),
    (None,) * len(SCHEMA.fields),
]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("rows", [ROWS, ROWS[-1:], []],
                         ids=["mixed", "all_null", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _analyzed(got).startswith("LocalRelation")


def test_local_frame_ddl_schema_and_arrow_conf_off(spark):
    """A DDL schema types like ``createDataFrame``'s, and the plan is a
    LocalRelation even with the Arrow conversion conf off."""
    ddl = "_d_file string, _d_pos long"
    rows = [("part-0.parquet", 3), ("part-1.parquet", 1 << 40)]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = local_frame(spark, rows, ddl)
        assert _analyzed(got).startswith("LocalRelation")
    finally:
        spark.conf.set(key, old)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_iceberg_incremental_scan_partition_types(spark, tmp_path):
    """The incremental scan's attach map is typed from the partition
    spec: an ``int`` partition surfaces as ``bigint`` (what inference
    over the manifests' Python ints gave), and a range whose files all
    carry a NULL tuple no longer trips inference."""
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    s1 = t.append([write_pq("f1.parquet", [1], bucket=0)], now_ms=2000)
    s2 = t.append([write_pq("f2.parquet", [2, 3], bucket=1)], now_ms=3000)
    s3 = t.append([write_pq("f3.parquet", [4], bucket=None)], now_ms=4000)
    inc = t.incremental_scan(spark, s1)
    assert inc.dtypes == [("id", "bigint"), ("val", "string"),
                          ("p_bucket", "bigint"), ("_snapshot_id", "bigint")]
    assert "LogicalRDD" not in _analyzed(inc)
    assert {tuple(r) for r in inc.collect()} == {
        (2, "v2", 1, s2), (3, "v3", 1, s2), (4, "v4", None, s3)}
    only_null = t.incremental_scan(spark, s2)
    assert only_null.dtypes == inc.dtypes
    assert [tuple(r) for r in only_null.collect()] == [(4, "v4", None, s3)]


def test_materialized_contract_row_is_local_relation(spark):
    cached = spark.range(10).cache()
    cached.count()
    out = materialize_and_free(
        cached.selectExpr("count(*) AS n", "sum(id) AS s"), [cached])
    assert _analyzed(out).startswith("LocalRelation")
    assert [tuple(r) for r in out.collect()] == [(10, 45)]
    assert not cached.is_cached


def _delta_table(tmp_path, partitioned):
    d = str(tmp_path / ("part" if partitioned else "flat"))
    os.makedirs(d)
    log = DeltaLog(d)
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    _write_file(d, "b.parquet", {"k": [4, 5], "v": [40, 50]})
    if partitioned:
        log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                       _meta_partitioned(),
                       log.add_action_for("a.parquet",
                                          partitionValues={"p": "0"}),
                       log.add_action_for("b.parquet",
                                          partitionValues={"p": "1"})])
    else:
        log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                       log.add_action_for("a.parquet"),
                       log.add_action_for("b.parquet")])
    return log


def test_delta_dv_and_partitioned_reads_have_no_rdd_scan(spark, tmp_path):
    log = _delta_table(tmp_path, partitioned=False)
    log.add_deletion_vector(1, "a.parquet", [0, 2], storage="u")
    df = log.read(spark)
    assert "LogicalRDD" not in _analyzed(df)
    assert sorted(tuple(r) for r in df.collect()) == [
        (2, 20), (4, 40), (5, 50)]

    plog = _delta_table(tmp_path, partitioned=True)
    df = plog.read(spark)
    assert "LogicalRDD" not in _analyzed(df)
    assert sorted((r.k, r.p) for r in df.collect()) == [
        (1, 0), (2, 0), (3, 0), (4, 1), (5, 1)]
    plog.add_deletion_vector(1, "b.parquet", [1], storage="i")
    df = plog.read(spark)
    assert "LogicalRDD" not in _analyzed(df)
    assert sorted((r.k, r.p) for r in df.collect()) == [
        (1, 0), (2, 0), (3, 0), (4, 1)]


def test_delta_read_changes_has_no_rdd_scan(spark, tmp_path):
    log = _delta_table(tmp_path, partitioned=False)
    log.delete_where(spark, {"k": (2, 4)}, now_ms=1000)     # v1
    log.commit(2, [{"remove": {"path": "b.parquet",
                               "dataChange": True}}])      # v2
    df = log.read_changes(spark, 0)
    assert "LogicalRDD" not in _analyzed(df)
    want = {(k, v, "insert", 0) for k, v in
            [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]}
    want |= {(2, 20, "delete", 1), (3, 30, "delete", 1),
             (4, 40, "delete", 1), (5, 50, "delete", 2)}
    assert {(r.k, r.v, r._change_type, r._commit_version)
            for r in df.collect()} == want


def test_iceberg_merge_on_read_has_no_rdd_scan(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("f1.parquet", [1, 2, 3], bucket=0),
              write_pq("f2.parquet", [4, 5], bucket=1)], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3000)
    df = t.read(spark)
    assert "LogicalRDD" not in _analyzed(df)
    assert sorted((r.id, r.val, r.p_bucket) for r in df.collect()) == [
        (1, "v1", 0), (3, "v3", 0), (4, "v4", 1), (5, "v5", 1)]


#: The one ``createDataFrame`` call allowed outside ``io.local_frame``:
#: the DV executor-decode regime parallelizes the descriptors and
#: decodes positions on the executors, so its input is an RDD, not a
#: driver list, and the driver never holds the position list.
ALLOWED = {("delta_log.py", "_dv_delete_frame", "rdd")}


def _create_dataframe_calls(node, fn=None):
    """``(call, innermost enclosing function name)`` for every
    ``<x>.createDataFrame(...)`` call under ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _create_dataframe_calls(child, child.name)
            continue
        if (isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"):
            yield child, fn
        yield from _create_dataframe_calls(child, fn)


def test_no_create_dataframe_outside_local_frame():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for call, fn in _create_dataframe_calls(tree):
            first = call.args[0] if call.args else None
            arg = first.id if isinstance(first, ast.Name) else None
            if (path.name, fn) == ("io.py", "local_frame"):
                continue
            if (path.name, fn, arg) in ALLOWED:
                continue
            bad.append(f"{path.relative_to(PACKAGE.parent)}:"
                       f"{call.lineno} in {fn}()")
    assert not bad, (
        "build driver-side frames with io.local_frame (a LocalRelation), "
        "not createDataFrame: " + ", ".join(bad))
