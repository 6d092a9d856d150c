"""Executor-tier DML at REAL cap scale (round 12).

The small-fixture tests drive the executor tier by forcing the cap to 0;
this file keeps the caps at their production values and feeds a
predicate matching OVER a million rows, proving the round-11 refusal
("matched over 1000000 rows, the driver materialization cap") is
genuinely lifted: the matched set never materializes on the driver, the
bitmaps / position-delete parquets build and write executor-side, and
the committed table reads back right.  ~1.2M rows keeps the wall cost
a few seconds on local[32] while sitting firmly above the cap.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable

#: slow tier: >1M-row executor-tier scale studies — the executor-tier
#: code paths themselves stay default-covered at cap 0 by
#: test_dml_tiers.py (all six faces, each against its driver tier) and
#: test_dml_fuzz's executor-tier seeds 1201 (Delta delete and merge)
#: and 1303 (Delta and Iceberg delete and update).  These runs prove
#: the paths at the REAL cap and ride SPARK_GRAFT_FULL_TESTS=1
pytestmark = pytest.mark.slow

N = 1_200_000  # > DELETE_WHERE_ROW_LIMIT / DELETE_ROWS_LIMIT = 1M


def _spark_write_kv(spark, path: str, lo: int, hi: int) -> int:
    """One parquet file of (k, v) rows k in [lo, hi); returns rowcount."""
    from pyspark.sql import functions as F

    from hadoop_sync_spark.io import write_parquet

    df = spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_parquet(df, path)
    return hi - lo


def test_delta_delete_where_over_one_million(spark, tmp_path):
    d = str(tmp_path / "delta_big")
    os.makedirs(d)
    log = DeltaLog(d)
    _spark_write_kv(spark, os.path.join(d, "a.parquet"), 0, N // 2)
    _spark_write_kv(spark, os.path.join(d, "b.parquet"), N // 2, N)
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    })
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema,
                      "partitionColumns": [], "configuration": {}}},
        log.add_action_for("a.parquet"),
        log.add_action_for("b.parquet"),
    ])
    assert log.DELETE_WHERE_ROW_LIMIT == 1_000_000  # the REAL cap
    # matches N - 10 rows, over the cap -> executor tier
    res = log.delete_where(spark, {"k": (10, None)}, now_ms=1000)
    assert res["rows_deleted"] == N - 10
    assert res["files"] == 2
    assert res["version"] == 1 == log.latest_version()
    # descriptors carry the real cardinalities; payloads verify by CRC
    snap = log.snapshot()
    cards = sorted(
        a["deletionVector"]["cardinality"] for a in snap.live.values()
    )
    assert cards == [N // 2 - 10, N // 2]
    left = log.read(spark).collect()
    assert sorted(r.k for r in left) == list(range(10))


def test_iceberg_delete_rows_over_one_million(spark, tmp_path):
    d = str(tmp_path / "ice_big")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint")], now_ms=1000
    )
    for name, lo, hi in (("f1.parquet", 0, N // 2),
                         ("f2.parquet", N // 2, N)):
        p = os.path.join(d, "data", name)
        _spark_write_kv(spark, p, lo, hi)
        t.append(
            [DataFile(f"data/{name}", {}, hi - lo,
                      os.path.getsize(p))],
            now_ms=2000,
        )
    assert t.DELETE_ROWS_LIMIT == 1_000_000  # the REAL cap
    n = t.delete_rows(spark, {"k": (10, None)}, now_ms=3000)
    assert n == N - 10
    # delete parquet(s) landed executor-side, globally sorted
    dels = [x for x in t.delete_files()]
    assert sum(x.record_count for x in dels) == N - 10
    head = pq.read_table(dels[0].path).slice(0, 1000)
    pairs = list(zip(head["file_path"].to_pylist(),
                     head["pos"].to_pylist()))
    assert pairs == sorted(pairs)
    assert sorted(r.k for r in t.read(spark).collect()) == \
        list(range(10))


def test_iceberg_update_rows_over_one_million(spark, tmp_path):
    """update_rows' executor tier at the REAL cap (round 12 lifted the
    last write-face refusal): >1M matched rows rewrite + position-
    delete in one snapshot with no driver materialization."""
    d = str(tmp_path / "ice_upd_big")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint")], now_ms=1000
    )
    p = os.path.join(d, "data", "f1.parquet")
    _spark_write_kv(spark, p, 0, N)
    t.append([DataFile("data/f1.parquet", {}, N, os.path.getsize(p))],
             now_ms=2000)
    assert t.DELETE_ROWS_LIMIT == 1_000_000
    from pyspark.sql import functions as F

    n = t.update_rows(spark, {"k": (5, None)},
                      {"v": F.col("v") + 1}, now_ms=3000)
    assert n == N - 5
    agg = t.read(spark).selectExpr(
        "count(*) AS n", "sum(v) AS s").collect()[0]
    assert agg.n == N
    assert agg.s == 10 * (N * (N - 1)) // 2 + (N - 5)


def test_delta_update_where_over_one_million(spark, tmp_path):
    """update_where's executor tier at real cap: >1M matched rows DV
    out and rewrite without driver materialization."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "delta_upd_big")
    os.makedirs(d)
    log = DeltaLog(d)
    _spark_write_kv(spark, os.path.join(d, "a.parquet"), 0, N)
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    })
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema,
                      "partitionColumns": [], "configuration": {}}},
        log.add_action_for("a.parquet"),
    ])
    res = log.update_where(
        spark, {"k": (5, None)}, {"v": F.col("v") + 1}, now_ms=1000
    )
    assert res["rows_updated"] == N - 5
    assert res["files"] == 1 and res["new_files"] == 1
    agg = log.read(spark).selectExpr(
        "count(*) AS n", "sum(v) AS s"
    ).collect()[0]
    assert agg.n == N
    # sum(v) = sum(10k) + (N-5) updated rows' +1
    assert agg.s == 10 * (N * (N - 1)) // 2 + (N - 5)
