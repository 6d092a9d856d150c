"""``delta_cdc`` streaming source (Spark 4 Python Data Source API):
the change feed as a live stream, cross-checked against
``read_changes`` (the batch face) on the same log, plus the composed
source->sink exactly-once pipeline."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from hadoop_sync_spark.cdc_source import DeltaCDCStreamSource
from hadoop_sync_spark.delta_log import DeltaLog

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)
PART_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)


def _meta(cdf: bool, partition_cols=()):
    return {
        "metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": (PART_SCHEMA_JSON if partition_cols
                             else SCHEMA_JSON),
            "partitionColumns": list(partition_cols),
            "configuration": (
                {"delta.enableChangeDataFeed": "true"} if cdf else {}
            ),
        }
    }


def _mk_table(tmp_path, name, cdf=True, partition_cols=()):
    d = str(tmp_path / name)
    os.makedirs(d)
    return d, DeltaLog(d)


def _write_file(d, rel, rows):
    pd.DataFrame(rows).to_parquet(os.path.join(d, rel))


def _drain(spark, table_dir, ckpt, rows_out, starting=0):
    """One availableNow drain collecting every micro-batch's rows into
    ``rows_out`` (foreachBatch runs driver-side)."""
    spark.dataSource.register(DeltaCDCStreamSource)
    df = (spark.readStream.format("delta_cdc")
          .option("path", table_dir)
          .option("startingVersion", starting).load())

    def sink(batch_df, _bid):
        rows_out.extend(tuple(r) for r in batch_df.collect())

    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_cdc_source_bounded_batches(spark, tmp_path):
    """``maxVersionsPerBatch`` clamps latestOffset to
    min(latest, pos + N) (round 13 — rate limiting inside the API):
    a 10-commit backlog drains in ceil(10/3) = 4 micro-batches with
    identical total output, each batch spanning <= 3 commit versions,
    and the checkpoint records the clamped per-batch offsets."""
    import json as _json

    d, log = _mk_table(tmp_path, "bounded")
    _write_file(d, "f0.parquet", {"k": [0], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(True),
                   log.add_action_for("f0.parquet")])
    for v in range(1, 10):
        _write_file(d, f"f{v}.parquet", {"k": [v], "v": [v * 10]})
        log.commit(v, [log.add_action_for(f"f{v}.parquet")])

    # one CONTINUOUS query (the Python Data Source API lacks
    # Trigger.AvailableNow — Spark falls back to one batch per start,
    # so a processingTime trigger is the mode where successive
    # clamped batches actually happen): the reader's position carries
    # across its batches and every one is bounded
    import time

    spark.dataSource.register(DeltaCDCStreamSource)
    ck = str(tmp_path / "ck")
    batches: list = []

    def sink(bdf, _bid):
        rs = [tuple(r) for r in bdf.collect()]
        if rs:
            batches.append(rs)

    df = (spark.readStream.format("delta_cdc")
          .option("path", d).option("startingVersion", 0)
          .option("maxVersionsPerBatch", 3).load())
    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ck)
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(len(rs) for rs in batches) >= 10:
            break
        time.sleep(0.3)
    q.stop()

    rows = [r for rs in batches for r in rs]
    assert sorted(r[0] for r in rows) == list(range(10))
    assert len(batches) == 4  # ceil(10 commits / 3 per batch)
    for rs in batches:
        vers = {r[3] for r in rs}
        assert max(vers) - min(vers) < 3
    # the checkpoint's per-batch offsets are the CLAMPED ends
    odir = os.path.join(ck, "offsets")

    def offset_ends():
        ends = []
        for name in sorted(
            (n for n in os.listdir(odir) if not n.startswith(".")),
            key=int,
        ):
            with open(os.path.join(odir, name)) as fh:
                last = fh.read().strip().splitlines()[-1]
            ends.append(_json.loads(last)["version"])
        return ends

    assert offset_ends()[:4] == [3, 6, 9, 10]

    # RESTART over a new backlog stays bounded: Spark re-plans the
    # restored offsets-log entry before the fresh reader's first
    # latestOffset, re-teaching the clamp position — no unbounded
    # catch-up batch, no duplicates
    for v in range(10, 15):
        _write_file(d, f"f{v}.parquet", {"k": [v], "v": [v * 10]})
        log.commit(v, [log.add_action_for(f"f{v}.parquet")])
    batches.clear()
    df = (spark.readStream.format("delta_cdc")
          .option("path", d).option("startingVersion", 0)
          .option("maxVersionsPerBatch", 3).load())
    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ck)
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(len(rs) for rs in batches) >= 5:
            break
        time.sleep(0.3)
    q.stop()
    rows2 = [r for rs in batches for r in rs]
    assert sorted(r[0] for r in rows2) == list(range(10, 15))
    assert len(batches) == 2  # ceil(5 new commits / 3 per batch)
    for rs in batches:
        vers = {r[3] for r in rs}
        assert max(vers) - min(vers) < 3


@pytest.mark.slow
def test_iceberg_incremental_bounded_batches(spark, tmp_path):
    """``maxSnapshotsPerBatch`` — the iceberg twin: a 5-append
    backlog drains in ceil(5/2) = 3 micro-batches, one or two
    snapshots each, with identical total output."""
    from hadoop_sync_spark.cdc_source import (
        IcebergIncrementalStreamSource,
    )
    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_bounded")
    t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1)
    sids = []
    for i in range(5):
        b = spark.createDataFrame([(i, i * 10)], "k long, v long")
        sids.append(t.append_stream_batch(b, "w", i, now_ms=2 + i))

    import time

    spark.dataSource.register(IcebergIncrementalStreamSource)
    df = (spark.readStream.format("iceberg_incremental")
          .option("path", d)
          .option("maxSnapshotsPerBatch", 2).load())
    batches: list = []

    def sink(bdf, _bid):
        rs = [tuple(r) for r in bdf.collect()]
        if rs:
            batches.append(rs)

    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckb"))
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(len(rs) for rs in batches) >= 5:
            break
        time.sleep(0.3)
    q.stop()

    rows = [r for rs in batches for r in rs]
    assert sorted(r[0] for r in rows) == list(range(5))
    assert len(batches) == 3  # ceil(5 snapshots / 2 per batch)
    for rs in batches:
        assert len({r[2] for r in rs}) <= 2  # snapshots per batch


def test_cdc_source_matches_batch_read_changes(spark, tmp_path):
    """The streamed feed over a CDF table with update/delete/merge/
    append history equals read_changes(0) as a multiset — the batch
    face is the oracle for the streaming face."""
    from collections import Counter

    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "src")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(True),
                   log.add_action_for("a.parquet")])
    log.update_where(spark, {"k": (2, 3)}, {"v": F.col("v") + 100},
                     now_ms=1000)
    log.delete_where(spark, {"k": (1, 1)}, now_ms=2000)
    src = spark.createDataFrame([(2, 999), (7, 70)], ["k", "v"])
    log.merge_upsert(spark, src, "k", now_ms=3000)
    _write_file(d, "b.parquet", {"k": [9], "v": [90]})
    log.commit(4, [log.add_action_for("b.parquet")])

    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    assert Counter(got) == want
    # update pre/postimages really came through the cdc files
    kinds = {t[2] for t in got}
    assert {"update_preimage", "update_postimage",
            "delete", "insert"} <= kinds


def test_cdc_source_incremental_and_partitioned(spark, tmp_path):
    """Same checkpoint, second drain: only NEW versions arrive; a
    partitioned table's cdc/add files get their partition column from
    the action's partitionValues."""
    d, log = _mk_table(tmp_path, "part_src")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    _write_file(d, "b.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta(True, ("p",)),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    got: list = []
    ck = str(tmp_path / "ck")
    _drain(spark, d, ck, got)
    assert sorted(got) == [
        (1, 10, 0, "insert", 0), (2, 20, 0, "insert", 0),
        (3, 30, 1, "insert", 0)]

    # no new commits: a drain adds nothing
    got2: list = []
    _drain(spark, d, ck, got2)
    assert got2 == []

    # a delete lands cdc files per tuple; only version 1 streams
    log.delete_where(spark, {"k": (1, 1)}, now_ms=1000)
    got3: list = []
    _drain(spark, d, ck, got3)
    assert got3 == [(1, 10, 0, "delete", 1)]


@pytest.mark.slow
def test_sources_starting_latest(spark, tmp_path):
    """startingVersion/startingSequence = 'latest': the existing
    backlog is skipped, only commits after stream creation arrive —
    the new-changes-only consumer, on both sources."""
    from hadoop_sync_spark.cdc_source import (
        IcebergIncrementalStreamSource,
    )
    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d, log = _mk_table(tmp_path, "latest_src")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(True),
                   log.add_action_for("a.parquet")])
    spark.dataSource.register(DeltaCDCStreamSource)
    df = (spark.readStream.format("delta_cdc")
          .option("path", d).option("startingVersion", "latest")
          .load())
    got: list = []

    def sink(batch_df, _bid):
        got.extend(tuple(r) for r in batch_df.collect())

    def drain(frame, ck):
        q = (frame.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    ck = str(tmp_path / "ck")
    drain(df, ck)
    assert got == []  # backlog skipped
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(1, [log.add_action_for("b.parquet")])
    drain((spark.readStream.format("delta_cdc")
           .option("path", d).option("startingVersion", "latest")
           .load()), ck)  # same checkpoint: offset already pinned
    assert got == [(2, 20, "insert", 1)]

    # iceberg twin
    di = str(tmp_path / "latest_ice")
    t = IcebergTable.create(di, [("k", "bigint")], now_ms=1)
    t.append_stream_batch(spark.createDataFrame([(1,)], "k long"),
                          "w", 0, now_ms=2)
    spark.dataSource.register(IcebergIncrementalStreamSource)
    got2: list = []

    def sink2(batch_df, _bid):
        got2.extend(tuple(r) for r in batch_df.collect())

    dfi = (spark.readStream.format("iceberg_incremental")
           .option("path", di)
           .option("startingSequence", "latest").load())
    q = (dfi.writeStream.foreachBatch(sink2)
         .option("checkpointLocation", str(tmp_path / "cki"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert got2 == []  # backlog skipped
    s1 = t.append_stream_batch(spark.createDataFrame([(2,)], "k long"),
                               "w", 1, now_ms=3)
    dfi2 = (spark.readStream.format("iceberg_incremental")
            .option("path", di)
            .option("startingSequence", "latest").load())
    q = (dfi2.writeStream.foreachBatch(sink2)
         .option("checkpointLocation", str(tmp_path / "cki"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert got2 == [(2, s1)]


def test_cdc_source_streams_dml_without_feed(spark, tmp_path):
    """DML commits with no cdc files (CDF off: deletion-vector growth,
    copy-on-write update, merge) stream their derived changes, planned
    by the same planner as ``read_changes``: the drain equals the batch
    feed as a multiset."""
    from collections import Counter

    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "nocdf")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(False),
                   log.add_action_for("a.parquet")])
    log.delete_where(spark, {"k": (1, 1)}, now_ms=1000)
    log.update_where(spark, {"k": (2, 2)}, {"v": F.col("v") + 100},
                     now_ms=2000)
    log.merge_upsert(spark, spark.createDataFrame(
        [(3, 333), (8, 80)], ["k", "v"]), "k", now_ms=3000)
    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    assert Counter(got) == want
    assert (1, 10, "delete", 1) in want


def test_cdc_source_unpaired_readd_reports_once(spark, tmp_path):
    """A re-add of a live file with no paired remove (spec-legal; lax
    writers emit it) changes nothing: the stream reports each row once,
    as ``read_changes`` does, not again as a fresh insert."""
    from collections import Counter

    d, log = _mk_table(tmp_path, "readd")
    _write_file(d, "f0.parquet", {"k": [1, 2], "v": [10, 20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(False),
                   log.add_action_for("f0.parquet")])
    log.commit(1, [log.add_action_for("f0.parquet")])
    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    assert want == Counter({(1, 10, "insert", 0): 1,
                            (2, 20, "insert", 0): 1})
    assert Counter(got) == want


def test_cdc_replication_pipeline_exactly_once(spark, tmp_path):
    """The composed pipeline: delta_cdc SOURCE -> insert rows ->
    delta_txn_sink into a second Delta table.  Incremental drains
    replicate appends exactly once; a re-drain through a FRESH sink
    checkpoint replays batch 0 and the target's txn watermark refuses
    the duplicates — exactly-once end to end across two tables."""
    from pyspark.sql import functions as F

    src_dir, src_log = _mk_table(tmp_path, "repl_src")
    _write_file(src_dir, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    src_log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                       _meta(True), src_log.add_action_for("a.parquet")])
    tgt_dir = str(tmp_path / "repl_tgt")
    tgt_log = DeltaLog(tgt_dir)
    spark.dataSource.register(DeltaCDCStreamSource)

    def replicate(ckpt):
        df = (spark.readStream.format("delta_cdc")
              .option("path", src_dir).load())
        inserts = (df.where(F.col("_change_type") == "insert")
                   .select("k", "v"))

        def sink(batch_df, batch_id):
            DeltaLog(tgt_dir).append_stream_batch(
                batch_df, "replicator", batch_id)

        q = (inserts.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    ck = str(tmp_path / "repl_ck")
    replicate(ck)
    assert sorted(
        tuple(r) for r in tgt_log.read(spark).collect()
    ) == [(1, 10), (2, 20)]

    # incremental: one more append replicates once
    _write_file(src_dir, "b.parquet", {"k": [3], "v": [30]})
    src_log.commit(1, [src_log.add_action_for("b.parquet")])
    replicate(ck)
    assert sorted(
        tuple(r) for r in tgt_log.read(spark).collect()
    ) == [(1, 10), (2, 20), (3, 30)]

    # sink checkpoint LOST: the replayed batch 0 (full feed) is
    # refused by the target's txn watermark
    replicate(str(tmp_path / "repl_ck2"))
    assert sorted(
        tuple(r) for r in tgt_log.read(spark).collect()
    ) == [(1, 10), (2, 20), (3, 30)]


@pytest.mark.slow
def test_cdc_source_column_mapped_name_mode(spark, tmp_path):
    """Name-mode mapped CDF table: cdc and add files carry PHYSICAL
    column names; the stream translates through the metadata map and
    matches the batch face logically."""
    from collections import Counter

    from pyspark.sql import functions as F

    d = str(tmp_path / "mapped_src")
    os.makedirs(d)
    log = DeltaLog(d)
    fields = [
        {"name": n, "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName": f"col-{n}"}}
        for i, n in enumerate(("k", "v"))
    ]
    pd.DataFrame({"col-k": [1, 2, 3],
                  "col-v": [10, 20, 30]}).to_parquet(
        os.path.join(d, "a.parquet"))
    log.commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
                "delta.enableChangeDataFeed": "true"},
        }},
        log.add_action_for("a.parquet"),
    ])
    log.update_where(spark, {"k": (2, 2)}, {"v": F.col("v") + 100},
                     now_ms=1000)
    log.delete_where(spark, {"k": (3, 3)}, now_ms=2000)

    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    assert Counter(got) == want
    assert {"update_preimage", "update_postimage", "delete",
            "insert"} <= {t[2] for t in got}


@pytest.mark.slow
def test_cross_format_replication_delta_to_iceberg(spark, tmp_path):
    """CROSS-FORMAT pipeline: delta_cdc source -> iceberg epoch sink.
    A Delta table's insert feed replicates into an Iceberg table
    exactly once, surviving a lost sink checkpoint — the two formats'
    idempotence mechanisms compose because both key on the batch id."""
    from pyspark.sql import functions as F

    from hadoop_sync_spark.iceberg_meta import IcebergTable

    src_dir, src_log = _mk_table(tmp_path, "x_src")
    _write_file(src_dir, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    src_log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                       _meta(True), src_log.add_action_for("a.parquet")])
    tgt_dir = str(tmp_path / "x_tgt")
    tgt = IcebergTable.create(tgt_dir,
                              [("k", "bigint"), ("v", "bigint")],
                              now_ms=1)
    spark.dataSource.register(DeltaCDCStreamSource)

    def replicate(ckpt):
        df = (spark.readStream.format("delta_cdc")
              .option("path", src_dir).load())
        inserts = (df.where(F.col("_change_type") == "insert")
                   .select("k", "v"))

        def sink(batch_df, batch_id):
            IcebergTable(tgt_dir).append_stream_batch(
                batch_df, "x-repl", batch_id)

        q = (inserts.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    ck = str(tmp_path / "x_ck")
    replicate(ck)
    assert sorted((r.k, r.v) for r in tgt.read(spark).collect()) == [
        (1, 10), (2, 20)]
    # incremental + lost-checkpoint replay
    _write_file(src_dir, "b.parquet", {"k": [3], "v": [30]})
    src_log.commit(1, [src_log.add_action_for("b.parquet")])
    replicate(ck)
    replicate(str(tmp_path / "x_ck2"))  # fresh checkpoint: refused
    assert sorted((r.k, r.v) for r in tgt.read(spark).collect()) == [
        (1, 10), (2, 20), (3, 30)]


# ---------------------------------------- iceberg_incremental source


def _ice_drain(spark, table_dir, ckpt, rows_out, **options):
    from hadoop_sync_spark.cdc_source import (
        IcebergIncrementalStreamSource,
    )

    spark.dataSource.register(IcebergIncrementalStreamSource)
    df = (spark.readStream.format("iceberg_incremental")
          .option("path", table_dir).options(**options).load())

    def sink(batch_df, _bid):
        rows_out.extend(tuple(r) for r in batch_df.collect())

    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


@pytest.mark.slow
def test_cdc_source_id_mode(spark, tmp_path):
    """id-mode twin (round 13 — the r12 refusal lifted): the streamed
    feed resolves each planned file's physical names from ITS OWN
    footer field ids on the executor — even when the incumbent names
    (col-zzz/col-qqq here) disagree with the metadata physicalName —
    and matches the batch face as a multiset."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    d = str(tmp_path / "id_src")
    os.makedirs(d)
    log = DeltaLog(d)
    fields = [
        {"name": n, "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName": f"col-{n}"}}
        for i, n in enumerate(("k", "v"))
    ]
    # incumbent file: divergent physical names, conforming field ids
    pq_.write_table(
        pa.table(
            {"col-zzz": pa.array([1, 2, 3], pa.int64()),
             "col-qqq": pa.array([10, 20, 30], pa.int64())},
            schema=pa.schema([
                pa.field("col-zzz", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field("col-qqq", pa.int64(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]),
        ),
        os.path.join(d, "a.parquet"),
    )
    log.commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "2",
                "delta.enableChangeDataFeed": "true"},
        }},
        log.add_action_for("a.parquet"),
    ])
    log.update_where(spark, {"k": (2, 2)}, {"v": F.col("v") + 100},
                     now_ms=1000)
    log.delete_where(spark, {"k": (3, 3)}, now_ms=2000)

    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    assert Counter(got) == want
    assert (2, 120, "update_postimage", 1) in want


def test_iceberg_incremental_source(spark, tmp_path):
    """Streamed append snapshots match the batch incremental face:
    rows tagged with the snapshot that added them, compaction silent,
    only new sequence numbers on a second drain."""
    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_inc")
    t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1)
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    s0 = t.append_stream_batch(b0, "w", 0, now_ms=2)

    got: list = []
    ck = str(tmp_path / "ck")
    _ice_drain(spark, d, ck, got)
    assert sorted(got) == sorted(
        (r.k, r.v, r._snapshot_id)
        for r in t.read(spark).selectExpr(
            "k", "v", f"cast({s0} as long) as _snapshot_id"
        ).collect())

    # no new snapshots: nothing arrives
    got2: list = []
    _ice_drain(spark, d, ck, got2)
    assert got2 == []

    # a second append streams ONLY its own rows; compaction between
    # the appends is silent (replace snapshots add no rows)
    t.compact(spark, now_ms=3)
    b1 = spark.createDataFrame([(3, 30)], "k long, v long")
    s1 = t.append_stream_batch(b1, "w", 1, now_ms=4)
    got3: list = []
    _ice_drain(spark, d, ck, got3)
    assert got3 == [(3, 30, s1)]


@pytest.mark.slow
def test_iceberg_incremental_partitioned_pv_attach(spark, tmp_path):
    """Streamed per-tuple data files EXCLUDE identity partition
    columns (the partitioned append shape); the source attaches the
    value from the manifest tuple."""
    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_inc_part")
    t = IcebergTable.create(d, [("k", "bigint"), ("p", "bigint")],
                            partition_by=[("p", "long")], now_ms=1)
    b0 = spark.createDataFrame([(1, 0), (2, 1)], "k long, p long")
    s0 = t.append_stream_batch(b0, "w", 0, now_ms=2)

    got: list = []
    _ice_drain(spark, d, str(tmp_path / "ck"), got)
    assert sorted(got) == [(1, 0, s0), (2, 1, s0)]


@pytest.mark.slow
def test_iceberg_incremental_custom_named_identity_pv(spark, tmp_path):
    """An identity partition field with an EXPLICIT custom name
    (create's 4-element spec form, which the collision guard permits)
    must still attach its manifest value to the SOURCE column: the
    manifest tuple is keyed by spec-field name, and planning remaps it
    via the spec's source-id (ADVICE r12 — attaching by schema column
    name silently null-filled the column while batch incremental_scan
    emitted values)."""
    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_inc_custom")
    t = IcebergTable.create(
        d, [("k", "bigint"), ("p", "bigint")],
        partition_by=[("p", "long", "identity", "p_part")], now_ms=1,
    )
    b0 = spark.createDataFrame([(1, 0), (2, 1)], "k long, p long")
    s0 = t.append_stream_batch(b0, "w", 0, now_ms=2)

    got: list = []
    _ice_drain(spark, d, str(tmp_path / "ck"), got)
    assert sorted(got) == [(1, 0, s0), (2, 1, s0)]
    assert all(r[1] is not None for r in got)


@pytest.mark.slow
def test_iceberg_incremental_renamed_history(spark, tmp_path):
    """A rename BEFORE stream start resolves per field id (round 13 —
    the r12 refusal lifted): pre-rename files carry the old physical
    name, the executor resolves variants against each file's own
    schema and emits CURRENT names.  A rename AFTER stream start
    still refuses through the pinned-schema check."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable

    d = str(tmp_path / "ice_ren")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(d, [("k", "bigint"), ("val", "string")],
                            now_ms=1)

    def write_pq(name, ks, col):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({
            "k": pa.array(ks, pa.int64()),
            col: pa.array([f"v{i}" for i in ks], pa.string()),
        }), p)
        return DataFile(path=f"data/{name}", partition={},
                        record_count=len(ks),
                        file_size=os.path.getsize(p))

    s1 = t.append([write_pq("f1.parquet", [1, 2], "val")], now_ms=2)
    t.rename_column("val", "label", now_ms=3)
    s2 = t.append([write_pq("f2.parquet", [3], "label")], now_ms=4)

    got: list = []
    _ice_drain(spark, d, str(tmp_path / "ck"), got)
    assert sorted(got) == [(1, "v1", s1), (2, "v2", s1),
                           (3, "v3", s2)]

    # a rename AFTER reader construction is a mid-stream schema
    # change: the new schema id is unknown to the construction-time
    # variant map, so planning refuses rather than silently
    # null-filling the renamed column
    from hadoop_sync_spark.cdc_source import _IceIncStreamReader

    rdr = _IceIncStreamReader({"path": d})
    rdr.initialOffset()
    t.rename_column("label", "tag", now_ms=5)
    s3 = t.append([write_pq("f3.parquet", [9], "tag")], now_ms=6)
    with pytest.raises(NotImplementedError, match="schema changed"):
        rdr.partitions({"sequence": 1}, rdr.latestOffset())

    # ...and a RESTART (fresh reader, same checkpoint) picks the new
    # schema up, resolving every era — exactly what the refusal
    # message prescribes
    got2: list = []
    _ice_drain(spark, d, str(tmp_path / "ck"), got2)
    assert got2 == [(9, "v9", s3)]


@pytest.mark.slow
def test_iceberg_changelog_stream_matches_batch(spark, tmp_path):
    """``mode=changelog`` (round 13 stretch — the true twin of
    delta_cdc's full feed): the streamed row-level changelog over a
    DELETE + UPDATE + MERGE + compaction history equals
    ``changelog_scan`` over the same range as a multiset — the batch
    face is the oracle, and the oracle chain extends it to the fuzz
    model.  Derivation is per-file visibility masks on executors;
    compaction is silent; the append-mode delete refusal names this
    mode as the fix."""
    from collections import Counter

    from hadoop_sync_spark.cdc_source import (
        IcebergIncrementalStreamSource,
    )
    from hadoop_sync_spark.iceberg_meta import IcebergTable
    from pyspark.sql import functions as F

    d = str(tmp_path / "ice_clog")
    t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1)
    b0 = spark.createDataFrame([(i, i * 10) for i in range(1, 6)],
                               "k long, v long")
    s1 = t.append_stream_batch(b0, "w", 0, now_ms=2)       # seq 1
    t.delete_rows(spark, {"k": (2, 2)}, now_ms=3)          # pos delete
    t.update_rows(spark, {"k": (4, 4)}, {"v": F.lit(444)},
                  now_ms=4)                                # pos+copy
    src = spark.createDataFrame([(3, 33), (9, 90)], "k long, v long")
    t.merge_upsert(spark, src, "k", now_ms=5)              # eq delete
    t.compact(spark, now_ms=6)                             # replace
    b1 = spark.createDataFrame([(7, 70)], "k long, v long")
    t.append_stream_batch(b1, "w", 1, now_ms=7)            # post-compact

    spark.dataSource.register(IcebergIncrementalStreamSource)
    got: list = []
    df = (spark.readStream.format("iceberg_incremental")
          .option("path", d).option("mode", "changelog")
          .option("startingSequence", 2).load())

    def sink(bdf, _bid):
        got.extend(tuple(r) for r in bdf.collect())

    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    want = Counter(
        (r.k, r.v, r._change_type, r._snapshot_id)
        for r in t.changelog_scan(spark, s1).collect()
    )
    assert Counter(got) == want
    kinds = {g[2] for g in got}
    assert kinds == {"insert", "delete"}
    # the history really exercised all three row-level faces
    assert (2, 20, "delete") in {(g[0], g[1], g[2]) for g in got}
    assert (4, 444, "insert") in {(g[0], g[1], g[2]) for g in got}
    assert (3, 33, "insert") in {(g[0], g[1], g[2]) for g in got}

    # a second drain over NEW history streams only the new effect
    t.delete_rows(spark, {"k": (9, 9)}, now_ms=8)
    got2: list = []
    df2 = (spark.readStream.format("iceberg_incremental")
           .option("path", d).option("mode", "changelog")
           .option("startingSequence", 2).load())
    q2 = (df2.writeStream.foreachBatch(
            lambda b, _i: got2.extend(tuple(r) for r in b.collect()))
          .option("checkpointLocation", str(tmp_path / "ck"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    assert {(g[0], g[2]) for g in got2} == {(9, "delete")}


def test_iceberg_changelog_nan_equality_delete_key(spark, tmp_path):
    """An equality delete keyed on NaN hides the NaN row (``read()``
    matches null-safely, and ``eqNullSafe`` matches NaN), so both
    changelog faces must emit it.  Neither manifest bounds nor footer
    stats record NaN: a [min, max] prune of the strictly older files
    by the delete keys' range would drop the file holding it, so the
    planner does not range-prune float/double keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.iceberg_meta import (
        DataFile,
        IcebergTable,
        parquet_column_bounds,
    )

    d = str(tmp_path / "ice_nan")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(d, [("k", "bigint"), ("x", "double")],
                            now_ms=1)
    fields = t._schema_by_id(0)["fields"]
    files = []
    for name, ks, xs in (("f1.parquet", [1, 2], [0.5, float("nan")]),
                         ("f2.parquet", [3], [5.0])):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64()),
                                 "x": pa.array(xs, pa.float64())}), p)
        lb, ub = parquet_column_bounds(p, fields)
        files.append(DataFile(f"data/{name}", {}, len(ks),
                              os.path.getsize(p),
                              lower_bounds=lb, upper_bounds=ub))
    s1 = t.append(files, now_ms=2)
    t.add_equality_deletes([{"x": float("nan")}, {"x": 1.0}], [2],
                           now_ms=3)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]
    assert [(r.k, r._change_type)
            for r in t.changelog_scan(spark, s1).collect()] == [
        (2, "delete")]
    got: list = []
    _ice_drain(spark, d, str(tmp_path / "ck"), got, mode="changelog",
               startingSequence=2)
    assert [(g[0], g[2]) for g in got] == [(2, "delete")]


@pytest.mark.slow
def test_cdc_source_mapped_partitioned_and_fanout(spark, tmp_path):
    """The remaining matrix cell: name-mode mapping AND partitioning
    together — cdc/add files carry physical data columns, the
    partition column restores from PHYSICAL partitionValues keys.
    Also pins the planner's fan-out contract: one InputPartition per
    file, so a multi-file batch parallelizes across executors."""
    from hadoop_sync_spark.cdc_source import _CDCStreamReader

    d = str(tmp_path / "mp_src")
    os.makedirs(d)
    log = DeltaLog(d)
    fields = [
        {"name": n, "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName": f"col-{n}"}}
        for i, n in enumerate(("k", "v", "p"))
    ]
    pd.DataFrame({"col-k": [1, 2], "col-v": [10, 20]}).to_parquet(
        os.path.join(d, "a.parquet"))
    pd.DataFrame({"col-k": [3], "col-v": [30]}).to_parquet(
        os.path.join(d, "b.parquet"))
    log.commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": ["p"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
                "delta.enableChangeDataFeed": "true"},
        }},
        log.add_action_for("a.parquet",
                           partitionValues={"col-p": "0"}),
        log.add_action_for("b.parquet",
                           partitionValues={"col-p": "1"}),
    ])
    log.delete_where(spark, {"k": (1, 1)}, now_ms=1000)

    # planner fan-out: version 0's two files = two parts, each typed
    rdr = _CDCStreamReader({"path": d})
    parts = rdr.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 2
    assert sorted(p.pv["p"] for p in parts) == [0, 1]

    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got)
    assert sorted(got) == [
        (1, 10, 0, "delete", 1), (1, 10, 0, "insert", 0),
        (2, 20, 0, "insert", 0), (3, 30, 1, "insert", 0)]


def test_cdc_source_refuses_vacuumed_prefix(spark, tmp_path):
    """An offset below the log's retained history refuses loudly
    (vacuumed commits) instead of silently skipping changes."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    d, log = _mk_table(tmp_path, "vac_src")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(True),
                   log.add_action_for("a.parquet")])
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(1, [log.add_action_for("b.parquet")])
    log.write_checkpoint()
    assert log.expire_log() == [0]
    got: list = []
    with pytest.raises(StreamingQueryException,
                       match="vacuumed|missing"):
        _drain(spark, d, str(tmp_path / "ck"), got, starting=0)


def test_cdc_source_streams_from_checkpoint_after_expiry(spark, tmp_path):
    """A stream whose next batch starts at the newest checkpoint still
    plans after ``expire_log`` removed every commit below it: the live
    files before the checkpoint's commit come from the checkpoint with
    that commit undone (a re-added file's removed deletion vector comes
    back), so the drain equals ``read_changes`` over the same range."""
    from collections import Counter

    d, log = _mk_table(tmp_path, "cp_src")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(False),
                   log.add_action_for("a.parquet")])
    _write_file(d, "b.parquet", {"k": [4], "v": [40]})
    log.commit(1, [log.add_action_for("b.parquet")])
    log.delete_where(spark, {"k": (1, 1)}, now_ms=1000)
    log.delete_where(spark, {"k": (2, 2)}, now_ms=2000)
    _write_file(d, "c.parquet", {"k": [5], "v": [50]})
    log.commit(4, [log.add_action_for("c.parquet")])
    log.write_checkpoint(3)
    assert log.expire_log() == [0, 1, 2]
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 3).collect()
    )
    assert want == Counter({(2, 20, "delete", 3): 1,
                            (5, 50, "insert", 4): 1})
    from hadoop_sync_spark.cdc_source import _CDCStreamReader

    parts = _CDCStreamReader({"path": d}).partitions(
        {"version": 3}, {"version": 5})
    assert sorted({p.commit_version for p in parts}) == [3, 4]
    got: list = []
    _drain(spark, d, str(tmp_path / "ck"), got, starting=3)
    assert Counter(got) == want


def test_cdc_source_dv_limit_names_the_commit(spark, tmp_path,
                                              monkeypatch):
    """The planner's one deletion-vector decode cap binds both faces.
    Over a range it asks for a narrower one, which a one-version batch
    stream drains; a commit over the cap on its own is refused by
    number, saying no read or stream can pass it."""
    from collections import Counter

    from hadoop_sync_spark.cdc_source import _CDCStreamReader

    d, log = _mk_table(tmp_path, "cap_src")
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4, 5, 6],
                                 "v": [10, 20, 30, 40, 50, 60]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(False),
                   log.add_action_for("a.parquet")])
    log.delete_where(spark, {"k": (1, 2)}, now_ms=1000)  # decodes 2
    log.delete_where(spark, {"k": (3, 3)}, now_ms=2000)  # decodes 2 + 3
    want = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    )
    monkeypatch.setattr(DeltaLog, "READ_CHANGES_ROW_LIMIT", 6)
    with pytest.raises(ValueError, match="narrower version range"):
        log.read_changes(spark, 0)
    with pytest.raises(ValueError, match="narrower version range"):
        _CDCStreamReader({"path": d}).partitions({"version": 1},
                                                 {"version": 3})
    reader = _CDCStreamReader({"path": d, "maxVersionsPerBatch": "1"})
    got: list = []
    start = reader.initialOffset()
    while (end := reader.latestOffset()) != start:
        for part in reader.partitions(start, end):
            for batch in reader.read(part):
                got += [tuple(r.values()) for r in batch.to_pylist()]
        reader.commit(end)
        start = end
    assert Counter(got) == want
    monkeypatch.setattr(DeltaLog, "READ_CHANGES_ROW_LIMIT", 4)
    for plan in (lambda: log.read_changes(spark, 2, 2),
                 lambda: reader.partitions({"version": 2},
                                           {"version": 3})):
        with pytest.raises(ValueError, match=r"commit 2 alone exceeds "
                           r"it.*no delta_cdc stream can pass it"):
            plan()


def test_iceberg_incremental_refuses_expired_history(spark, tmp_path):
    """Parity with delta_cdc's vacuumed-commit refusal: an offset
    predating the oldest RETAINED snapshot refuses loudly instead of
    silently skipping the expired snapshots' rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_exp")
    t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1)
    for e in range(3):
        t.append_stream_batch(
            spark.createDataFrame([(e, e * 10)], "k long, v long"),
            "w", e, now_ms=10 + e)
    expired = t.expire_snapshots(keep_last=1, now_ms=100)
    assert expired
    got: list = []
    with pytest.raises(StreamingQueryException, match="retained"):
        _ice_drain(spark, d, str(tmp_path / "ck"), got)
    # an offset AT the retained head still streams (fresh consumer
    # starting from the current sequence)
    from hadoop_sync_spark.cdc_source import (
        IcebergIncrementalStreamSource,
    )

    spark.dataSource.register(IcebergIncrementalStreamSource)
    head_seq = t.snapshot()["sequence-number"]
    df = (spark.readStream.format("iceberg_incremental")
          .option("path", d)
          .option("startingSequence", head_seq).load())
    got2: list = []

    def sink(batch_df, _bid):
        got2.extend(tuple(r) for r in batch_df.collect())

    q = (df.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert [(k, v) for k, v, _ in got2] == [(2, 20)]


def test_iceberg_incremental_refuses_deletes(spark, tmp_path):
    """A delete snapshot in the streamed range refuses, naming the
    changelog face — the incremental contract, same as the batch
    twin."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hadoop_sync_spark.iceberg_meta import IcebergTable

    d = str(tmp_path / "ice_del")
    t = IcebergTable.create(d, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1)
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    t.append_stream_batch(b0, "w", 0, now_ms=2)
    t.delete_rows(spark, {"k": (1, 1)}, now_ms=3)
    got: list = []
    with pytest.raises(StreamingQueryException, match="changelog"):
        _ice_drain(spark, d, str(tmp_path / "ck"), got)


def test_visibility_mask_vectorized_matches_tuple_reference(tmp_path):
    """Round-14 internals pin: the vectorized equality-delete mask
    (arrow ``is_in`` single-key; dictionary codes + packed-radix /
    structured ``np.isin`` multi-key) must be BIT-IDENTICAL to the
    round-13 per-row tuple-set semantics — null-safe matching (None ==
    None), renamed-history variants, metadata-only identity-partition
    keys, and delete-vs-data type promotion included.  Runs
    _visibility_mask directly (it is the executor-side core; no Spark
    needed)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.cdc_source import (
        _ICE_EQ,
        _ICE_POS,
        _IceChangePart,
        _IceIncStreamReader,
    )

    def reference_mask(tbl, p, dels):
        """The pre-vectorization tuple-set semantics, verbatim."""
        n = tbl.num_rows
        if dels is None:
            return np.zeros(n, dtype=bool)
        m = np.ones(n, dtype=bool)
        names = set(tbl.schema.names)
        for dpath, content, _dseq, keys in dels:
            if content == _ICE_POS:
                dt = pq.read_table(dpath, columns=["file_path", "pos"])
                for fp, pos in zip(dt.column("file_path").to_pylist(),
                                   dt.column("pos").to_pylist()):
                    if fp == p.raw_path and 0 <= pos < n:
                        m[pos] = False
            else:
                dt = pq.read_table(dpath)
                dnames = set(dt.schema.names)
                del_cols, data_cols = [], []
                for _fid, kn in keys:
                    dc = next(
                        (v for v in (p.variants or {}).get(kn, (kn,))
                         if v in dnames), None)
                    del_cols.append(dt.column(dc).to_pylist())
                    fc = next(
                        (v for v in (p.variants or {}).get(kn, (kn,))
                         if v in names), None)
                    if fc is not None:
                        data_cols.append(tbl.column(fc).to_pylist())
                    else:
                        data_cols.append([p.pv.get(kn)] * n)
                del_keys = set(zip(*del_cols)) if del_cols else set()
                for i, kt in enumerate(zip(*data_cols)):
                    if m[i] and kt in del_keys:
                        m[i] = False
        return m

    rng = np.random.default_rng(11)
    n = 5_000
    tbl = pa.table({
        "k1": pa.array([None if i % 97 == 0 else int(x)
                        for i, x in enumerate(
                            rng.integers(0, 400, n))], pa.int64()),
        "s_old": pa.array([None if i % 89 == 0 else f"s{x % 37}"
                           for i, x in enumerate(range(n))]),
        "v": pa.array(np.arange(n)),
    })

    def write(name, table):
        path = str(tmp_path / name)
        pq.write_table(table, path)
        return path

    # 1-key with nulls on both sides (null-safe match required)
    eq1 = write("eq1.parquet", pa.table({
        "k1": pa.array([1, 2, None, 399], pa.int64())}))
    # 2-key: renamed-history variant on the string key (delete file
    # carries s_old; "current" name is s_new) + nulls + an int32 delete
    # column against the int64 data column (type unification)
    eq2 = write("eq2.parquet", pa.table({
        "k1": pa.array([3, None, 7, 8], pa.int32()),
        "s_old": pa.array(["s3", None, "s7", "s9"])}))
    # metadata-only identity-partition key (pt lives only in pv)
    eq3 = write("eq3.parquet", pa.table({
        "k1": pa.array([5, 6], pa.int64()),
        "pt": pa.array(["a", "b"])}))
    # position delete
    posd = write("pos.parquet", pa.table({
        "file_path": pa.array(["data.parquet"] * 3 + ["other"] ),
        "pos": pa.array([0, 17, 4_999, 5], pa.int64())}))

    part = _IceChangePart(
        abs_path="", raw_path="data.parquet", seq=1, snapshot_id=1,
        role="insert", dels_before=(), dels_after=(),
        pv={"pt": "a"}, out_cols=("k1", "s_new", "v"),
        arrow_schema=None,
        variants={"s_new": ("s_new", "s_old"), "pt": ("pt",)})

    dels = (
        (eq1, _ICE_EQ, 9, ((1, "k1"),)),
        (eq2, _ICE_EQ, 9, ((1, "k1"), (2, "s_new"))),
        (eq3, _ICE_EQ, 9, ((1, "k1"), (3, "pt"))),
        (posd, _ICE_POS, 9, ()),
    )
    got = _IceIncStreamReader._visibility_mask(tbl, part, dels)
    want = reference_mask(tbl, part, dels)
    assert (got == want).all()
    # the masks must actually hide something for the pin to mean much
    assert 0 < int(want.sum()) < n
    # dels=None (file removed at that side): nothing visible
    assert not _IceIncStreamReader._visibility_mask(
        tbl, part, None).any()


def test_visibility_mask_refuses_nonconforming_delete_key_type(tmp_path):
    """A string-keyed equality delete against a long data column is a
    malformed delete file: a ValueError naming the file, the key column
    and both types (it was a bare ArrowInvalid from the cast)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.cdc_source import (
        _ICE_EQ,
        _IceChangePart,
        _IceIncStreamReader,
    )

    tbl = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    eq = str(tmp_path / "eq_str.parquet")
    pq.write_table(pa.table({"k": pa.array(["x", "2"])}), eq)
    part = _IceChangePart(
        abs_path="", raw_path="data.parquet", seq=1, snapshot_id=1,
        role="insert", dels_before=(), dels_after=(), pv={},
        out_cols=("k",))
    with pytest.raises(ValueError) as err:
        _IceIncStreamReader._visibility_mask(
            tbl, part, ((eq, _ICE_EQ, 9, ((1, "k"),)),))
    msg = str(err.value)
    assert "eq_str.parquet" in msg and "'k'" in msg
    assert "string" in msg and "int64" in msg
