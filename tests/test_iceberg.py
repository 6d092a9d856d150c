"""Iceberg table-format tests (hadoop_sync_spark/iceberg_meta.py).

Mirrors the Delta suite's strategy (tests/test_delta_log.py): a
deterministic multi-snapshot fixture exercises the full metadata tree —
create → append → append → copy-on-write delete — and pins snapshot
isolation, time travel (by id and by timestamp), metadata-only planning,
two-layer partition pruning, commit-collision put-if-absent,
merge-on-read delete files (position + equality, round 8 — sequence
rules, upsert semantics, carry-through-CoW, metadata-only planning),
and the honest seams (non-identity transforms, unknown format
versions).
"""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_sync_spark import iceberg_meta
from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable


@pytest.fixture()
def table(tmp_path):
    """3-snapshot partitioned table over simple (id, val, p_bucket) rows."""
    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, "data"))

    def write_pq(name, ids, bucket):
        p = os.path.join(d, "data", name)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            p,
        )
        return DataFile(
            path=f"data/{name}",
            partition={"p_bucket": bucket},
            record_count=len(ids),
            file_size=os.path.getsize(p),
        )

    t = IcebergTable.create(
        d,
        [("id", "bigint"), ("val", "string"), ("p_bucket", "int")],
        partition_by=[("p_bucket", "int")],
        now_ms=1000,
    )
    s1 = t.append(
        [write_pq("f1.parquet", [1, 2, 3], 0), write_pq("f2.parquet", [4, 5], 1)],
        now_ms=2000,
    )
    s2 = t.append([write_pq("f3.parquet", [6], 2)], now_ms=3000)
    s3 = t.delete({"data/f2.parquet"}, now_ms=4000)
    return t, (s1, s2, s3)


def _names(files):
    return sorted(f.path.rsplit("/", 1)[-1] for f in files)


def test_snapshot_lifecycle_and_live_set(table):
    t, (s1, s2, s3) = table
    assert _names(t.files()) == ["f1.parquet", "f3.parquet"]
    assert _names(t.files(snapshot_id=s1)) == ["f1.parquet", "f2.parquet"]
    assert _names(t.files(snapshot_id=s2)) == [
        "f1.parquet",
        "f2.parquet",
        "f3.parquet",
    ]
    ops = [(h["operation"], h["is_current"]) for h in t.history()]
    assert ops == [("overwrite", True), ("append", False), ("append", False)]
    # sequence numbers strictly increase
    seqs = [h["sequence_number"] for h in t.history()]
    assert seqs == sorted(seqs, reverse=True) and len(set(seqs)) == 3


def test_time_travel_by_timestamp(table):
    t, (s1, s2, s3) = table
    assert _names(t.files(as_of_timestamp_ms=2500)) == [
        "f1.parquet",
        "f2.parquet",
    ]
    assert _names(t.files(as_of_timestamp_ms=9999)) == _names(t.files())
    with pytest.raises(ValueError, match="no snapshot"):
        t.files(as_of_timestamp_ms=500)


def test_planning_is_metadata_only(table):
    """files() must not open any data file: delete every parquet on disk
    and planning still resolves the full live set — the manifest tree is
    the catalog, exactly the property that lets scan planning run on a
    driver without touching 100 TB of data."""
    t, _ = table
    before = _names(t.files())
    for f in t.files():
        os.remove(f.path)
    assert _names(t.files()) == before


def test_partition_pruning_two_layers(table, monkeypatch):
    t, _ = table
    assert _names(t.files(partition_filter={"p_bucket": 2})) == ["f3.parquet"]
    assert _names(t.files(partition_filter={"p_bucket": 0})) == ["f1.parquet"]
    # out-of-bounds filter: the manifest-list summary must prune the
    # whole manifest, so NO manifest file is ever opened
    import hadoop_sync_spark.iceberg_meta as M

    opened = []
    real = M.read_ocf

    def spy(path):
        opened.append(os.path.basename(path))
        return real(path)

    monkeypatch.setattr(M, "read_ocf", spy)
    assert t.files(partition_filter={"p_bucket": 99}) == []
    assert all("manifest-list" in p for p in opened), opened


def test_pruned_to_empty_read_keeps_column_order(spark, table):
    """A filter that prunes EVERY file returns an empty frame whose
    column ORDER matches the non-empty path exactly — data columns from
    the pinned snapshot schema first, partition columns appended last
    (ADVICE r10: the old empty path emitted schema order with partition
    columns interleaved, breaking positional consumers and
    union-by-position between the two outcomes of the same call)."""
    t, _ = table
    nonempty = t.read(spark, partition_filter={"p_bucket": 0})
    empty = t.read(spark, partition_filter={"p_bucket": 99})
    assert empty.count() == 0
    assert empty.columns == nonempty.columns
    # union-by-position across the two outcomes is now well-typed
    assert nonempty.union(empty).count() == nonempty.count()


def test_read_through_spark_with_time_travel(spark, table):
    t, (s1, _, _) = table
    now = t.read(spark)
    assert sorted(r["id"] for r in now.collect()) == [1, 2, 3, 6]
    old = t.read(spark, snapshot_id=s1)
    assert sorted(r["id"] for r in old.collect()) == [1, 2, 3, 4, 5]
    # identity partition values attach as columns from the manifest
    got = {
        (r["id"], r["p_bucket"]) for r in now.select("id", "p_bucket").collect()
    }
    assert got == {(1, 0), (2, 0), (3, 0), (6, 2)}
    pruned = t.read(spark, partition_filter={"p_bucket": 0})
    assert sorted(r["id"] for r in pruned.collect()) == [1, 2, 3]


def test_commit_collision_put_if_absent(table):
    t, _ = table
    v = t.current_version()
    meta = t.metadata()
    with pytest.raises(FileExistsError):
        t._write_metadata(v, meta)  # same version: exactly one writer wins


def test_delete_requires_a_match_and_keeps_history(table):
    t, (s1, _, _) = table
    with pytest.raises(ValueError, match="matched no"):
        t.delete({"data/nope.parquet"}, now_ms=5000)
    # the removed file is still resolvable through the old snapshot
    assert "f2.parquet" in _names(t.files(snapshot_id=s1))


def test_honest_seams(table, tmp_path):
    t, _ = table
    # an unimplemented transform refuses instead of mis-pruning
    # (bucket/truncate are REAL since round 8, year/month/day/hour too,
    # void — the v1 tombstone — reads as of round 11; an unknown
    # spelling stays the refusal)
    meta = t.metadata()
    bad = json.loads(json.dumps(meta))
    bad["partition-specs"][0]["fields"][0]["transform"] = "zorder[2]"
    v = t.current_version() + 1
    path = os.path.join(t.meta_dir, f"v{v}.metadata.json")
    json.dump(bad, open(path, "w"))
    open(t._hint_path(), "w").write(str(v))
    with pytest.raises(NotImplementedError, match="transform"):
        t.files()
    # unknown format version refuses at the metadata layer
    bad["format-version"] = 3
    json.dump(bad, open(path, "w"))
    with pytest.raises(NotImplementedError, match="format-version"):
        t.metadata()


def test_unpartitioned_table(tmp_path, spark):
    d = str(tmp_path / "flat")
    os.makedirs(os.path.join(d, "data"))
    p = os.path.join(d, "data", "a.parquet")
    pq.write_table(pa.table({"x": pa.array([10, 20], pa.int64())}), p)
    t = IcebergTable.create(d, [("x", "bigint")], now_ms=1)
    t.append(
        [DataFile(p, {}, 2, os.path.getsize(p))],
        now_ms=2,
    )
    assert [r["x"] for r in t.read(spark).orderBy("x").collect()] == [10, 20]


def test_registry_sync_of_iceberg_table_tracks_snapshots(spark, table):
    """register_iceberg routes the registry's FS state through the
    manifest walk — the Delta test's invariants against the other open
    format: snapshots arrive as shard adds/removes, a copy-on-write
    DELETE drops its shard while the data file still exists on disk
    (time travel holds it), and re-sync is a noop."""
    t, _ = table
    from hadoop_sync_spark.registry import Registry

    reg = Registry(spark, os.path.join(t.dir, "..", "meta"))
    reg.register_iceberg("t", t.dir)
    s = reg.sync("t")
    assert (s.added, s.removed) == (2, 0)  # live set: f1, f3
    assert sorted(
        os.path.basename(r["path"]) for r in reg.shards("t")
    ) == ["f1.parquet", "f3.parquet"]
    assert reg.sync("t").noop
    # a new append snapshot -> one shard add through the same sync
    p = os.path.join(t.dir, "data", "f4.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64()), "val": ["v7"]}), p)
    t.append(
        [DataFile("data/f4.parquet", {"p_bucket": 3}, 1, os.path.getsize(p))],
        now_ms=5000,
    )
    s = reg.sync("t")
    assert (s.added, s.removed) == (1, 0)
    # a delete snapshot -> shard drops even though the FILE still exists
    t.delete({"data/f1.parquet"}, now_ms=6000)
    s = reg.sync("t")
    assert (s.added, s.removed) == (0, 1)
    assert os.path.exists(os.path.join(t.dir, "data", "f1.parquet"))
    # catalog-only read aggregates exactly the live rows
    assert sorted(r["id"] for r in reg.read("t").collect()) == [6, 7]


def test_cli_register_iceberg_and_sync(spark, table, capsys):
    from hadoop_sync_spark.__main__ import main

    t, _ = table
    meta = os.path.join(t.dir, "..", "climeta")
    assert main(["register", meta, "t", t.dir, "--format", "iceberg"]) == 0
    assert main(["sync", meta, "t"]) == 0
    assert "+2 -0 shards" in capsys.readouterr().out
    t.delete({"data/f1.parquet"}, now_ms=7000)
    assert main(["sync", meta, "t"]) == 0
    assert "+0 -1 shards" in capsys.readouterr().out


def test_registry_compact_delegates_to_iceberg(spark, tmp_path):
    """Registry.compact on an iceberg-registered table goes through
    IcebergTable.compact (replace snapshot; old snapshots readable) and
    syncs the new file list; noop when nothing bins."""
    from hadoop_sync_spark.registry import Registry

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2]),
              write_pq("f2.parquet", [3])], now_ms=2000)
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_iceberg("t", t.dir)
    reg.sync("t")
    assert len(reg.shards("t")) == 2
    r = reg.compact("t")
    assert not r.noop
    assert (r.groups, r.files_in, r.files_out) == (1, 2, 1)
    assert len(reg.shards("t")) == 1
    assert sorted(x.id for x in reg.read("t").collect()) == [1, 2, 3]
    # the rewrite is a normal replace snapshot: time travel intact
    first = sorted(t.snapshots(), key=lambda s: s["timestamp-ms"])[0]
    old = t.read(spark, snapshot_id=first["snapshot-id"])
    assert sorted(x.id for x in old.collect()) == [1, 2, 3]
    assert reg.compact("t").noop


def test_cli_maintain_iceberg(spark, tmp_path, capsys):
    """The maintain subcommand drives the format-native maintenance ops
    (round 9): expire + dangling-delete cleanup + vacuum on a registered
    iceberg table; wrong-format flags fail up-front with NO side effects."""
    from hadoop_sync_spark.__main__ import main

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3]),
              write_pq("f2.parquet", [4])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=3000)
    t.compact(spark, now_ms=4000)  # strands the position delete
    meta = str(tmp_path / "meta")
    assert main(["register", meta, "t", t.dir, "--format", "iceberg"]) == 0
    assert main(["sync", meta, "t"]) == 0
    capsys.readouterr()
    # a delta-only flag on an iceberg table: usage error, nothing ran
    v = t.current_version()
    assert main(["maintain", meta, "t", "--expire-log",
                 "--vacuum"]) == 2
    assert t.current_version() == v
    assert main(["maintain", meta, "t", "--remove-dangling-deletes"]) == 0
    assert "dropped 1 dangling delete file(s)" in capsys.readouterr().out
    assert main(["maintain", meta, "t", "--expire-keep-last", "1",
                 "--vacuum"]) == 0
    out = capsys.readouterr().out
    assert "expired" in out and "vacuumed" in out
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 4]


def test_cli_ddl_iceberg(spark, tmp_path, capsys):
    """The ddl subcommand drives the round-10 schema/ref faces on a
    registered iceberg table; non-iceberg tables and off-lattice
    promotions fail with exit 2 and no side effects."""
    from hadoop_sync_spark.__main__ import main

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    meta = str(tmp_path / "meta")
    assert main(["register", meta, "t", t.dir, "--format", "iceberg"]) == 0
    assert main(["sync", meta, "t"]) == 0
    capsys.readouterr()
    assert main(["ddl", meta, "t", "--add-column", "score", "double",
                 "--create-tag", "v1"]) == 0
    out = capsys.readouterr().out
    assert "added score" in out and "tagged v1" in out
    assert main(["ddl", meta, "t", "--rename-column", "val", "label"]) == 0
    capsys.readouterr()
    got = t.read(spark)
    assert sorted(got.columns) == ["id", "label", "score"]
    # the tag pins s1, whose schema predates BOTH DDLs: old names
    assert sorted(r.val for r in t.read(spark, ref="v1").collect()) \
        == ["v1", "v2"]
    # off-lattice promotion: exit 2, schema untouched
    v = t.current_version()
    assert main(["ddl", meta, "t", "--promote-column", "label",
                 "bigint"]) == 2
    assert t.current_version() == v
    assert main(["ddl", meta, "t", "--drop-ref", "v1"]) == 0
    capsys.readouterr()
    # plain-dir table refuses
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    _pq.write_table(_pa.table({"x": _pa.array([1])}),
                    os.path.join(plain, "a.parquet"))
    assert main(["register", meta, "p", plain]) == 0
    assert main(["ddl", meta, "p", "--drop-column", "x"]) == 2
    assert main(["ddl", meta, "t"]) == 0
    assert "nothing to do" in capsys.readouterr().out


def test_review_fixes_snapshotless_and_time_travel_ties(spark, tmp_path):
    """Round-7 self-review regressions: (1) a freshly created table
    (snapshots=[]) must diff/sync as an empty directory, not crash;
    (2) duplicate snapshot timestamps must time-travel to the LATEST
    eligible snapshot (snapshot-log append order), not the first tie;
    (3) current-snapshot-id=null with snapshots present must raise
    cleanly, not recurse; (4) table-uuid must be process-stable."""
    import json as _json

    from hadoop_sync_spark.registry import Registry

    d = str(tmp_path / "fresh")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(d, [("x", "bigint")], now_ms=1)

    # (1) snapshot-less: registry sync behaves like an empty dir
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_iceberg("t", d)
    s = reg.sync("t")
    assert (s.added, s.removed) == (0, 0) and s.noop

    # (4) uuid is content-derived (md5 of the path), so re-runs in any
    # process produce the identical metadata bytes
    import hashlib

    digest = hashlib.md5(d.encode()).hexdigest()
    assert t.metadata()["table-uuid"].replace("-", "") == digest

    # (2) two appends at the SAME timestamp: as-of resolves to the newer
    def add(name, ids, ms):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({"x": pa.array(ids, pa.int64())}), p)
        t.append(
            [DataFile(f"data/{name}", {}, len(ids), os.path.getsize(p))],
            now_ms=ms,
        )

    add("a.parquet", [1], 100)
    add("b.parquet", [2], 100)  # same now_ms
    assert _names(t.files(as_of_timestamp_ms=100)) == [
        "a.parquet",
        "b.parquet",
    ]

    # (3) null current-snapshot-id with snapshots listed: clean error
    meta = t.metadata()
    bad = _json.loads(_json.dumps(meta))
    bad["current-snapshot-id"] = None
    v = t.current_version() + 1
    _json.dump(bad, open(os.path.join(t.meta_dir, f"v{v}.metadata.json"), "w"))
    open(t._hint_path(), "w").write(str(v))
    with pytest.raises(ValueError, match="no current snapshot"):
        t.files()


def test_read_partition_attach_survives_uri_hostile_paths(spark, tmp_path):
    """ADVICE-r7 medium: the partition-attach join must key on the
    DECODED path on both sides.  A table rooted at a directory whose
    name needs percent-encoding (space) and contains a literal '+'
    (the url_decode x-www-form-urlencoded trap: '+' must stay '+')
    would previously inner-join on a re-encoded URI and silently drop
    every row on any encoding mismatch."""
    d = str(tmp_path / "odd name+dir" / "tbl")
    os.makedirs(os.path.join(d, "data"))

    def write_pq(name, ids, bucket):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        return DataFile(
            path=f"data/{name}",
            partition={"p_bucket": bucket},
            record_count=len(ids),
            file_size=os.path.getsize(p),
        )

    t = IcebergTable.create(
        d,
        [("id", "bigint"), ("p_bucket", "int")],
        partition_by=[("p_bucket", "int")],
        now_ms=1000,
    )
    t.append(
        [write_pq("a.parquet", [1, 2], 0), write_pq("b.parquet", [3], 7)],
        now_ms=2000,
    )
    got = {(r["id"], r["p_bucket"]) for r in t.read(spark).collect()}
    assert got == {(1, 0), (2, 0), (3, 7)}


def test_read_partition_attach_mismatch_fails_loudly(spark, table, monkeypatch):
    """A residual join-key mismatch must raise at execution, not drop
    rows: poison the driver-side map by pointing abspath somewhere else."""
    import hadoop_sync_spark.iceberg_meta as M
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    t, _ = table
    monkeypatch.setattr(
        M, "_norm_path", lambda p: "/nonexistent/" + os.path.basename(p)
    )
    with pytest.raises(SparkRuntimeException, match="partition map"):
        t.read(spark).collect()


def test_q147_oracle_parity_unregistered(spark, oracle):
    """Round-9 registration prep (VERDICT r7 item 2): the Iceberg
    snapshot-reader query must already pass the exact driver-style
    parity gate, unregistered — the round-8 window has zero free slots,
    so only the `register()` decorator is deferred."""
    from hadoop_sync_spark.queries.lakehouse_q import (
        Q147_ORACLE,
        q147_iceberg_snapshot_reader,
    )
    from tests.conftest import SF_DIR, compare_frames

    sdf = q147_iceberg_snapshot_reader(spark, SF_DIR)
    n = compare_frames(sdf, oracle.sql(Q147_ORACLE), "q147")
    assert n == 1


# ---------------------------------------------------------------- MoR (r8)
def _mor_table(tmp_path, partitioned=False):
    d = str(tmp_path / "mor")
    os.makedirs(os.path.join(d, "data"))

    def write_pq(name, ids, bucket=None):
        p = os.path.join(d, "data", name)
        cols = {"id": pa.array(ids, pa.int64()),
                "val": pa.array([f"v{i}" for i in ids], pa.string())}
        pq.write_table(pa.table(cols), p)
        return DataFile(
            path=f"data/{name}",
            partition={"p_bucket": bucket} if partitioned else {},
            record_count=len(ids),
            file_size=os.path.getsize(p),
        )

    fields = [("id", "bigint"), ("val", "string")]
    part_by = None
    if partitioned:
        fields.append(("p_bucket", "int"))
        part_by = [("p_bucket", "int")]
    t = IcebergTable.create(d, fields, partition_by=part_by, now_ms=1000)
    return t, write_pq


def test_position_deletes_subtract_rows(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3, 4, 5])], now_ms=2000)
    s2 = t.add_position_deletes(
        [("data/f1.parquet", 0), ("data/f1.parquet", 2)], now_ms=3000
    )
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 4, 5]
    # the delete applies only to files with data seq <= delete seq: a
    # LATER append is untouched even though the delete is still live
    t.append([write_pq("f2.parquet", [10, 11])], now_ms=4000)
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 4, 5, 10, 11]
    # time travel to before the delete still sees every row
    assert sorted(
        r.id for r in t.read(spark, snapshot_id=s1).collect()
    ) == [1, 2, 3, 4, 5]
    # and the delete files are live metadata, not data files
    assert [f.content for f in t.delete_files()] == [1]
    assert all(f.content == 0 for f in t.files())


def test_position_deletes_match_absolute_manifest_paths(spark, tmp_path):
    """Conforming EXTERNAL MoR tables store full/absolute file_path
    strings in manifests, and their position-delete files reference data
    files by that exact string (spec: file_path matching the data file).
    The read join must key on the raw manifest string — resolving or
    relativizing either side silently resurrects deleted rows (ADVICE
    r8).  Same table shape as test_position_deletes_subtract_rows but
    with absolute paths everywhere, the way an external writer emits."""
    d = str(tmp_path / "mor_abs")
    os.makedirs(os.path.join(d, "data"))

    def write_abs(name, ids):
        p = os.path.join(d, "data", name)
        cols = {"id": pa.array(ids, pa.int64()),
                "val": pa.array([f"v{i}" for i in ids], pa.string())}
        pq.write_table(pa.table(cols), p)
        # ABSOLUTE path: append() stores this verbatim in the manifest
        return DataFile(path=p, partition={}, record_count=len(ids),
                        file_size=os.path.getsize(p))

    t = IcebergTable.create(
        d, [("id", "bigint"), ("val", "string")], now_ms=1000
    )
    f1 = write_abs("f1.parquet", [1, 2, 3, 4, 5])
    t.append([f1], now_ms=2000)
    # the delete file references the data file by the manifest's exact
    # (absolute) string, as a conforming external writer would
    t.add_position_deletes([(f1.path, 0), (f1.path, 2)], now_ms=3000)
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 4, 5]
    # raw_path carried through files() is the verbatim manifest string
    assert [f.raw_path for f in t.files()] == [f1.path]


def test_equality_deletes_upsert_semantics(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3, 4])], now_ms=2000)
    t.add_equality_deletes(
        [{"id": 2}, {"id": 3}], equality_ids=[1], now_ms=3000
    )
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 4]
    # upsert: re-inserting id=2 AFTER the delete survives (equality
    # deletes apply only to STRICTLY older data files)
    t.append([write_pq("f2.parquet", [2, 9])], now_ms=4000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 4, 9]
    # a newer equality delete kills both the old and the re-inserted row
    t.add_equality_deletes([{"id": 2}], equality_ids=[1], now_ms=5000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 4, 9]


def test_mor_deletes_carry_through_cow_commits(spark, tmp_path):
    """Delete manifests must survive later CoW commits (append/delete
    rewrite the data manifest but carry delete entries forward)."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3000)
    t.append([write_pq("f2.parquet", [7])], now_ms=4000)
    t.delete({"data/f2.parquet"}, now_ms=5000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]
    assert len(t.delete_files()) == 1


def test_mor_with_partition_columns(spark, tmp_path):
    """Deletes compose with the partition-attach join and partition
    pruning (delete manifests are never pruned)."""
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append(
        [
            write_pq("f1.parquet", [1, 2], bucket=0),
            write_pq("f2.parquet", [3, 4], bucket=1),
        ],
        now_ms=2000,
    )
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=3000)
    got = {(r.id, r.p_bucket) for r in t.read(spark).collect()}
    assert got == {(2, 0), (3, 1), (4, 1)}
    pruned = t.read(spark, partition_filter={"p_bucket": 0})
    assert [r.id for r in pruned.collect()] == [2]


def test_mor_planning_is_metadata_only(tmp_path):
    """delete_files()/files() never open a data OR delete parquet."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=3000)
    for f in [*t.files(), *t.delete_files()]:
        os.remove(f.path)
    assert [f.content for f in t.files()] == [0]
    assert [f.content for f in t.delete_files()] == [1]


# ------------------------------------------------- partition transforms (r8)
def test_murmur3_bucket_matches_spec_vectors():
    """Appendix B published vectors: ints/longs hash as 8-byte LE longs,
    strings as UTF-8 — the property that makes our buckets agree with
    every conforming writer's."""
    from hadoop_sync_spark.iceberg_meta import _murmur3_32, transform_value

    assert _murmur3_32((34).to_bytes(8, "little")) == 2017239379
    assert _murmur3_32(b"iceberg") == 1210000089
    # int and long bucket identically (both hash as longs)
    assert transform_value("bucket[16]", 34) == (2017239379 & 0x7FFFFFFF) % 16
    assert transform_value("truncate[10]", -1) == -10  # spec example
    assert transform_value("truncate[3]", "iceberg") == "ice"
    assert transform_value("bucket[16]", None) is None
    with pytest.raises(NotImplementedError, match="transform"):
        transform_value("day", 17486)


def test_vectorized_bucket_hash_matches_scalar():
    """The numpy murmur3 (the write faces' vectorized bucket kernel,
    round 13) is bit-for-bit the scalar _murmur3_32 on 8-byte LE
    longs — including negatives and the int64 extremes."""
    import numpy as np

    from hadoop_sync_spark.iceberg_meta import (
        _bucket_hash_i64_np,
        _murmur3_32,
    )

    vals = [0, 1, -1, 34, -34, 123456789, -987654321,
            2**63 - 1, -(2**63), 42, 7, -7]
    got = _bucket_hash_i64_np(np.array(vals, dtype=np.int64))
    for v, g in zip(vals, got):
        exp = _murmur3_32(
            (v & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little"))
        assert int(g) == exp & 0xFFFFFFFF, v


@pytest.mark.slow
def test_transform_column_matches_transform_value(spark):
    """Per-row Spark transforms (the write faces' split expressions,
    round 13) agree with transform_value on every supported
    (transform, type) pair — nulls, negatives, pre-1970 temporals —
    under an ADVERSARIAL session timezone (the tz-independence the
    timestamptz unix_micros path and the ntz wall-clock casts exist
    for)."""
    import datetime as dt

    from pyspark.sql import types as T

    from hadoop_sync_spark.iceberg_meta import (
        transform_column,
        transform_value,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        longs = [0, 1, -1, 7, -7, 123456789, -987654321,
                 2**62, -(2**62), None]
        strs = ["", "a", "abcdef", "héllo wörld", None]
        dates = [dt.date(1970, 1, 1), dt.date(1969, 12, 31),
                 dt.date(2017, 11, 16), dt.date(1901, 2, 3), None]
        tss = [dt.datetime(1970, 1, 1),
               dt.datetime(2017, 11, 16, 22, 31, 8),
               dt.datetime(1969, 12, 31, 23, 59, 59),
               dt.datetime(2024, 2, 29, 1, 2, 3, 456789), None]

        def check(tr, vals, st, ice, exp_vals=None):
            df = spark.createDataFrame(
                [(v,) for v in vals],
                T.StructType([T.StructField("c", st, True)]))
            got = [r[0] for r in df.select(
                transform_column(tr, "c", ice).alias("t")).collect()]
            for v, g in zip(exp_vals or vals, got):
                assert g == transform_value(tr, v), (tr, ice, v)

        for tr in ("bucket[4]", "bucket[16]", "truncate[10]"):
            check(tr, longs, T.LongType(), "long")
        for tr in ("bucket[4]", "truncate[3]"):
            check(tr, strs, T.StringType(), "string")
        for tr in ("year", "month", "day"):
            check(tr, dates, T.DateType(), "date")
        for tr in ("year", "month", "day", "hour"):
            check(tr, tss, T.TimestampNTZType(), "timestamp")
        # timestamptz: absolute instants; transform_value sees the
        # same wall-clock as naive-UTC
        tz = [v.replace(tzinfo=dt.timezone.utc) if v else None
              for v in tss]
        for tr in ("year", "month", "day", "hour"):
            check(tr, tz, T.TimestampType(), "timestamptz",
                  exp_vals=tss)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_bucket_partitioned_table_prunes_and_reads(spark, tmp_path):
    """bucket[4] spec: files() prunes at both metadata layers on a
    SOURCE-domain filter value, and read() attaches the bucket column
    from the manifests."""
    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "bkt")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d,
        [("id", "bigint"), ("val", "string")],
        partition_by=[("id", "int", "bucket[4]")],
        now_ms=1000,
    )
    # group fixture ids by their REAL bucket so each file is single-bucket
    by_bucket = {}
    for i in range(1, 30):
        by_bucket.setdefault(transform_value("bucket[4]", i), []).append(i)
    files = []
    for b, ids in sorted(by_bucket.items()):
        name = f"b{b}.parquet"
        p = os.path.join(d, "data", name)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            p,
        )
        files.append(
            DataFile(
                path=f"data/{name}",
                partition={"id_bucket": b},
                record_count=len(ids),
                file_size=os.path.getsize(p),
            )
        )
    t.append(files, now_ms=2000)
    # filter by SOURCE value 7: exactly 7's bucket file survives planning
    want = transform_value("bucket[4]", 7)
    sel = t.files(partition_filter={"id_bucket": 7})
    assert [f.partition["id_bucket"] for f in sel] == [want]
    assert 7 in {
        r.id
        for r in t.read(spark, partition_filter={"id_bucket": 7}).collect()
    }
    # full read attaches the metadata-only bucket column per row
    got = {(r.id, r.id_bucket) for r in t.read(spark).collect()}
    assert got == {
        (i, b) for b, ids in by_bucket.items() for i in ids
    }


def test_truncate_partitioned_table(spark, tmp_path):
    d = str(tmp_path / "trunc")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d,
        [("id", "bigint")],
        partition_by=[("id", "long", "truncate[10]")],
        now_ms=1000,
    )

    def mk(name, ids, tr):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        return DataFile(
            path=f"data/{name}",
            partition={"id_truncate": tr},
            record_count=len(ids),
            file_size=os.path.getsize(p),
        )

    t.append(
        [mk("a.parquet", [3, 7], 0), mk("b.parquet", [12, 19], 10)],
        now_ms=2000,
    )
    # source-domain filter 15 → truncate bucket 10 → only file b
    sel = t.files(partition_filter={"id_truncate": 15})
    assert [os.path.basename(f.path) for f in sel] == ["b.parquet"]
    assert sorted(
        r.id
        for r in t.read(spark, partition_filter={"id_truncate": 15}).collect()
    ) == [12, 19]


def test_temporal_transforms_match_spec_examples():
    """The Iceberg spec's own "Partition Transforms" example column is
    the golden: 2017-11-16 → year 47 / month 574 / day 17486; hour is
    pinned by arithmetic independent of this implementation
    (2017-11-16T22:31:08 = 1,510,871,468 s from epoch; // 3600 =
    17486·24 + 22 = 419,686).  Floor semantics make pre-epoch
    values negative (1969-12-31 → −1 under year/month/day; 23:00 that
    day → hour −1) — the property every conforming writer shares and
    truncating division would break."""
    import datetime as dt

    from hadoop_sync_spark.iceberg_meta import transform_value

    d = dt.date(2017, 11, 16)
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert transform_value("year", d) == 47
    assert transform_value("month", d) == 574
    assert transform_value("day", d) == 17486
    assert transform_value("hour", ts) == 17486 * 24 + 22  # 419686
    # datetime sources floor to the same date ordinals as their date
    assert transform_value("year", ts) == 47
    assert transform_value("month", ts) == 574
    assert transform_value("day", ts) == 17486
    # pre-epoch floors negative, never truncates toward zero
    pre = dt.date(1969, 12, 31)
    assert transform_value("year", pre) == -1
    assert transform_value("month", pre) == -1
    assert transform_value("day", pre) == -1
    assert transform_value("hour", dt.datetime(1969, 12, 31, 23)) == -1
    # None is None under every transform; ambiguous ints refuse
    assert transform_value("day", None) is None
    with pytest.raises(NotImplementedError, match="transform"):
        transform_value("hour", dt.date(2017, 11, 16))  # date has no hour


def test_day_partitioned_table_prunes_and_reads(spark, tmp_path):
    """day-transform spec (result type ``date``): files() prunes at both
    metadata layers on a SOURCE-domain datetime.date filter value, the
    manifest-list field summaries serialize date bounds as LE int days,
    and read() attaches the day ordinal from the manifests."""
    import datetime as dt

    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "daily")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d,
        [("id", "bigint"), ("o_date", "date")],
        partition_by=[("o_date", "date", "day")],
        now_ms=1000,
    )
    days = [dt.date(2024, 3, 1), dt.date(2024, 3, 2), dt.date(2024, 3, 3)]
    files = []
    for n, day in enumerate(days):
        name = f"d{n}.parquet"
        p = os.path.join(d, "data", name)
        ids = [n * 10 + k for k in range(3)]
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "o_date": pa.array([day] * 3, pa.date32()),
                }
            ),
            p,
        )
        files.append(
            DataFile(
                path=f"data/{name}",
                partition={"o_date_day": transform_value("day", day)},
                record_count=3,
                file_size=os.path.getsize(p),
            )
        )
    t.append(files, now_ms=2000)
    # source-domain date filter → exactly that day's file survives
    sel = t.files(partition_filter={"o_date_day": days[1]})
    assert [os.path.basename(f.path) for f in sel] == ["d1.parquet"]
    got = t.read(
        spark, partition_filter={"o_date_day": days[1]}
    ).collect()
    assert sorted(r.id for r in got) == [10, 11, 12]
    # the attached metadata column is the day ordinal for every row
    assert {r.o_date_day for r in got} == {transform_value("day", days[1])}
    # manifest-list summary prunes a whole out-of-range manifest: a
    # second snapshot's manifest holds only later days, so a filter on
    # an early day must skip it at the LIST layer (bounds round-trip
    # through the date LE-int serialization)
    late = dt.date(2024, 4, 1)
    p = os.path.join(d, "data", "late.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([99], pa.int64()),
                "o_date": pa.array([late], pa.date32()),
            }
        ),
        p,
    )
    t.append(
        [
            DataFile(
                path="data/late.parquet",
                partition={"o_date_day": transform_value("day", late)},
                record_count=1,
                file_size=os.path.getsize(p),
            )
        ],
        now_ms=3000,
    )
    sel = t.files(partition_filter={"o_date_day": late})
    assert [os.path.basename(f.path) for f in sel] == ["late.parquet"]
    all_rows = t.read(spark).collect()
    assert len(all_rows) == 10


def test_q148_oracle_parity_unregistered(spark, oracle):
    """Round-9 registration prep #2: the merge-on-read reader query
    passes the exact driver-style parity gate, unregistered (same
    staging as q147 — the round-8 window has zero free slots)."""
    from hadoop_sync_spark.queries.lakehouse_q import (
        Q148_ORACLE,
        q148_iceberg_mor_reader,
    )
    from tests.conftest import SF_DIR, compare_frames

    sdf = q148_iceberg_mor_reader(spark, SF_DIR)
    n = compare_frames(sdf, oracle.sql(Q148_ORACLE), "q148")
    assert n == 1


def test_registry_read_applies_mor_deletes_with_catalog_lag(spark, tmp_path):
    """The Iceberg twin of the Delta DV catalog-lag test: catalog-scoped
    reads of a MoR table subtract the synced snapshot's delete files; a
    delete-only commit (zero shard churn) is not a sync noop."""
    from hadoop_sync_spark.registry import Registry

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3, 4])], now_ms=2000)
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_iceberg("t", t.dir)
    reg.sync("t")
    assert sorted(r.id for r in reg.read("t").collect()) == [1, 2, 3, 4]

    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3000)
    # lag: unsynced delete invisible to the catalog read
    assert sorted(r.id for r in reg.read("t").collect()) == [1, 2, 3, 4]
    s = reg.sync("t")
    assert (s.added, s.removed, s.noop) == (0, 0, False)
    assert sorted(r.id for r in reg.read("t").collect()) == [1, 3, 4]
    assert reg.sync("t").noop


# ------------------------------------------------------- maintenance (r8)
# ------------------------------------------------- column-bound pruning (r9)
def test_column_bounds_prune_files_metadata_only(spark, tmp_path):
    """Per-column value bounds (spec lower_bounds/upper_bounds) prune
    FILES on non-partition predicates without opening any data file —
    the stat-based layer that complements partition pruning.  Bounds
    come from parquet footers via parquet_column_bounds; files without
    stats always survive (sound)."""
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds

    d = str(tmp_path / "cb")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("id", "bigint"), ("val", "string")], now_ms=1000
    )
    fields = t._schema_by_id(0)["fields"]

    def write_stats(name, ids):
        p = os.path.join(d, "data", name)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "val": pa.array([f"v{i}" for i in ids],
                                      pa.string())}), p)
        lb, ub = parquet_column_bounds(p, fields)
        return DataFile(path=f"data/{name}", partition={},
                        record_count=len(ids),
                        file_size=os.path.getsize(p),
                        lower_bounds=lb, upper_bounds=ub)

    # disjoint id ranges per file + one stats-less file
    f1 = write_stats("f1.parquet", [1, 2, 3])
    f2 = write_stats("f2.parquet", [100, 150])
    f3 = write_stats("f3.parquet", [1000])
    p4 = os.path.join(d, "data", "f4.parquet")
    pq.write_table(pa.table({"id": pa.array([5000], pa.int64()),
                             "val": pa.array(["x"], pa.string())}), p4)
    f4 = DataFile(path="data/f4.parquet", partition={}, record_count=1,
                  file_size=os.path.getsize(p4))  # NO bounds
    t.append([f1, f2, f3, f4], now_ms=2000)

    # metadata-only planning: delete data files from disk, plan anyway
    import shutil as _sh
    backup = str(tmp_path / "bk")
    _sh.copytree(os.path.join(d, "data"), backup)
    for f in t.files():
        os.remove(f.path)
    sel = t.files(column_filter={"id": (90, 200)})
    # f2 matches by bounds; f4 survives (no stats); f1/f3 pruned
    assert sorted(x.raw_path for x in sel) == [
        "data/f2.parquet", "data/f4.parquet"]
    # half-open ranges
    assert sorted(x.raw_path for x in t.files(
        column_filter={"id": (None, 10)})) == [
        "data/f1.parquet", "data/f4.parquet"]
    assert sorted(x.raw_path for x in t.files(
        column_filter={"id": (999, None)})) == [
        "data/f3.parquet", "data/f4.parquet"]
    with pytest.raises(ValueError, match="no such column"):
        t.files(column_filter={"nope": (1, 2)})
    # restore files; read() applies the EXACT predicate on top of the
    # file pruning (surviving files can hold out-of-range rows: f4)
    for name in os.listdir(backup):
        _sh.copy(os.path.join(backup, name), os.path.join(d, "data", name))
    got = sorted(r.id for r in t.read(
        spark, column_filter={"id": (90, 200)}).collect())
    assert got == [100, 150]
    # compaction stamps bounds on the rewritten file, so pruning keeps
    # working over the compacted layout
    t.compact(spark, now_ms=3000)
    live = [f for f in t.files() if f.content == 0]
    assert len(live) == 1 and live[0].lower_bounds
    sel = t.files(column_filter={"id": (1_000_000, None)})
    assert sel == []  # everything bounded below 5001
    # ... and a filter that prunes EVERY file is an empty RESULT
    # through read(), not an error (round-10 review)
    empty = t.read(spark, column_filter={"id": (1_000_000, None)})
    assert empty.count() == 0
    # exact ordering parity with the non-empty path (ADVICE r10)
    assert empty.columns == t.read(
        spark, column_filter={"id": (90, 200)}
    ).columns
    got = sorted(r.id for r in t.read(
        spark, column_filter={"id": (90, 200)}).collect())
    assert got == [100, 150]


def test_mor_broadcast_ceiling_falls_back_to_shuffle(spark, tmp_path,
                                                     monkeypatch, caplog):
    """Above the broadcast ceiling (metadata-decided from the delete
    file's record_count) the MoR anti-joins stop broadcasting and log
    the shuffle fallback loudly, returning identical rows (VERDICT r9
    item 7)."""
    import logging

    import hadoop_sync_spark.iceberg_meta as im

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3, 4])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3000)
    t.add_equality_deletes([{"id": 4}], equality_ids=[1], now_ms=4000)
    expect = sorted(r.id for r in t.read(spark).collect())
    assert expect == [1, 3]
    monkeypatch.setattr(im, "_BROADCAST_DELETE_ROW_LIMIT", 0)
    with caplog.at_level(logging.WARNING,
                         logger="hadoop_sync_spark.iceberg_meta"):
        got = sorted(r.id for r in t.read(spark).collect())
    assert got == expect
    assert any("broadcast" in r.message and "shuffle" in r.message
               for r in caplog.records)


def test_column_bounds_partial_over_unsupported_types(tmp_path):
    """A column whose type lacks single-value serialization (boolean)
    skips INDIVIDUALLY: the supported columns keep their bounds instead
    of the whole file's map being discarded (ADVICE r9 — pure
    selectivity loss on mixed-type tables)."""
    from hadoop_sync_spark.iceberg_meta import (
        _from_le_bytes,
        parquet_column_bounds,
    )

    p = str(tmp_path / "mixed.parquet")
    pq.write_table(
        pa.table({"id": pa.array([5, 9], pa.int64()),
                  "flag": pa.array([True, False], pa.bool_())}), p)
    fields = [{"id": 1, "name": "id", "type": "long", "required": False},
              {"id": 2, "name": "flag", "type": "boolean",
               "required": False}]
    lb, ub = parquet_column_bounds(p, fields)
    assert set(lb) == {1} and set(ub) == {1}  # boolean skipped, id kept
    assert _from_le_bytes(lb[1], "long") == 5
    assert _from_le_bytes(ub[1], "long") == 9


# ---------------------------------------------------- schema evolution (r9)
def test_add_column_nullfills_old_files(spark, tmp_path):
    """Iceberg schema evolution, the add face: a column added after
    files were written is null in them and real in newer files; a
    time-travel read to a pre-evolution snapshot uses THAT snapshot's
    schema (no phantom column)."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    fid = t.add_column("score", "double", now_ms=3000)
    assert fid == 3  # id/val are 1/2
    # newer file carries the column
    p = os.path.join(str(tmp_path / "mor"), "data", "f2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()),
                  "val": pa.array(["v3"], pa.string()),
                  "score": pa.array([0.5], pa.float64())}), p)
    t.append([DataFile("data/f2.parquet", {}, 1, os.path.getsize(p))],
             now_ms=4000)
    got = {(r.id, r.score) for r in t.read(spark).collect()}
    assert got == {(1, None), (2, None), (3, 0.5)}
    # time travel: the pre-evolution snapshot has no score column
    old = t.read(spark, snapshot_id=s1)
    assert "score" not in old.columns
    assert sorted(r.id for r in old.collect()) == [1, 2]
    # deletes compose with the pinned evolved schema
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=5000)
    got = {(r.id, r.score) for r in t.read(spark).collect()}
    assert got == {(2, None), (3, 0.5)}


def test_drop_column_and_metadata_expiry(spark, tmp_path):
    """Drop prunes the column under the new schema while time travel to
    pre-drop snapshots still sees it; partition-source columns refuse;
    expire_metadata shrinks the vN.metadata.json history only."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    t.drop_column("val", now_ms=3000)
    now = t.read(spark)
    assert now.columns == ["id"]
    assert sorted(r.id for r in now.collect()) == [1, 2]
    old = t.read(spark, snapshot_id=s1)
    assert sorted(old.columns) == ["id", "val"]
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="last column"):
        t.drop_column("id")
    # a column added under a NEW name gets a fresh field id and
    # null-fills the old file
    fid = t.add_column("score", "string", now_ms=4000)
    assert fid == 3
    assert {(r.id, r.score) for r in t.read(spark).collect()} == {
        (1, None), (2, None)}
    # metadata-log retention: keep the newest 2 metadata versions
    v = t.current_version()
    expired = t.expire_metadata(keep_last=2)
    assert expired == list(range(1, v - 1))
    assert t.current_version() == v
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.metadata(version=expired[0])
    # drop + re-add under the SAME name would let the old file's
    # physical column leak into the new field under name resolution —
    # the history check refuses the read (permanently: schema history
    # is immutable, so the ambiguity never clears)
    t.add_column("val", "string", now_ms=5000)
    with pytest.raises(NotImplementedError, match="id-based"):
        t.read(spark)


def test_drop_partition_source_refuses(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("a.parquet", [1], bucket=0)], now_ms=2000)
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("p_bucket")


def test_add_column_guards(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1])], now_ms=2000)
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("val", "string")
    with pytest.raises(NotImplementedError, match="no Iceberg mapping"):
        t.add_column("m", "map<string,int>")


def test_rename_column_variant_read(spark, tmp_path):
    """Spec renames (round 10) resolve via name variants: the scan pins
    every historical name of the renamed field (a conforming file
    carries exactly one) and the logical column coalesces — one scan,
    plain parquet, NO footer field ids required.  A file written
    pre-rename under the OLD name and one written post-rename under the
    NEW name both land in the renamed logical column; time travel to
    the pre-rename snapshot sees the old name; MoR deletes compose
    (incl. an equality-delete file that stores the OLD column name);
    compaction rewrites under the current name and stays readable."""
    t, write_pq = _mor_table(tmp_path)
    d = str(tmp_path / "mor")
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    t.rename_column("val", "label", now_ms=3000)
    p = os.path.join(d, "data", "f2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()),
                  "label": pa.array(["v3"], pa.string())}), p)
    t.append([DataFile("data/f2.parquet", {}, 1, os.path.getsize(p))],
             now_ms=4000)
    now = t.read(spark)
    assert sorted(now.columns) == ["id", "label"]
    assert {(r.id, r.label) for r in now.collect()} == {
        (1, "v1"), (2, "v2"), (3, "v3")}
    # time travel: the pre-rename snapshot reads under ITS schema
    old = t.read(spark, snapshot_id=s1)
    assert sorted(old.columns) == ["id", "val"]
    assert {(r.id, r.val) for r in old.collect()} == {(1, "v1"), (2, "v2")}
    # column_filter speaks the READ snapshot's names (round-10 review:
    # resolving against the current schema made a renamed table's
    # time-travel filter unsatisfiable in both spellings)
    assert sorted(r.id for r in t.read(
        spark, snapshot_id=s1,
        column_filter={"val": ("v1", "v1")}).collect()) == [1]
    assert sorted(r.id for r in t.read(
        spark, column_filter={"label": ("v2", "v3")}).collect()) \
        == [2, 3]
    # guards
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("id", "label")
    # MoR composes: a position delete, plus an equality delete whose
    # FILE stores the OLD column name (simulating a pre-rename engine's
    # delete file: rewrite the committed parquet in place — the
    # manifest references the path, not the column names) and one
    # under the NEW name in the same id set, read by one scan
    p3 = os.path.join(d, "data", "f3.parquet")
    pq.write_table(
        pa.table({"id": pa.array([4], pa.int64()),
                  "label": pa.array(["v4"], pa.string())}), p3)
    t.append([DataFile("data/f3.parquet", {}, 1, os.path.getsize(p3))],
             now_ms=4500)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=5000)
    t.add_equality_deletes([{"label": "v3"}], equality_ids=[2],
                           now_ms=6000)
    (eq_del,) = [f for f in t.delete_files() if f.content == 2]
    pq.write_table(
        pa.table({"val": pa.array(["v3"], pa.string())}), eq_del.path)
    t.add_equality_deletes([{"label": "v4"}], equality_ids=[2],
                           now_ms=6500)
    assert {(r.id, r.label) for r in t.read(spark).collect()} == {
        (2, "v2")}
    # compaction rewrites under the CURRENT name; reads stay correct
    res = t.compact(spark, now_ms=7000)
    assert res is not None
    assert {(r.id, r.label) for r in t.read(spark).collect()} == {
        (2, "v2")}
    # drop + re-add under the SAME name still refuses (a name carried
    # by two field ids cannot resolve without footer ids)
    t.drop_column("label", now_ms=8000)
    t.add_column("label", "string", now_ms=9000)
    with pytest.raises(NotImplementedError, match="id-based"):
        t.read(spark)


def test_metadata_tables(spark, tmp_path):
    """Inspection DataFrames in production Iceberg's metadata-table
    shape: snapshots / history / refs / files / delete_files /
    manifests, with ref-scoped file listings."""
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    s1 = t.append([write_pq("a.parquet", [1, 2], bucket=0)], now_ms=2000)
    t.create_ref("v1", "tag", now_ms=2500)
    s2 = t.append([write_pq("b.parquet", [3], bucket=1)], now_ms=3000)
    t.add_position_deletes([("data/a.parquet", 0)], now_ms=4000)

    snaps = t.metadata_table(spark, "snapshots")
    assert sorted(r.snapshot_id for r in snaps.collect()) == sorted(
        s["snapshot-id"] for s in t.snapshots())
    assert {r.operation for r in snaps.collect()} == {
        "append", "row-delta"} or len(snaps.collect()) == 3

    hist = t.metadata_table(spark, "history").collect()
    assert [r.snapshot_id for r in hist][:2] == [s1, s2]
    assert all(r.is_current_ancestor for r in hist)

    refs = {r.name: (r.type, r.snapshot_id)
            for r in t.metadata_table(spark, "refs").collect()}
    assert refs["v1"] == ("tag", s1)
    assert refs["main"][0] == "branch"

    files = t.metadata_table(spark, "files")
    assert sorted(r.file_path for r in files.collect()) == [
        "data/a.parquet", "data/b.parquet"]
    assert {r.partition["p_bucket"] for r in files.collect()} == \
        {"0", "1"}
    # ref-scoped listing sees only the tagged snapshot's file
    assert [r.file_path for r in t.metadata_table(
        spark, "files", ref="v1").collect()] == ["data/a.parquet"]

    dels = t.metadata_table(spark, "delete_files").collect()
    assert len(dels) == 1 and dels[0].content == 1

    mans = t.metadata_table(spark, "manifests").collect()
    assert {m.content for m in mans} == {0, 1}
    parts = {tuple(sorted(r.partition.items())): (r.file_count,
                                                   r.record_count)
             for r in t.metadata_table(spark, "partitions").collect()}
    assert parts == {(("p_bucket", "0"),): (1, 2),
                     (("p_bucket", "1"),): (1, 1)}
    # a NULL partition value (legal for identity transforms) must not
    # crash the partitions sort (round-10 review)
    t.append([write_pq("c.parquet", [9], bucket=None)], now_ms=5000)
    parts = {tuple(sorted(r.partition.items()))
             for r in t.metadata_table(spark, "partitions").collect()}
    assert (("p_bucket", None),) in parts and len(parts) == 3
    with pytest.raises(ValueError, match="unknown metadata table"):
        t.metadata_table(spark, "entries")


def test_refs_tags_branches_and_expiry_protection(spark, tmp_path):
    """Spec refs (round 10): tags/branches are named snapshot pointers —
    read(ref=...) time-travels by name (pinning THAT snapshot's
    schema), `main` is writer-maintained and follows commits, a
    ref-pinned snapshot SURVIVES expire_snapshots until the ref drops,
    and the guards refuse main-tampering / repoints / unknown refs."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    t.create_ref("v1.0", "tag", now_ms=2500)  # pins current (= s1)
    s2 = t.append([write_pq("f2.parquet", [3])], now_ms=3000)
    # main follows commits; the tag stays pinned
    assert t.snapshot(ref="main")["snapshot-id"] == s2
    assert t.snapshot(ref="v1.0")["snapshot-id"] == s1
    assert sorted(r.id for r in t.read(spark, ref="v1.0").collect()) \
        == [1, 2]
    assert sorted(r.id for r in t.read(spark, ref="main").collect()) \
        == [1, 2, 3]
    # ref reads pin the REF snapshot's schema under evolution
    t.add_column("score", "double", now_ms=3500)
    assert "score" not in t.read(spark, ref="v1.0").columns
    assert "score" in t.read(spark).columns
    # guards
    with pytest.raises(ValueError, match="already exists"):
        t.create_ref("v1.0", "tag")
    with pytest.raises(ValueError, match="writer-maintained"):
        t.create_ref("main", "branch")
    with pytest.raises(ValueError, match="no such ref"):
        t.read(spark, ref="nope")
    with pytest.raises(ValueError, match="tag or branch"):
        t.create_ref("x", "bookmark")
    # expiry protection: keep_last=1 would drop s1, but the tag holds it
    s3 = t.append([write_pq("f3.parquet", [4])], now_ms=4000)
    expired = t.expire_snapshots(keep_last=1, now_ms=5000)
    assert s1 not in expired and s2 in expired
    assert sorted(r.id for r in t.read(spark, ref="v1.0").collect()) \
        == [1, 2]
    # dropping the ref releases the snapshot to the next expiration
    t.drop_ref("v1.0", now_ms=6000)
    expired = t.expire_snapshots(keep_last=1, now_ms=7000)
    assert s1 in expired
    with pytest.raises(ValueError, match="no such ref"):
        t.snapshot(ref="v1.0")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 4]
    assert t.snapshot(ref="main")["snapshot-id"] == s3


def test_promote_column_int_to_long(spark, tmp_path):
    """Spec type promotion (round 10): int → long widens metadata-only;
    old int32 files upcast natively under the pinned wider schema, new
    int64 files read as-is, time travel pins the narrow type, and
    column_filter pruning handles the mixed bound widths (4-byte int
    bounds on pre-promotion files, 8-byte on post)."""
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds

    d = str(tmp_path / "promo")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "int"), ("v", "string")], now_ms=1000
    )

    def write(name, ks, typ):
        p = os.path.join(d, "data", name)
        pq.write_table(
            pa.table({"k": pa.array(ks, typ),
                      "v": pa.array([f"v{x}" for x in ks],
                                    pa.string())}), p)
        lb, ub = parquet_column_bounds(
            p, t._schema_by_id(t.metadata()["current-schema-id"])
            ["fields"])
        return DataFile(f"data/{name}", {}, len(ks),
                        os.path.getsize(p),
                        lower_bounds=lb, upper_bounds=ub)

    s1 = t.append([write("f1.parquet", [1, 2], pa.int32())], now_ms=2000)
    t.promote_column("k", "bigint", now_ms=3000)
    big = 5_000_000_000  # needs 64 bits
    t.append([write("f2.parquet", [big], pa.int64())], now_ms=4000)
    now = t.read(spark)
    assert dict(now.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in now.collect()) == [1, 2, big]
    old = t.read(spark, snapshot_id=s1)
    assert dict(old.dtypes)["k"] == "int"
    assert sorted(r.k for r in old.collect()) == [1, 2]
    # pruning across mixed bound widths: f1's bounds are 4-byte ints,
    # f2's 8-byte longs; both decode and the right files survive
    sel = t.files(column_filter={"k": (big - 1, None)})
    assert [f.raw_path for f in sel] == ["data/f2.parquet"]
    assert sorted(
        r.k for r in t.read(
            spark, column_filter={"k": (None, 10)}).collect()
    ) == [1, 2]
    # off-lattice refusals
    with pytest.raises(NotImplementedError, match="lattice"):
        t.promote_column("v", "bigint")
    with pytest.raises(ValueError, match="no such column"):
        t.promote_column("nope", "bigint")
    # narrowing written externally also refuses at read
    meta = json.loads(json.dumps(t.metadata()))
    cur = [s for s in meta["schemas"]
           if s.get("schema-id", 0) == meta["current-schema-id"]][0]
    narrowed = json.loads(json.dumps(cur))
    narrowed["schema-id"] = meta["current-schema-id"] + 1
    narrowed["fields"][0]["type"] = "int"
    meta["schemas"].append(narrowed)
    meta["current-schema-id"] = narrowed["schema-id"]
    v = t.current_version() + 1
    json.dump(meta, open(os.path.join(t.meta_dir,
                                      f"v{v}.metadata.json"), "w"))
    open(t._hint_path(), "w").write(str(v))
    with pytest.raises(NotImplementedError, match="lattice"):
        t.read(spark)


def test_rename_partition_source_refuses(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("a.parquet", [1], bucket=0)], now_ms=2000)
    with pytest.raises(ValueError, match="partition source"):
        t.rename_column("p_bucket", "pb2")


def test_externally_written_rename_reads_and_promotion_refuses(
        spark, tmp_path):
    """A rename appearing in an EXTERNALLY written schema history (not
    via our rename_column face) resolves through the same name-variant
    path; a type PROMOTION in the history still refuses — per-file
    coercion is the honest seam."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1])], now_ms=2000)
    t.add_column("score", "double", now_ms=3000)
    meta = json.loads(json.dumps(t.metadata()))
    cur = [s for s in meta["schemas"]
           if s.get("schema-id", 0) == meta["current-schema-id"]][0]
    renamed = json.loads(json.dumps(cur))
    renamed["schema-id"] = meta["current-schema-id"] + 1
    renamed["fields"][1]["name"] = "value_renamed"  # same id, new name
    meta["schemas"].append(renamed)
    meta["current-schema-id"] = renamed["schema-id"]
    v = t.current_version() + 1
    json.dump(meta, open(os.path.join(t.meta_dir,
                                      f"v{v}.metadata.json"), "w"))
    open(t._hint_path(), "w").write(str(v))
    got = t.read(spark)
    assert sorted(got.columns) == ["id", "score", "value_renamed"]
    assert {(r.id, r.value_renamed, r.score)
            for r in got.collect()} == {(1, "v1", None)}
    # promotion: same id, widened type -> refuse
    meta2 = json.loads(json.dumps(t.metadata()))
    promoted = json.loads(json.dumps(renamed))
    promoted["schema-id"] = renamed["schema-id"] + 1
    promoted["fields"][2]["type"] = "float"  # score: double -> float
    meta2["schemas"].append(promoted)
    meta2["current-schema-id"] = promoted["schema-id"]
    v2 = t.current_version() + 1
    json.dump(meta2, open(os.path.join(t.meta_dir,
                                       f"v{v2}.metadata.json"), "w"))
    open(t._hint_path(), "w").write(str(v2))
    with pytest.raises(NotImplementedError, match="promotion"):
        t.read(spark)


# ---------------------------------------------------------- compaction (r9)
def test_compact_binpacks_and_applies_mor_deletes(spark, tmp_path):
    """rewrite_data_files parity: small files bin-pack per partition with
    every live row-level delete APPLIED in the rewrite; the committed
    replace snapshot reads identically to the pre-compact table, old
    snapshots stay time-travel-readable, and a LATER equality delete
    still applies to the compacted file (sequence algebra intact)."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3]),
                   write_pq("f2.parquet", [4, 5]),
                   write_pq("f3.parquet", [6])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 1)], now_ms=3000)   # kills 2
    t.add_equality_deletes([{"id": 5}], equality_ids=[1], now_ms=4000)
    before = sorted(r.id for r in t.read(spark).collect())
    assert before == [1, 3, 4, 6]
    res = t.compact(spark, now_ms=5000)
    assert res is not None
    assert res["files_in"] == 3 and res["files_out"] == 1
    assert res["rows_out"] == 4  # deletes baked in
    assert sorted(r.id for r in t.read(spark).collect()) == before
    # one live data file now; delete files carried (dangling but live)
    assert len([f for f in t.files() if f.content == 0]) == 1
    # time travel to the first append still sees every original row
    assert sorted(
        r.id for r in t.read(spark, snapshot_id=s1).collect()
    ) == [1, 2, 3, 4, 5, 6]
    # a LATER equality delete reaches rows inside the compacted file
    t.add_equality_deletes([{"id": 3}], equality_ids=[1], now_ms=6000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 4, 6]


def test_compact_records_footer_counts_without_count_jobs(spark, tmp_path):
    """Each compacted file's ``record_count`` comes from its footer: it
    equals the rows read back, and a two-bin compaction runs exactly the
    Spark jobs of its two bin rewrites — no count job per bin."""
    from tests.test_registry import _count_jobs

    t, write_pq = _mor_table(tmp_path)
    files = [write_pq(f"f{i}.parquet", [10 * i + j for j in range(10, 13)])
             for i in range(4)]
    assert len({f.file_size for f in files}) == 1
    t.append(files, now_ms=2000)
    bins = [{"data/f0.parquet", "data/f1.parquet"},
            {"data/f2.parquet", "data/f3.parquet"}]

    def rewrite_bins():
        for i, raws in enumerate(bins):
            out = t.read(spark, paths=raws).select("id", "val")
            out.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"ref-{i}"))

    rewrite_bins()  # warm-up: the same reads, planned once before
    _, want_jobs = _count_jobs(spark, rewrite_bins)
    res, jobs = _count_jobs(spark, lambda: t.compact(
        spark, now_ms=3000, target_bytes=2 * files[0].file_size + 1))
    assert (res["groups"], res["files_out"], res["rows_out"]) == (2, 2, 12)
    assert jobs == want_jobs
    new = [f for f in t.files()
           if os.path.basename(f.path).startswith("compact-")]
    assert len(new) == 2
    for f in new:
        assert f.record_count == spark.read.parquet(f.path).count() == 6


def test_compact_bin_spanning_add_column(spark, tmp_path):
    """A bin mixing pre- and post-add_column files rewrites under the
    snapshot's PINNED schema: the added column's values survive (a
    footer sampled from the older file would silently drop them —
    ADVICE r9 high) and the pre-add file's rows null-fill.  The
    drop_column twin: the rewrite selects only live schema columns, so
    a footer column read() no longer returns cannot crash the select."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    t.add_column("score", "double", now_ms=3000)
    p = os.path.join(str(tmp_path / "mor"), "data", "f2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([3, 4], pa.int64()),
                  "val": pa.array(["v3", "v4"], pa.string()),
                  "score": pa.array([0.5, 0.25], pa.float64())}), p)
    t.append([DataFile("data/f2.parquet", {}, 2, os.path.getsize(p))],
             now_ms=4000)
    before = {(r.id, r.score) for r in t.read(spark).collect()}
    assert before == {(1, None), (2, None), (3, 0.5), (4, 0.25)}
    res = t.compact(spark, now_ms=5000)
    assert res is not None and res["files_out"] == 1
    # the compacted file itself carries the evolved column's values
    assert {(r.id, r.score) for r in t.read(spark).collect()} == before
    (live,) = [f for f in t.files() if f.content == 0]
    got = pq.read_table(os.path.join(str(tmp_path / "mor"), live.path))
    assert sorted(zip(got.column("id").to_pylist(),
                      got.column("score").to_pylist())) == [
        (1, None), (2, None), (3, 0.5), (4, 0.25)]
    # drop face: the dead footer column cannot crash the next rewrite
    t.drop_column("val", now_ms=6000)
    pq.write_table(
        pa.table({"id": pa.array([5], pa.int64()),
                  "score": pa.array([1.0], pa.float64())}),
        os.path.join(str(tmp_path / "mor"), "data", "f3.parquet"))
    t.append([DataFile(
        "data/f3.parquet", {}, 1,
        os.path.getsize(os.path.join(str(tmp_path / "mor"),
                                     "data", "f3.parquet")))],
        now_ms=7000)
    res = t.compact(spark, now_ms=8000)
    assert res is not None
    now = t.read(spark)
    assert sorted(now.columns) == ["id", "score"]
    assert {(r.id, r.score) for r in now.collect()} == {
        (1, None), (2, None), (3, 0.5), (4, 0.25), (5, 1.0)}


def test_compact_partitioned_per_partition(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("a1.parquet", [1, 2], bucket=0),
              write_pq("a2.parquet", [3], bucket=0),
              write_pq("b1.parquet", [10, 11], bucket=1),
              write_pq("b2.parquet", [12], bucket=1)], now_ms=2000)
    res = t.compact(spark, now_ms=3000)
    assert res["files_in"] == 4 and res["files_out"] == 2
    live = [f for f in t.files() if f.content == 0]
    assert sorted(f.partition["p_bucket"] for f in live) == [0, 1]
    got = {(r.id, r.p_bucket) for r in t.read(spark).collect()}
    assert got == {(1, 0), (2, 0), (3, 0), (10, 1), (11, 1), (12, 1)}
    # partition pruning still works over the compacted layout
    pruned = t.read(spark, partition_filter={"p_bucket": 1})
    assert sorted(r.id for r in pruned.collect()) == [10, 11, 12]


def test_remove_dangling_deletes_after_compact(spark, tmp_path):
    """Compaction leaves position deletes naming rewritten (now-dead)
    paths; remove_dangling_deletes drops exactly those while keeping
    deletes that still apply to live files, and expire+vacuum then
    reclaims the dropped parquet."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3]),
              write_pq("f2.parquet", [4, 5])], now_ms=2000)
    t.add_position_deletes([("data/f1.parquet", 0)], now_ms=3000)
    t.compact(spark, now_ms=4000)          # applies + strands the delete
    # a FRESH position delete against the compacted file stays live
    live_data = [f for f in t.files() if f.content == 0]
    assert len(live_data) == 1
    new_rel = live_data[0].raw_path
    t.add_position_deletes([(new_rel, 0)], now_ms=5000)
    before = sorted(r.id for r in t.read(spark).collect())
    dropped = t.remove_dangling_deletes(now_ms=6000)
    assert dropped == ["data/delete-pos-2.parquet"]
    # survivors: exactly the fresh delete; read identical
    survivors = t.delete_files()
    assert len(survivors) == 1
    assert "delete-pos-2" not in survivors[0].raw_path
    assert sorted(r.id for r in t.read(spark).collect()) == before
    # idempotent: nothing dangling now -> no commit
    v = t.current_version()
    assert t.remove_dangling_deletes(now_ms=7000) == []
    assert t.current_version() == v
    # the drop snapshot still tombstones the dead delete file (vacuum is
    # conservative: DELETED tombstones keep their files); one further
    # commit leaves the tombstone behind, then expiry + vacuum reclaims
    t.append([write_pq("f9.parquet", [9])], now_ms=7500)
    t.expire_snapshots(keep_last=1, now_ms=8000)
    removed = t.vacuum()
    assert any("delete-pos-2" in p for p in removed)
    assert sorted(r.id for r in t.read(spark).collect()) == before + [9]


def test_remove_dangling_equality_deletes(spark, tmp_path):
    """An equality delete becomes dangling when every data file at least
    as old as it has been rewritten away (nothing strictly older left)."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2]),
              write_pq("f2.parquet", [3])], now_ms=2000)
    t.add_equality_deletes([{"id": 2}], equality_ids=[1], now_ms=3000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]
    t.compact(spark, now_ms=4000)   # new file is NEWER than the delete
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]
    dropped = t.remove_dangling_deletes(now_ms=5000)
    assert dropped and "delete-eq" in dropped[0]
    assert t.delete_files() == []
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]


def test_update_rows_refusal_names_the_sequence_that_unblocks_it(
        spark, tmp_path):
    """A merge leaves a live equality delete, so update_rows refuses.
    Compaction alone carries the delete forward, so the message names
    what works: compact the older data files, then
    remove_dangling_deletes."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2]),
              write_pq("f2.parquet", [3])], now_ms=2000)
    src = spark.createDataFrame([(2, "new2"), (4, "v4")],
                                "id long, val string")
    t.merge_upsert(spark, src, "id", now_ms=3000)
    model = {1: "v1", 2: "new2", 3: "v3", 4: "v4"}
    with pytest.raises(NotImplementedError,
                       match="remove_dangling_deletes"):
        t.update_rows(spark, {"id": (3, 3)}, {"val": "x"}, now_ms=4000)
    assert t.compact(spark, now_ms=4000)["files_in"] == 3
    with pytest.raises(NotImplementedError, match="equality-delete"):
        t.update_rows(spark, {"id": (3, 3)}, {"val": "x"}, now_ms=5000)
    assert t.remove_dangling_deletes(now_ms=5000)
    assert t.update_rows(spark, {"id": (3, 3)}, {"val": "x"},
                         now_ms=6000) == 1
    model[3] = "x"
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == \
        sorted(model.items())


def test_compact_noop_and_crash_injection(spark, tmp_path, monkeypatch):
    """No qualifying bin -> None and NO commit.  A crash before the
    metadata swap leaves every snapshot intact and only unreferenced
    debris, which vacuum reclaims."""
    import glob as _g

    from hadoop_sync_spark.iceberg_meta import IcebergTable

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    v_before = t.current_version()
    assert t.compact(spark, now_ms=3000) is None     # single file: no bin
    assert t.current_version() == v_before
    t.append([write_pq("f2.parquet", [4])], now_ms=4000)
    v_before = t.current_version()

    def boom(*a, **k):
        raise RuntimeError("injected crash before metadata swap")

    monkeypatch.setattr(IcebergTable, "_commit_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected"):
        t.compact(spark, now_ms=5000)
    monkeypatch.undo()
    # table unchanged, reads fine
    assert t.current_version() == v_before
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 4]
    # the staged compact file is unreferenced debris; vacuum reclaims it
    debris = _g.glob(os.path.join(str(tmp_path / "mor"), "data",
                                  "compact-*.parquet"))
    assert len(debris) == 1
    removed = t.vacuum()
    assert any("compact-" in p for p in removed)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 4]


def test_expire_snapshots_and_vacuum(spark, table, tmp_path):
    t, (s1, s2, s3) = table
    # nothing expired -> vacuum removes nothing (every snapshot live)
    assert t.vacuum() == []
    # keep the last 1 (+current): s1 and s2 expire
    expired = t.expire_snapshots(keep_last=1, now_ms=9000)
    assert expired == sorted([s1, s2])
    # current snapshot still reads; expired time travel raises
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3, 6]
    with pytest.raises(ValueError, match="not found"):
        t.files(snapshot_id=s1)
    # history now lists only the survivor
    assert [h["snapshot_id"] for h in t.history()] == [s3]
    # vacuum drops the data file only the expired snapshots referenced
    # (f2 was CoW-deleted in s3; with s1/s2 gone nothing protects it...
    # except s3's DELETED entry — the conservative walk keeps it, so
    # vacuum removes nothing here; expire again to drop s3's history)
    removed = t.vacuum()
    assert removed == []
    # idempotent expire
    assert t.expire_snapshots(keep_last=5, now_ms=9500) == []


def test_vacuum_removes_unreferenced_after_full_rewrite(spark, tmp_path):
    """After a CoW delete and expiration of every snapshot that listed
    the removed file (including the DELETED tombstone), vacuum reclaims
    it — and reads of every surviving snapshot still work."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    t.append([write_pq("f2.parquet", [3])], now_ms=3000)
    t.delete({"data/f1.parquet"}, now_ms=4000)
    # expire everything but current; current's manifest carries f1 only
    # as a DELETED tombstone... which still protects it (conservative)
    t.expire_snapshots(keep_last=1, now_ms=5000)
    assert t.vacuum() == []
    # one more commit rewrites the manifest WITHOUT the tombstone
    t.append([write_pq("f3.parquet", [4])], now_ms=6000)
    t.expire_snapshots(keep_last=1, now_ms=7000)
    assert t.vacuum() == ["data/f1.parquet"]
    # f1's rows ([1, 2]) died with the file-level CoW delete
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4]


def test_equality_delete_writer_resolves_schema_by_id(spark, tmp_path):
    """add_equality_deletes resolves the current schema by SCHEMA-ID
    lookup, never by list position: an externally compacted metadata
    history (old schemas dropped, the survivor keeping its non-zero id)
    must still write and apply the delete (round 11 — the write-side
    twin of the round-10 read-side fix)."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    t.add_column("note", "string", now_ms=3000)  # current-schema-id -> 1
    meta = json.loads(json.dumps(t.metadata()))
    assert meta["current-schema-id"] == 1
    # external history compaction: only the current schema survives,
    # at list position 0 with schema-id 1
    meta["schemas"] = [s for s in meta["schemas"]
                       if s.get("schema-id", 0) == 1]
    t._write_metadata(t.current_version() + 1, meta)
    t.add_equality_deletes([{"id": 2}], equality_ids=[1], now_ms=4000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]
    with pytest.raises(ValueError, match="unknown schema field id"):
        t.add_equality_deletes([{"id": 9}], equality_ids=[99])


def test_pruned_to_empty_read_with_exotic_external_type(spark, tmp_path):
    """An external single-schema table whose metadata carries a column
    type _spark_schema cannot pin (e.g. decimal): the NON-empty read
    infers from footers and succeeds, so a filter that prunes every
    file must return an empty frame through the same footer inference,
    not flip into NotImplementedError (round-11 review)."""
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds

    d = str(tmp_path / "exotic")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("id", "bigint"), ("val", "string")], now_ms=1000
    )
    p = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "val": pa.array(["a", "b"], pa.string())}),
                   p)
    fields = t._schema_by_id(0)["fields"]
    lb, ub = parquet_column_bounds(p, fields)
    t.append([DataFile("data/f1.parquet", {}, 2, os.path.getsize(p),
                       lower_bounds=lb, upper_bounds=ub)], now_ms=2000)
    # simulate the external writer: the metadata speaks a type outside
    # the scalar map (the data file itself is plain string)
    meta = json.loads(json.dumps(t.metadata()))
    for f in meta["schemas"][0]["fields"]:
        if f["name"] == "val":
            f["type"] = "decimal(10, 2)"
    t._write_metadata(t.current_version() + 1, meta)
    # non-empty read: footer inference, fine
    assert sorted(r.id for r in t.read(
        spark, column_filter={"id": (1, 2)}).collect()) == [1, 2]
    # all-pruned read: empty frame via the same footer inference
    empty = t.read(spark, column_filter={"id": (1_000_000, None)})
    assert empty.count() == 0
    assert empty.columns == ["id", "val"]


def test_delete_rows_predicate_position_deletes(spark, tmp_path):
    """delete_rows = merge-on-read DELETE WHERE: bounds-pruned candidate
    scan, one position-delete commit, upsert semantics intact (a row
    re-appended after the delete survives), time travel below the
    delete sees everything, no-match commits nothing."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3]),
                   write_pq("f2.parquet", [4, 5])], now_ms=2000)
    n = t.delete_rows(spark, {"id": (2, 4)}, now_ms=3000)
    assert n == 3
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 5]
    # one new snapshot only; time travel below it sees all rows
    assert sorted(
        r.id for r in t.read(spark, snapshot_id=s1).collect()
    ) == [1, 2, 3, 4, 5]
    # upsert: a re-appended id=2 is NEWER than the position delete
    t.append([write_pq("f3.parquet", [2])], now_ms=4000)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 5]
    # no-match predicate: no commit
    v = t.current_version()
    assert t.delete_rows(spark, {"id": (100, 200)}, now_ms=5000) == 0
    assert t.current_version() == v
    # duplicate positions from overlapping predicates stay harmless
    assert t.delete_rows(spark, {"id": (1, 1)}, now_ms=6000) == 1
    assert t.delete_rows(spark, {"id": (None, 1)}, now_ms=7000) == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 5]
    # guards
    with pytest.raises(ValueError, match="no such column"):
        t.delete_rows(spark, {"nope": (1, 2)})
    # over the driver cap -> the EXECUTOR tier (round 12) writes the
    # position-delete parquet straight from the distributed frame
    t.DELETE_ROWS_LIMIT = 0
    try:
        assert t.delete_rows(spark, {"id": (5, 5)}, now_ms=7500) == 1
        assert sorted(r.id for r in t.read(spark).collect()) == [2]
        # spec sort order holds inside the executor-written file
        import pyarrow.parquet as _epq
        dels = [d for d in t.delete_files()
                if "delete-pos-" in d.raw_path and "-0" in
                os.path.basename(d.raw_path)]
        tb = _epq.read_table(dels[-1].path)
        got_pairs = list(zip(tb["file_path"].to_pylist(),
                             tb["pos"].to_pylist()))
        assert got_pairs == sorted(got_pairs)
        # update_rows over the cap takes its executor tier too (round
        # 12 lifted the last write-face refusal): rewrite + distributed
        # position-delete write in ONE snapshot, existing deletes
        # subtracted sequence-aware through Spark
        with pytest.MonkeyPatch.context() as m:
            m.setattr(iceberg_meta, "_DRIVER_DECODE_ROW_LIMIT", 0)
            assert t.update_rows(spark, {"id": (2, 2)},
                                 {"val": "X2"}, now_ms=7800) == 1
        assert {(r.id, r.val) for r in t.read(spark).collect()} == {
            (2, "X2")}
    finally:
        del t.DELETE_ROWS_LIMIT
    # renamed histories work (round 12 lifted the refusal): the
    # predicate scan resolves by name variant, so rows in PRE-rename
    # files still match — and predicates on the renamed column itself
    # resolve values those old files stored under the old name
    t.rename_column("val", "label", now_ms=8000)
    # id=2 matches in the pre-rename f1 AND f3 (already-dead
    # positions, harmless duplicate pairs per the contract) AND the
    # live update copy — the variant scan sees pre-rename files
    # instead of null-filling them
    assert t.delete_rows(spark, {"id": (2, 2)}, now_ms=9000) == 3
    assert [r.id for r in t.read(spark).collect()] == []
    # predicate on the RENAMED column resolves old-name values
    t.append([write_pq("f4.parquet", [8])], now_ms=9500)
    assert t.delete_rows(spark, {"label": ("v8", "v8")},
                         now_ms=9800) == 1
    assert [r.id for r in t.read(spark).collect()] == []


def test_delete_rows_partition_column_refuses(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("f1.parquet", [1], bucket=0)], now_ms=2000)
    with pytest.raises(NotImplementedError, match="partition column"):
        t.delete_rows(spark, {"p_bucket": (0, 0)})


def test_update_rows_position_delete_plus_new_file_one_snapshot(
        spark, tmp_path):
    """update_rows = MoR UPDATE: one snapshot commits the position
    delete AND the updated copies; already-deleted rows are not
    resurrected; time travel below shows the pre-update state; the new
    file carries footer bounds so pruning keeps working."""
    from pyspark.sql import functions as F

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3]),
              write_pq("f2.parquet", [4])], now_ms=2000)
    t.delete_rows(spark, {"id": (2, 2)}, now_ms=3000)  # kill id=2 first
    v = t.current_version()
    s_pre = t.snapshot()["snapshot-id"]
    n = t.update_rows(spark, {"id": (2, 4)},
                      {"val": F.concat(F.col("val"), F.lit("!")),
                       "id": 100}, now_ms=4000)
    assert n == 2                      # id=3 and id=4; id=2 was dead
    assert t.current_version() == v + 1  # ONE commit
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "v1"), (100, "v3!"), (100, "v4!")}
    # time travel below the update
    old = {(r.id, r.val)
           for r in t.read(spark, snapshot_id=s_pre).collect()}
    assert old == {(1, "v1"), (3, "v3"), (4, "v4")}
    # the new file carries bounds: it survives a matching filter and
    # PRUNES under a non-matching one (f1/f2 are stats-less in this
    # fixture and always survive — sound)
    assert any("part-update" in f.raw_path
               for f in t.files(column_filter={"id": (100, None)}))
    assert not any("part-update" in f.raw_path
                   for f in t.files(column_filter={"id": (None, 10)}))
    # no-match update commits nothing
    v2 = t.current_version()
    assert t.update_rows(spark, {"id": (7, 8)}, {"val": "x"}) == 0
    assert t.current_version() == v2
    # guards
    with pytest.raises(ValueError, match="no such column"):
        t.update_rows(spark, {"id": (1, 1)}, {"nope": 0})
    t.add_equality_deletes([{"id": 1}], equality_ids=[1], now_ms=5000)
    with pytest.raises(NotImplementedError, match="equality-delete"):
        t.update_rows(spark, {"id": (100, 100)}, {"val": "y"})


def test_dml_after_rename_resolves_name_variants(spark, tmp_path):
    """delete_rows / update_rows on a renamed history (round 12 lifted
    the r11 refusal): predicates on renamed AND stable columns match
    rows in pre-rename files via the read path's name-variant
    coalesce; update's rewritten copies land under the CURRENT names
    and keep reading right after a second rename."""
    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    t.rename_column("val", "label", now_ms=3000)
    # predicate ON the renamed column, values live under the OLD name
    assert t.update_rows(spark, {"label": ("v2", "v2")},
                         {"label": "L2"}, now_ms=4000) == 1
    got = {(r.id, r.label) for r in t.read(spark).collect()}
    assert got == {(1, "v1"), (2, "L2"), (3, "v3")}
    # the rewritten copy carries the CURRENT physical name
    import pyarrow.parquet as _pq
    upd = [f for f in t.files() if "part-update-" in f.raw_path]
    assert upd and set(_pq.read_schema(upd[0].path).names) == {
        "id", "label"}
    # a second rename: the copy (written as 'label') and the original
    # files ('val') both resolve through the variant chain
    t.rename_column("label", "tag", now_ms=5000)
    assert t.update_rows(spark, {"id": (1, 1)},
                         {"tag": "T1"}, now_ms=6000) == 1
    got = {(r.id, r.tag) for r in t.read(spark).collect()}
    assert got == {(1, "T1"), (2, "L2"), (3, "v3")}
    assert t.delete_rows(spark, {"tag": ("v3", "v3")},
                         now_ms=7000) == 1
    assert {(r.id, r.tag) for r in t.read(spark).collect()} == {
        (1, "T1"), (2, "L2")}


def test_update_rows_partitioned_per_tuple_files(spark, tmp_path):
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("f1.parquet", [1, 2], bucket=0),
              write_pq("f2.parquet", [3], bucket=1)], now_ms=2000)
    n = t.update_rows(spark, {"id": (2, 3)}, {"val": "U"}, now_ms=3000)
    assert n == 2
    got = {(r.id, r.val, r.p_bucket)
           for r in t.read(spark).collect()}
    assert got == {(1, "v1", 0), (2, "U", 0), (3, "U", 1)}
    # one new file per affected partition tuple
    new = [f for f in t.files() if "part-update" in f.raw_path]
    assert sorted(f.partition["p_bucket"] for f in new) == [0, 1]
    with pytest.raises(NotImplementedError, match="partition-source"):
        t.update_rows(spark, {"id": (1, 1)}, {"p_bucket": 5})


def test_update_rows_simultaneous_set_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [5])], now_ms=2000)
    t.update_rows(spark, {"id": (5, 5)},
                  {"id": 9, "val": F.concat(F.lit("was-"),
                                            F.col("id").cast("string"))},
                  now_ms=3000)
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {
        (9, "was-5")}
    with pytest.raises(ValueError, match="at least one SET"):
        t.update_rows(spark, {"id": (9, 9)}, {})


@pytest.mark.slow
def test_merge_upsert_scan_free_cdc(spark, tmp_path):
    """merge_upsert commits ONE snapshot with the source file + an
    equality delete on the key — no target scan: old key versions hide
    (strictly-older rule), same-commit rows survive, unmatched keys
    insert.  A second batch over the first composes; time travel below
    each upsert shows the prior state."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3])], now_ms=2000)
    src = spark.createDataFrame(
        [(2, "two-v2"), (9, "nine")], ["id", "val"])
    res = t.merge_upsert(spark, src, "id", now_ms=3000)
    assert res["rows"] == 2 and res["keys"] == 2
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "v1"), (2, "two-v2"), (3, "v3"), (9, "nine")}
    # second batch updates the updated row again
    src2 = spark.createDataFrame([(2, "two-v3")], ["id", "val"])
    t.merge_upsert(spark, src2, "id", now_ms=4000)
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "v1"), (2, "two-v3"), (3, "v3"), (9, "nine")}
    # time travel below the first upsert
    assert {(r.id, r.val)
            for r in t.read(spark, snapshot_id=s1).collect()} == {
        (1, "v1"), (2, "v2"), (3, "v3")}
    # guards: column mismatch, unknown key, empty source no-op
    with pytest.raises(ValueError, match="match the table's data"):
        t.merge_upsert(spark, src.select("id"), "id")
    with pytest.raises(ValueError, match="no such column"):
        t.merge_upsert(spark, src, "nope")
    v = t.current_version()
    assert t.merge_upsert(spark, src.limit(0), "id")["keys"] == 0
    assert t.current_version() == v


@pytest.mark.slow
def test_merge_upsert_partitioned_identity(spark, tmp_path):
    """Partitioned merge (round 12): the source splits per identity
    partition tuple — one data file per tuple in ONE snapshot, each
    entry stamped with its tuple (so later partition filters prune the
    upsert files too) — while the equality delete stays table-wide."""
    t, write_pq = _mor_table(tmp_path, partitioned=True)
    t.append([write_pq("f1.parquet", [1, 2], bucket=0),
              write_pq("f2.parquet", [3], bucket=1)], now_ms=2000)
    src = spark.createDataFrame(
        [(2, "x", 0), (7, "s", 1), (8, "n", 2)],
        ["id", "val", "p_bucket"])
    res = t.merge_upsert(spark, src, "id", now_ms=3000)
    assert res["rows"] == 3 and res["keys"] == 3
    got = {(r.id, r.val, r.p_bucket) for r in t.read(spark).collect()}
    assert got == {(1, "v1", 0), (2, "x", 0), (3, "v3", 1),
                   (7, "s", 1), (8, "n", 2)}
    # one upsert file per tuple, stamped with its tuple
    ups = [f for f in t.files() if "part-upsert-" in f.raw_path]
    assert sorted(f.partition["p_bucket"] for f in ups) == [0, 1, 2]
    # partition pruning reaches the upsert files
    assert {r.id for r in t.read(
        spark, partition_filter={"p_bucket": 1}).collect()} == {3, 7}
    # merge over its own output
    src2 = spark.createDataFrame([(7, "S", 1)],
                                 ["id", "val", "p_bucket"])
    t.merge_upsert(spark, src2, "id", now_ms=4000)
    assert (7, "S", 1) in {(r.id, r.val, r.p_bucket)
                           for r in t.read(spark).collect()}
    # key on a partition-source column refuses
    with pytest.raises(NotImplementedError, match="partition"):
        t.merge_upsert(spark, src, "p_bucket")


@pytest.mark.slow
def test_merge_upsert_bucket_transform(spark, tmp_path):
    """Bucket-partitioned MERGE (round 13 — the r12 refusal flipped):
    the source splits per TRANSFORM tuple computed per row with the
    same spec-verified murmur3 the pruning layers use, each data file
    stamped with its bucket so partition filters prune merged files,
    the source column kept IN the data files (transforms are lossy),
    and a second merge over its own output composes."""
    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "mrg_bkt")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("id", "bigint"), ("val", "string")],
        partition_by=[("id", "int", "bucket[4]")], now_ms=1000)
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], ["id", "val"])
    res = t.merge_upsert(spark, src, "id", now_ms=2000)
    assert res["rows"] == 8 and res["keys"] == 8
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(i, f"v{i}") for i in range(8)}
    # one data file per OCCUPIED bucket, tuple = spec murmur3 bucket
    want_buckets = {transform_value("bucket[4]", i) for i in range(8)}
    ups = [f for f in t.files() if f.content == 0]
    assert sorted(f.partition["id_bucket"] for f in ups) == sorted(
        want_buckets)
    # partition pruning reaches the merged files: filter in the
    # SOURCE domain, files() transforms it like the read path
    want = transform_value("bucket[4]", 5)
    pruned = t.files(partition_filter={"id_bucket": 5})
    assert pruned and all(
        f.partition["id_bucket"] == want for f in pruned)
    assert len(pruned) < len(ups)
    # the data files CARRY the source column (unlike identity)
    import pyarrow.parquet as pq

    assert "id" in pq.read_schema(ups[0].path).names
    # merge over its own output: the equality delete hides the old
    # row across buckets, the new version lands in its bucket
    src2 = spark.createDataFrame([(5, "V5")], ["id", "val"])
    t.merge_upsert(spark, src2, "id", now_ms=3000)
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert (5, "V5") in got and (5, "v5") not in got
    assert len(got) == 8


@pytest.mark.slow
def test_stream_and_merge_truncate_temporal_transforms(spark, tmp_path):
    """Mixed truncate[2](string) + day(date) default spec through
    BOTH write faces (round 13): per-row transform values stamp the
    manifest tuples, prune correctly, and match transform_value."""
    import datetime as dt

    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "tt")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d,
        [("id", "bigint"), ("name", "string"), ("d", "date")],
        partition_by=[("name", "string", "truncate[2]"),
                      ("d", "int", "day")],
        now_ms=1000,
    )
    rows = [
        (1, "alpha", dt.date(2024, 1, 1)),
        (2, "alto", dt.date(2024, 1, 1)),
        (3, "beta", dt.date(1969, 12, 31)),  # pre-epoch day ordinal
        (4, None, None),                      # NULL transforms to NULL
    ]
    b = spark.createDataFrame(rows, "id long, name string, d date")
    assert t.append_stream_batch(b, "q-tt", 0, now_ms=2000) is not None
    files = [f for f in t.files() if f.content == 0]
    # tuples: (al, 19723) x2 -> one file; (be, -1); (None, None)
    tuples = sorted(
        ((f.partition["name_truncate"], f.partition["d_day"])
         for f in files),
        key=lambda p: (p[0] is None, p[0] or ""),
    )
    assert tuples == sorted(
        {(transform_value("truncate[2]", n),
          transform_value("day", dd)) for _, n, dd in rows},
        key=lambda p: (p[0] is None, p[0] or ""),
    )
    got = {(r.id, r.name, r.d) for r in t.read(spark).collect()}
    assert got == set(rows)
    # merge through the same spec: update one row, add another
    src = spark.createDataFrame(
        [(2, "alto-v2", dt.date(2024, 1, 1)),
         (5, "gamma", dt.date(2024, 6, 1))],
        "id long, name string, d date")
    t.merge_upsert(spark, src, "id", now_ms=3000)
    got = {(r.id, r.name) for r in t.read(spark).collect()}
    assert (2, "alto-v2") in got and (5, "gamma") in got
    assert (2, "alto") not in got and len(got) == 5


def test_incremental_scan_append_only(spark, tmp_path):
    """incremental_scan returns exactly the rows appended after the
    cursor snapshot, tagged by the appending snapshot; non-append
    snapshots in range refuse; later deletes do NOT subtract (the
    incremental-read contract)."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    s2 = t.append([write_pq("f2.parquet", [3])], now_ms=3000)
    s3 = t.append([write_pq("f3.parquet", [4, 5])], now_ms=4000)
    got = {(r.id, r._snapshot_id)
           for r in t.incremental_scan(spark, s1).collect()}
    assert got == {(3, s2), (4, s3), (5, s3)}
    # bounded range
    got = {(r.id, r._snapshot_id)
           for r in t.incremental_scan(spark, s1, s2).collect()}
    assert got == {(3, s2)}
    # empty range is an empty frame with the full schema
    empty = t.incremental_scan(spark, s3)
    assert empty.count() == 0
    assert empty.columns == ["id", "val", "_snapshot_id"]
    # a delete AFTER an append does not subtract from the append range
    t.delete_rows(spark, {"id": (3, 3)}, now_ms=5000)
    got = {r.id for r in t.incremental_scan(spark, s1, s3).collect()}
    assert got == {3, 4, 5}
    # ... but a range CROSSING the delete snapshot refuses
    with pytest.raises(NotImplementedError, match="append-only"):
        t.incremental_scan(spark, s1).collect()
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.incremental_scan(spark, 999999)


@pytest.mark.slow
def test_stream_and_merge_identity_date_partition(spark, tmp_path):
    """Identity-DATE default specs through both write faces (round
    13): manifest tuples stamp EPOCH-DAY ints (Avro int, Appendix A —
    raw dates crashed the union encode), the read paths convert back,
    date-valued partition filters prune, NULL tuples ride, and merge
    composes.  Identity on TIMESTAMP sources refuses early with the
    day/hour-transform alternative named."""
    import datetime as dt

    d = str(tmp_path / "id_date")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("d", "date")],
        partition_by=[("d", "date")], now_ms=1)
    b = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2)),
         (3, None)], "k long, d date")
    assert t.append_stream_batch(b, "w", 0, now_ms=2) is not None
    got = {(r.k, r.d) for r in t.read(spark).collect()}
    assert got == {(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2)),
                   (3, None)}
    tuples = sorted(
        (f.partition["d"] for f in t.files()),
        key=lambda v: (v is None, v or 0))
    assert tuples == [19723, 19724, None]  # epoch-day ints + null
    pruned = t.files(partition_filter={"d": dt.date(2024, 1, 2)})
    assert [f.partition["d"] for f in pruned] == [19724]
    src = spark.createDataFrame(
        [(2, dt.date(2024, 2, 2)), (9, dt.date(2024, 1, 1))],
        "k long, d date")
    t.merge_upsert(spark, src, "k", now_ms=3)
    got = {(r.k, r.d) for r in t.read(spark).collect()}
    assert (2, dt.date(2024, 2, 2)) in got and len(got) == 4

    # identity on a timestamp source refuses EARLY, naming the
    # transform alternative (raw stamping would crash in Avro)
    d2 = str(tmp_path / "id_ts")
    os.makedirs(os.path.join(d2, "data"))
    t2 = IcebergTable.create(
        d2, [("k", "bigint"), ("ts", "timestamp")],
        partition_by=[("ts", "timestamp")], now_ms=1)
    b2 = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))],
                               "k long, ts timestamp_ntz")
    with pytest.raises(NotImplementedError, match="day/hour"):
        t2.append_stream_batch(b2, "w", 0, now_ms=2)


def test_incremental_and_changelog_scan_renamed_history(spark, tmp_path):
    """Round 13 lifts the renamed-history refusal on both CDC batch
    faces: pre-rename files carry the OLD physical name, post-rename
    files the NEW one, and both scans resolve per field id —
    coalescing variants (incremental) / reading through read()'s
    composition (changelog) — emitting the CURRENT names, the same
    rule the batch read and the r12 DML faces apply."""
    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2])], now_ms=2000)
    # second pre-rename file lands IN the scanned range
    s2 = t.append([write_pq("f2.parquet", [3])], now_ms=3000)
    t.rename_column("val", "label", now_ms=4000)

    def write_new(name, ids):
        p = os.path.join(t.dir, "data", name)
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "label": pa.array([f"v{i}" for i in ids], pa.string()),
        }), p)
        return DataFile(path=f"data/{name}", partition={},
                        record_count=len(ids),
                        file_size=os.path.getsize(p))

    s3 = t.append([write_new("f3.parquet", [4])], now_ms=5000)
    # incremental range spans a pre-rename AND a post-rename file:
    # old-name column coalesces into the current name
    inc = t.incremental_scan(spark, s1, s3)
    assert inc.columns == ["id", "label", "_snapshot_id"]
    assert {(r.id, r.label, r._snapshot_id)
            for r in inc.collect()} == {(3, "v3", s2), (4, "v4", s3)}

    # changelog entirely AFTER the rename, deleting rows that live in
    # a PRE-rename file (f1): the delete frame reads the old-name file
    # and still emits current names.  (A range CROSSING the rename
    # refuses via the schema-change check — pinned below.)
    t.delete_rows(spark, {"id": (1, 1)}, now_ms=6000)
    s4 = t.current_snapshot_id() if hasattr(t, "current_snapshot_id") \
        else t.metadata()["current-snapshot-id"]
    clog = t.changelog_scan(spark, s3, s4)
    assert clog.columns == ["id", "label", "_change_type",
                            "_snapshot_id"]
    assert {(r.id, r.label, r._change_type)
            for r in clog.collect()} == {(1, "v1", "delete")}
    with pytest.raises(NotImplementedError, match="schema change"):
        t.changelog_scan(spark, s1, s4).collect()


def test_changelog_scan_row_level_history(spark, tmp_path):
    """changelog_scan emits per-snapshot insert/delete events for
    DELETE and MERGE snapshots (the face incremental_scan's refusal
    names): replaying the events over the cursor state reproduces the
    end state; compaction (replace) snapshots emit nothing; schema
    changes mid-range refuse."""
    from collections import Counter

    t, write_pq = _mor_table(tmp_path)
    s1 = t.append([write_pq("f1.parquet", [1, 2, 3]),
                   write_pq("f2.parquet", [4, 5])], now_ms=2000)
    t.delete_rows(spark, {"id": (2, 4)}, now_ms=3000)
    s2 = t.snapshot()["snapshot-id"]
    s3 = t.append([write_pq("f3.parquet", [2])], now_ms=4000)
    src = spark.createDataFrame([(5, "x"), (9, "y")], ["id", "val"])
    s4 = t.merge_upsert(spark, src, "id", now_ms=5000)["snapshot_id"]

    ev = [(r.id, r.val, r._change_type, r._snapshot_id)
          for r in t.changelog_scan(spark, s1).collect()]
    by_snap = {}
    for i, v, k, sid in ev:
        by_snap.setdefault(sid, set()).add((i, v, k))
    assert by_snap[s2] == {(2, "v2", "delete"), (3, "v3", "delete"),
                           (4, "v4", "delete")}
    assert by_snap[s3] == {(2, "v2", "insert")}
    assert by_snap[s4] == {(5, "v5", "delete"), (5, "x", "insert"),
                           (9, "y", "insert")}
    # replay: cursor state + events == end state (multiset)
    state = Counter((r.id, r.val)
                    for r in t.read(spark, snapshot_id=s1).collect())
    for i, v, k, _ in sorted(ev, key=lambda e: e[3]):
        if k == "insert":
            state[(i, v)] += 1
        else:
            state[(i, v)] -= 1
    end = Counter((r.id, r.val) for r in t.read(spark).collect())
    assert +state == end
    # bounded range stops at its end snapshot
    got = {(r.id, r._change_type)
           for r in t.changelog_scan(spark, s1, s2).collect()}
    assert got == {(2, "delete"), (3, "delete"), (4, "delete")}
    # empty range: empty frame, full tagged schema
    empty = t.changelog_scan(spark, s4)
    assert empty.count() == 0
    assert empty.columns == ["id", "val", "_change_type",
                             "_snapshot_id"]
    # compaction emits nothing (replace = logical no-op by spec)
    t.compact(spark, now_ms=6000)
    assert t.changelog_scan(spark, s4).count() == 0
    # a schema change mid-range refuses
    t.add_column("extra", "bigint", now_ms=7000)
    t.append([write_pq("f4.parquet", [7])], now_ms=8000)
    with pytest.raises(NotImplementedError, match="schema change"):
        t.changelog_scan(spark, s1).collect()
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.changelog_scan(spark, 424242)


@pytest.mark.parametrize("kind", ["position", "equality", "both"])
@pytest.mark.parametrize("shape", ["flat", "partitioned", "evolved"])
def test_changelog_scan_partitioned_and_prior_deletes(spark, tmp_path,
                                                      shape, kind):
    """Every table shape (unpartitioned, identity-partitioned on an
    ``int`` column, spec evolved mid-history on that ``int`` column)
    under every delete kind reads through the one
    delete-apply: ``read()``, ``read(paths=<subset>)`` and ``read()``
    after ``compact`` equal a pyarrow model of the live rows, and
    ``changelog_scan`` equals the model's events and the
    ``mode=changelog`` stream as multisets.  Rows a PRIOR delete
    already hides do not re-emit when a later overlapping delete lands
    (the visibility diff, not the raw delete-file content, drives the
    events); a merge emits a delete+insert pair for the matched key and
    tuple-stamped inserts for the rest."""
    from collections import Counter

    from hadoop_sync_spark.cdc_source import IcebergIncrementalStreamSource

    d = str(tmp_path / "grid")
    os.makedirs(os.path.join(d, "data"))
    # p is an int in every shape: its partition values attach as
    # longs, and compaction must write it back into data as an int
    t = IcebergTable.create(
        d, [("id", "bigint"), ("val", "string"), ("p", "int")],
        partition_by=[("p", "int")] if shape == "partitioned" else None,
        now_ms=1000,
    )
    model = {}  # id -> (id, val, p)

    def write(name, ids, p, recorded):
        cols = {"id": pa.array(ids, pa.int64()),
                "val": pa.array([f"v{i}" for i in ids], pa.string())}
        if not recorded:  # the partition value lives in the data
            cols["p"] = pa.array([p] * len(ids), pa.int32())
        pq.write_table(pa.table(cols), os.path.join(d, "data", name))
        model.update({i: (i, f"v{i}", p) for i in ids})
        return DataFile(f"data/{name}", {"p": p} if recorded else {},
                        len(ids), os.path.getsize(
                            os.path.join(d, "data", name)))

    recorded = shape == "partitioned"
    t.append([write("f1.parquet", [1, 2, 3], 0, recorded),
              write("f2.parquet", [4, 5], 1, recorded)], now_ms=2000)
    if shape == "evolved":
        t.update_spec([("p", "int")], now_ms=2500)
    s0 = t.append([write("f3.parquet", [6], 1, shape != "flat")],
                  now_ms=3000)
    events = Counter()

    def snap():
        return t.snapshot()["snapshot-id"]

    # id 2 dies, then an overlapping delete names 2 and 3: only 3 emits
    if kind == "equality":
        t.add_equality_deletes([{"id": 2}], [1], now_ms=4000)
    else:
        t.delete_rows(spark, {"id": (2, 2)}, now_ms=4000)
    events[model.pop(2) + ("delete", snap())] += 1
    if kind == "position":
        t.delete_rows(spark, {"id": (2, 3)}, now_ms=5000)
    else:
        t.add_equality_deletes([{"id": 2}, {"id": 3}], [1], now_ms=5000)
    events[model.pop(3) + ("delete", snap())] += 1
    if kind != "position":
        src = spark.createDataFrame([(4, "X", 1), (9, "n", 2)],
                                    "id long, val string, p int")
        s3 = t.merge_upsert(spark, src, "id", now_ms=6000)["snapshot_id"]
        events[model.pop(4) + ("delete", s3)] += 1
        for row in [(4, "X", 1), (9, "n", 2)]:
            model[row[0]] = row
            events[row + ("insert", s3)] += 1

    def rows(df, *extra):
        return Counter(tuple(r) for r in
                       df.select("id", "val", "p", *extra).collect())

    assert rows(t.read(spark)) == Counter(model.values())
    assert rows(t.read(spark, paths={"data/f1.parquet"})) == Counter(
        r for r in model.values() if r[0] in (1, 2, 3))
    clog = rows(t.changelog_scan(spark, s0), "_change_type",
                "_snapshot_id")
    assert clog == events
    with pytest.MonkeyPatch.context() as m:
        # the same answers with the position deletes decoded on the
        # executors (one scan of every delete file) instead of the driver
        m.setattr(iceberg_meta, "_DRIVER_DECODE_ROW_LIMIT", 0)
        assert rows(t.read(spark)) == Counter(model.values())
        assert rows(t.changelog_scan(spark, s0), "_change_type",
                    "_snapshot_id") == events
    spark.dataSource.register(IcebergIncrementalStreamSource)
    streamed: list = []
    (spark.readStream.format("iceberg_incremental")
     .option("path", d).option("mode", "changelog")
     .option("startingSequence",
             t.snapshot(s0)["sequence-number"] + 1).load()
     .writeStream.foreachBatch(lambda b, _i: streamed.extend(
         tuple(r) for r in b.select("id", "val", "p", "_change_type",
                                    "_snapshot_id").collect()))
     .option("checkpointLocation", str(tmp_path / "ck"))
     .trigger(availableNow=True).start().awaitTermination())
    assert Counter(streamed) == clog
    assert t.compact(spark, now_ms=7000) is not None
    assert rows(t.read(spark)) == Counter(model.values())
    # compaction is a replace snapshot: the changelog does not move
    assert rows(t.changelog_scan(spark, s0), "_change_type",
                "_snapshot_id") == events


def test_merge_upsert_validation_before_write(spark, tmp_path):
    """Key-type and NULL-key refusals fire BEFORE any file lands
    (round-11 review: a post-write refusal orphaned the data file)."""
    import glob as _g

    t, write_pq = _mor_table(tmp_path)
    t.append([write_pq("f1.parquet", [1])], now_ms=2000)
    d = str(tmp_path / "mor")
    before = set(_g.glob(os.path.join(d, "data", "*")))
    nulls = spark.createDataFrame([(None, "x")], "id long, val string")
    with pytest.raises(ValueError, match="NULL keys"):
        t.merge_upsert(spark, nulls, "id")
    # keying on a column type equality deletes cannot carry refuses
    # up front too (build a table with a date column)
    d2 = str(tmp_path / "datetab")
    os.makedirs(os.path.join(d2, "data"))
    t2 = IcebergTable.create(
        d2, [("d", "date"), ("v", "string")], now_ms=1000)
    src = spark.createDataFrame([("2020-01-01", "x")], ["d", "v"]) \
        .selectExpr("cast(d as date) d", "v")
    with pytest.raises(NotImplementedError, match="merge_upsert key"):
        t2.merge_upsert(spark, src, "d")
    assert set(_g.glob(os.path.join(d, "data", "*"))) == before
    assert _g.glob(os.path.join(d2, "data", "*")) == []


def test_column_filter_on_just_added_column_current_read(spark, tmp_path):
    """A CURRENT read's column_filter resolves against the CURRENT
    schema, exactly like the read's output frame: DDL is metadata-only
    (no snapshot), so the latest snapshot's recorded schema-id predates
    the add — resolving there refused a filter on a just-added column
    (found by the DML sequence fuzzer).  Time travel keeps pinning the
    snapshot's own schema."""
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds

    d = str(tmp_path / "cfadd")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(d, [("k", "bigint")], now_ms=1)

    def add(name, ks, cs=None):
        p = os.path.join(d, "data", name)
        cols = {"k": pa.array(ks, pa.int64())}
        if cs is not None:
            cols["c1"] = pa.array(cs, pa.int64())
        pq.write_table(pa.table(cols), p)
        meta = t.metadata()
        fields = next(
            s for s in meta["schemas"]
            if s.get("schema-id") == meta.get("current-schema-id", 0)
        )["fields"]
        lb, ub = parquet_column_bounds(p, fields)
        t.append([DataFile(f"data/{name}", {}, len(ks),
                           os.path.getsize(p),
                           lower_bounds=lb, upper_bounds=ub)],
                 now_ms=1000)

    add("f1.parquet", [1, 2])
    s1 = t.metadata()["current-snapshot-id"]
    t.add_column("c1", "bigint", now_ms=2000)
    # filter on the just-added column BEFORE any new snapshot exists:
    # resolves, matches nothing (every row null-fills)
    assert t.read(spark, column_filter={"c1": (0, 10**6)}).count() == 0
    add("f2.parquet", [3, 4], [30, 40])
    # bounds prune: old file has no c1 stats (never pruned, rows are
    # NULL and fail the predicate); new file matches
    got = sorted(
        tuple(r) for r in t.read(
            spark, column_filter={"c1": (30, 30)}
        ).collect()
    )
    assert got == [(3, 30)]
    # time travel to the pre-DDL snapshot still refuses the name: the
    # snapshot's schema is pinned, c1 did not exist there
    with pytest.raises(ValueError, match="no such column 'c1'"):
        t.read(spark, snapshot_id=s1, column_filter={"c1": (0, 1)})


# ---------------------------------------------------------------- rollback


def test_rollback_to_restores_old_live_set(table):
    """rollback_to repoints current (and main) at an older snapshot with
    ONE metadata-only version bump; later snapshots stay readable by id
    and expirable, and a post-rollback commit branches from the restored
    state with a fresh (never-reused) sequence number."""
    t, (s1, s2, s3) = table
    assert _names(t.files()) == ["f1.parquet", "f3.parquet"]
    seq_before = t.metadata()["last-sequence-number"]

    t.rollback_to(s1, now_ms=5000)
    meta = t.metadata()
    assert meta["current-snapshot-id"] == s1
    assert meta["refs"]["main"]["snapshot-id"] == s1
    assert _names(t.files()) == ["f1.parquet", "f2.parquet"]
    # the high watermark survives: sequences are never reused
    assert meta["last-sequence-number"] == seq_before
    # timestamp travel sees the rollback as the state from now_ms on
    assert _names(t.files(as_of_timestamp_ms=6000)) == [
        "f1.parquet", "f2.parquet",
    ]
    # ... while the pre-rollback instant still resolves the old head
    assert _names(t.files(as_of_timestamp_ms=4500)) == [
        "f1.parquet", "f3.parquet",
    ]
    # undone snapshots stay readable by id (two-step undo: expire later)
    assert _names(t.files(snapshot_id=s3)) == ["f1.parquet", "f3.parquet"]

    # rolling FORWARD again works (linear history: set-current semantics)
    t.rollback_to(s3, now_ms=7000)
    assert _names(t.files()) == ["f1.parquet", "f3.parquet"]
    t.rollback_to(s1, now_ms=8000)

    # a commit after the rollback branches from the restored state
    p = os.path.join(t.dir, "data", "f9.parquet")
    pq.write_table(
        pa.table({"id": pa.array([9], pa.int64()), "val": ["v9"]}), p
    )
    t.append(
        [DataFile("data/f9.parquet", {"p_bucket": 0}, 1,
                  os.path.getsize(p))],
        now_ms=9000,
    )
    assert _names(t.files()) == ["f1.parquet", "f2.parquet", "f9.parquet"]
    seqs = [s["sequence-number"] for s in t.metadata()["snapshots"]]
    assert len(set(seqs)) == len(seqs) and max(seqs) > seq_before

    # expire + vacuum reclaim the undone branch but spare the live one
    t.expire_snapshots(keep_last=1, now_ms=10000)
    removed = t.vacuum()
    assert "data/f3.parquet" in removed
    assert _names(t.files()) == ["f1.parquet", "f2.parquet", "f9.parquet"]


def test_rollback_refusals(table):
    t, (s1, s2, s3) = table
    with pytest.raises(ValueError, match="not found"):
        t.rollback_to(424242)
    with pytest.raises(ValueError, match="already current"):
        t.rollback_to(s3)


# ------------------------------------------------- partition-spec evolution


def _pq_file(d, name, cols):
    p = os.path.join(d, "data", name)
    pq.write_table(
        pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()}),
        p,
    )
    return p


def test_update_spec_unpartitioned_to_identity(spark, tmp_path):
    """The headline evolution: an unpartitioned table starts recording
    an identity partition.  Pre-evolution files keep the column in
    DATA, post-evolution files record it in metadata only, and ONE
    read composes both eras (coalesce of the attached value over the
    scanned one); partition filters prune only the era whose spec
    records the field and row-filter the other."""
    d = str(tmp_path / "evo")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint"), ("c", "bigint")],
        now_ms=1000,
    )
    p1 = _pq_file(d, "f1.parquet", {"k": [1, 2], "v": [10, 20],
                                    "c": [7, 8]})
    s1 = t.append([DataFile("data/f1.parquet", {}, 2,
                            os.path.getsize(p1))], now_ms=2000)
    new_sid = t.update_spec([("c", "long")], now_ms=3000)
    assert new_sid == 1
    assert t.metadata()["default-spec-id"] == 1
    # post-evolution writer: c lives in metadata, not the file
    p2 = _pq_file(d, "f2.parquet", {"k": [3], "v": [30]})
    t.append([DataFile("data/f2.parquet", {"c": 7}, 1,
                       os.path.getsize(p2))], now_ms=4000)

    got = sorted(tuple(r) for r in
                 t.read(spark).select("k", "v", "c").collect())
    assert got == [(1, 10, 7), (2, 20, 8), (3, 30, 7)]
    # filter: prunes f2's era at file level, row-filters f1's era
    got = sorted(tuple(r) for r in t.read(
        spark, partition_filter={"c": 7}
    ).select("k", "v", "c").collect())
    assert got == [(1, 10, 7), (3, 30, 7)]
    # the other partition value: f2 pruned entirely, f1 row-filtered
    got = [tuple(r) for r in t.read(
        spark, partition_filter={"c": 8}
    ).select("k", "v", "c").collect()]
    assert got == [(2, 20, 8)]
    # time travel below the evolution: plain single-era read
    got = sorted(tuple(r) for r in t.read(
        spark, snapshot_id=s1
    ).select("k", "v", "c").collect())
    assert got == [(1, 10, 7), (2, 20, 8)]
    # manifests carry their own spec ids
    specs = {f.spec_id for f in t.files()}
    assert specs == {0, 1}


def test_update_spec_transform_field_and_filters(spark, tmp_path):
    """identity(p) evolves to identity(p) + bucket[2](k): p stays
    exact-filterable across both eras (every file records it), the
    bucket field null-fills for pre-evolution files and filtering on
    it refuses while any such file is live — the file-level value
    does not exist and rows cannot be re-derived."""
    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "evo_tr")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("p", "bigint")],
        partition_by=[("p", "long")], now_ms=1000,
    )
    p1 = _pq_file(d, "f1.parquet", {"k": [1, 2]})
    t.append([DataFile("data/f1.parquet", {"p": 0}, 2,
                       os.path.getsize(p1))], now_ms=2000)
    t.update_spec(
        [("p", "long"), ("k", "int", "bucket[2]")], now_ms=3000
    )
    # the reused field (p) keeps its field id; the new one allocates
    specs = {s["spec-id"]: s for s in
             t.metadata()["partition-specs"]}
    assert specs[0]["fields"][0]["field-id"] == 1000
    assert specs[1]["fields"][0]["field-id"] == 1000
    assert specs[1]["fields"][1]["field-id"] == 1001
    assert specs[1]["fields"][1]["name"] == "k_bucket"
    p2 = _pq_file(d, "f2.parquet", {"k": [5]})
    t.append([DataFile(
        "data/f2.parquet",
        {"p": 0, "k_bucket": transform_value("bucket[2]", 5)},
        1, os.path.getsize(p2),
    )], now_ms=4000)
    # p filters exactly across both eras (recorded everywhere)
    assert t.read(spark, partition_filter={"p": 0}).count() == 3
    assert t.read(spark, partition_filter={"p": 1}).count() == 0
    # k_bucket: pre-evolution file is live -> refuse
    with pytest.raises(NotImplementedError, match="k_bucket"):
        t.read(spark, partition_filter={"k_bucket": 1})
    # the bucket column null-fills for the pre-evolution file
    rows = {r.k: r.k_bucket for r in t.read(spark).collect()}
    assert rows[5] == transform_value("bucket[2]", 5)
    assert rows[1] is None and rows[2] is None
    # CoW-delete the old era -> the transform filter works (filter
    # values arrive in the SOURCE domain; the engine transforms them
    # the way the writer did)
    t.delete({"data/f1.parquet"}, now_ms=5000)
    got = [r.k for r in t.read(
        spark, partition_filter={"k_bucket": 5}).collect()]
    assert got == [5]


def test_update_spec_refusals_and_append_validation(tmp_path):
    d = str(tmp_path / "evo_ref")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint")], now_ms=1000
    )
    with pytest.raises(ValueError, match="no such column"):
        t.update_spec([("zzz", "long")])
    with pytest.raises(NotImplementedError, match="result type"):
        t.update_spec([("k", "float")])
    with pytest.raises(NotImplementedError, match="transform"):
        t.update_spec([("k", "long", "mod[3]")])
    with pytest.raises(ValueError, match="identical"):
        t.update_spec([])
    t.update_spec([("v", "long")], now_ms=2000)
    with pytest.raises(ValueError, match="identical"):
        t.update_spec([("v", "long")])
    # append under the new spec refuses keys the spec does not define
    p1 = _pq_file(d, "f1.parquet", {"k": [1]})
    with pytest.raises(ValueError, match="not in the default"):
        t.append([DataFile("data/f1.parquet", {"nope": 1}, 1,
                           os.path.getsize(p1))])
    # renamed history refuses evolution
    d2 = str(tmp_path / "evo_ren")
    os.makedirs(os.path.join(d2, "data"))
    t2 = IcebergTable.create(
        d2, [("k", "bigint"), ("v", "bigint")], now_ms=1000
    )
    t2.rename_column("v", "w", now_ms=2000)
    with pytest.raises(NotImplementedError, match="renamed"):
        t2.update_spec([("k", "long")])
    # ADVICE r11 quartet:
    # (1) identity on a source type with no declarable result type
    d3 = str(tmp_path / "evo_bool")
    os.makedirs(os.path.join(d3, "data"))
    t3 = IcebergTable.create(
        d3, [("k", "bigint"), ("flag", "boolean"),
             ("ts", "timestamp")], now_ms=1000)
    with pytest.raises(NotImplementedError, match="identity partition"):
        t3.update_spec([("flag", "long")])
    with pytest.raises(NotImplementedError, match="identity partition"):
        t3.update_spec([("ts", "string")])
    # (2) a transform field named like an UNRELATED schema column
    with pytest.raises(ValueError, match="collides with a schema"):
        t.update_spec([("v", "int", "bucket[4]", "k")])
    with pytest.raises(ValueError, match="collides with a schema"):
        IcebergTable.create(
            str(tmp_path / "evo_clash_create"),
            [("k", "bigint"), ("v", "bigint")],
            partition_by=[("v", "int", "bucket[4]", "k")],
            now_ms=1000)
    # ... while identity-on-own-column sharing its name stays legal
    t.update_spec([("k", "long")], now_ms=3000)
    # (3) v1 metadata without a partition-specs list refuses cleanly
    d4 = str(tmp_path / "evo_v1meta")
    os.makedirs(os.path.join(d4, "data"))
    t4 = IcebergTable.create(
        d4, [("k", "bigint")], now_ms=1000)
    import json as _json
    mp = os.path.join(d4, "metadata",
                      f"v{t4.current_version()}.metadata.json")
    m = _json.loads(open(mp).read())
    del m["partition-specs"]
    m["partition-spec"] = []  # the legacy v1 field
    open(mp, "w").write(_json.dumps(m))
    with pytest.raises(NotImplementedError, match="partition-specs"):
        IcebergTable(d4).update_spec([("k", "long")])
    # (4) None partition_filter values refuse uniformly at entry
    with pytest.raises(ValueError, match="is None"):
        t.files(partition_filter={"v": None})


def test_spec_evolution_mor_and_compact_compose(spark, tmp_path):
    """Position deletes subtract from pre-evolution files through the
    mixed-era read; compaction bins never mix specs (the rewritten
    file re-enters under its sources' spec, values intact); equality
    deletes matching on a mixed identity column refuse."""
    d = str(tmp_path / "evo_mor")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("v", "bigint"), ("c", "bigint")],
        now_ms=1000,
    )
    for i, ks in enumerate(([1, 2], [3, 4])):
        p = _pq_file(d, f"f{i}.parquet",
                     {"k": ks, "v": [x * 10 for x in ks],
                      "c": [100 + i] * 2})
        t.append([DataFile(f"data/f{i}.parquet", {}, 2,
                           os.path.getsize(p))],
                 now_ms=2000 + i * 1000)
    t.update_spec([("c", "long")], now_ms=4000)
    p2 = _pq_file(d, "f9.parquet", {"k": [9], "v": [90]})
    t.append([DataFile("data/f9.parquet", {"c": 101}, 1,
                       os.path.getsize(p2))], now_ms=5000)
    # position-delete k=1 (file f0 row 0), pre-evolution era
    t.add_position_deletes([("data/f0.parquet", 0)], now_ms=6000)
    got = sorted(tuple(r) for r in
                 t.read(spark).select("k", "c").collect())
    assert got == [(2, 100), (3, 101), (4, 101), (9, 101)]
    # filtered mixed read through the MoR branch
    got = sorted(tuple(r) for r in t.read(
        spark, partition_filter={"c": 101}
    ).select("k", "c").collect())
    assert got == [(3, 101), (4, 101), (9, 101)]
    # equality delete on the mixed identity column refuses (field id
    # 3 = c): the anti-join cannot compare one expression for both eras
    t.add_equality_deletes([{"c": 100}], [3], now_ms=7000)
    with pytest.raises(NotImplementedError, match="identity partition"):
        t.read(spark).collect()
    # roll the equality delete back off the table (rollback composes)
    t.rollback_to(t.metadata()["snapshots"][-2]["snapshot-id"],
                  now_ms=8000)
    # compact: the two pre-evolution files bin together under spec 0,
    # the post-evolution file stays (min_group=2)
    res = t.compact(spark, target_bytes=1 << 20, min_group=2,
                    now_ms=9000)
    assert res is not None and res["files_in"] == 2
    new = [f for f in t.files() if f.path.endswith(
        f"compact-{res['snapshot_id'] - 1000}-0.parquet")]
    assert len(new) == 1 and new[0].spec_id == 0
    got = sorted(tuple(r) for r in
                 t.read(spark).select("k", "c").collect())
    assert got == [(2, 100), (3, 101), (4, 101), (9, 101)]


def test_incremental_scan_refuses_cross_evolution_identity(
    spark, tmp_path
):
    d = str(tmp_path / "evo_inc")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("c", "bigint")], now_ms=1000
    )
    p1 = _pq_file(d, "f1.parquet", {"k": [1], "c": [5]})
    s1 = t.append([DataFile("data/f1.parquet", {}, 1,
                            os.path.getsize(p1))], now_ms=2000)
    p2 = _pq_file(d, "f2.parquet", {"k": [2], "c": [6]})
    s2 = t.append([DataFile("data/f2.parquet", {}, 1,
                            os.path.getsize(p2))], now_ms=3000)
    t.update_spec([("c", "long")], now_ms=4000)
    p3 = _pq_file(d, "f3.parquet", {"k": [3]})
    t.append([DataFile("data/f3.parquet", {"c": 7}, 1,
                       os.path.getsize(p3))], now_ms=5000)
    # within one era: fine
    assert [tuple(r) for r in t.incremental_scan(
        spark, s1, s2).select("k", "c").collect()] == [(2, 6)]
    # crossing the evolution with an identity field: refuse
    with pytest.raises(NotImplementedError, match="spec evolution"):
        t.incremental_scan(spark, s1).collect()


def test_cli_ddl_evolve_spec(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta_evo")
    d = str(tmp_path / "cli_evo")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("c", "bigint")], now_ms=1000
    )
    p = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "c": pa.array([5], pa.int64())}), p)
    t.append([DataFile("data/f1.parquet", {}, 1, os.path.getsize(p))],
             now_ms=2000)
    assert main(["register", meta, "ti", d, "--format", "iceberg"]) == 0
    assert main(["ddl", meta, "ti", "--evolve-spec",
                 "--partition-field", "c", "long", "identity"]) == 0
    assert "evolved partition spec (spec id 1)" in \
        capsys.readouterr().out
    assert t.metadata()["default-spec-id"] == 1
    # --partition-field without --evolve-spec exits 2, applying nothing
    assert main(["ddl", meta, "ti",
                 "--partition-field", "k", "long", "identity"]) == 2
    assert t.metadata()["default-spec-id"] == 1
    # delta tables refuse the flag up front
    from hadoop_sync_spark.delta_log import DeltaLog
    dd = str(tmp_path / "cli_evo_delta")
    os.makedirs(dd)
    log = DeltaLog(dd)
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   {"metaData": {"id": "t", "format":
                    {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": [
                            {"name": "k", "type": "long",
                             "nullable": True, "metadata": {}}]}),
                    "partitionColumns": [], "configuration": {}}}])
    assert main(["register", meta, "td", dd, "--format", "delta"]) == 0
    assert main(["ddl", meta, "td", "--evolve-spec"]) == 2


def test_evolved_read_shape_stable_under_pruning(spark, tmp_path):
    """Union-by-position discipline on evolved tables (the ADVICE r10
    ordering rule, extended to spec evolution): a filter that prunes
    away the whole POST-evolution era must not move the partition
    column inline — every outcome of the same read call (unfiltered,
    one-era, all-pruned-empty) carries data columns first and the
    evolved column appended."""
    d = str(tmp_path / "evo_shape")
    os.makedirs(os.path.join(d, "data"))
    # c deliberately NOT last in the schema: inline-vs-appended
    # divergence is visible only when another data column follows it
    t = IcebergTable.create(
        d, [("k", "bigint"), ("c", "bigint"), ("v", "bigint")],
        now_ms=1000,
    )
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds
    fields = t._schema_by_id(0)["fields"]
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "c": pa.array([8], pa.int64()),
                             "v": pa.array([10], pa.int64())}), p1)
    lb, ub = parquet_column_bounds(p1, fields)
    t.append([DataFile("data/f1.parquet", {}, 1, os.path.getsize(p1),
                       lower_bounds=lb, upper_bounds=ub)], now_ms=2000)
    t.update_spec([("c", "long")], now_ms=3000)
    p2 = os.path.join(d, "data", "f2.parquet")
    pq.write_table(pa.table({"k": pa.array([2], pa.int64()),
                             "v": pa.array([20], pa.int64())}), p2)
    lb, ub = parquet_column_bounds(p2, fields)
    t.append([DataFile("data/f2.parquet", {"c": 7}, 1,
                       os.path.getsize(p2),
                       lower_bounds=lb, upper_bounds=ub)], now_ms=4000)

    base = t.read(spark)
    assert base.columns == ["k", "v", "c"]
    # prunes the whole NEW era at file level -> survivors all pre-spec
    old_only = t.read(spark, partition_filter={"c": 8})
    assert old_only.columns == base.columns
    assert [tuple(r) for r in old_only.collect()] == [(1, 10, 8)]
    # prunes the whole OLD era via bounds (k=2 only in f2)
    new_only = t.read(spark, column_filter={"k": (2, 2)})
    assert new_only.columns == base.columns
    # prunes EVERYTHING -> the empty frame keeps the same shape
    empty = t.read(spark, column_filter={"k": (99, 99)})
    assert empty.columns == base.columns and empty.count() == 0
    # union-by-position across all outcomes is value-correct
    u = base.union(old_only).union(new_only).union(empty)
    assert sorted(tuple(r) for r in u.collect()) == [
        (1, 10, 8), (1, 10, 8), (2, 20, 7), (2, 20, 7)]


def test_rollback_by_timestamp(table):
    t, (s1, s2, s3) = table
    # fixture timestamps: s1@2000 s2@3000 s3@4000
    t.rollback_to(as_of_timestamp_ms=2500, now_ms=5000)
    assert t.metadata()["current-snapshot-id"] == s1
    with pytest.raises(ValueError, match="snapshot_id OR"):
        t.rollback_to(s2, as_of_timestamp_ms=2500)
    with pytest.raises(ValueError, match="snapshot_id OR"):
        t.rollback_to()
    with pytest.raises(ValueError, match="no snapshot"):
        t.rollback_to(as_of_timestamp_ms=100)


def test_void_transform_reads_and_filter_refusal(spark, tmp_path):
    """A spec carrying a v1-style void tombstone field reads fine
    (every file records null for it) and filtering on it refuses —
    the filter would silently match everything."""
    from hadoop_sync_spark.iceberg_meta import transform_value

    assert transform_value("void", 42) is None
    assert transform_value("void", None) is None
    d = str(tmp_path / "voidt")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("p", "bigint")],
        partition_by=[("p", "long")], now_ms=1000,
    )
    # evolve p to a void tombstone (v1-style drop keeps the slot)
    t.update_spec([("p", "long", "void", "p_void")], now_ms=2000)
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "p": pa.array([7], pa.int64())}), p1)
    t.append([DataFile("data/f1.parquet", {}, 1,
                       os.path.getsize(p1))], now_ms=3000)
    rows = {(r.k) for r in t.read(spark).select("k").collect()}
    assert rows == {1}
    with pytest.raises(ValueError, match="void"):
        t.read(spark, partition_filter={"p_void": 7})


# ----------------------------- review-pass pins (spec-evolution round)


def test_update_spec_temporal_transform_probe(spark, tmp_path):
    """The up-front transform validation probes temporal transforms
    with date/datetime values (ints refuse by design in
    transform_value — the review caught the int probe rejecting every
    valid temporal evolution)."""
    import datetime as dt
    from hadoop_sync_spark.iceberg_meta import transform_value

    d = str(tmp_path / "evo_day")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("d", "date"), ("s", "string")],
        now_ms=1000
    )
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1], pa.int64()),
        "d": pa.array([dt.date(2017, 11, 16)], pa.date32()),
    }), p1)
    t.append([DataFile("data/f1.parquet", {}, 1,
                       os.path.getsize(p1))], now_ms=2000)
    sid = t.update_spec([("d", "date", "day")], now_ms=3000)
    assert sid == 1  # day on a date column now validates
    t.update_spec([("d", "int", "month")], now_ms=4000)
    t.update_spec([("d", "int", "year")], now_ms=5000)
    # source-type and result-type discipline (second review pass):
    # temporal transforms on non-temporal columns refuse UP FRONT,
    # never on the first post-evolution append, and temporal result
    # types are the spec's own
    with pytest.raises(NotImplementedError, match="on str"):
        t.update_spec([("s", "int", "year")])
    with pytest.raises(NotImplementedError, match="hour transform"):
        t.update_spec([("d", "int", "hour")])
    with pytest.raises(ValueError, match="result type 'int'"):
        t.update_spec([("d", "string", "year")])
    with pytest.raises(ValueError, match="result type 'date'"):
        t.update_spec([("d", "int", "day", "d_day2")])
    # and the written value matches the spec's example column
    p2 = os.path.join(d, "data", "f2.parquet")
    pq.write_table(pa.table({
        "k": pa.array([2], pa.int64()),
        "d": pa.array([dt.date(2017, 11, 16)], pa.date32()),
    }), p2)
    t.append([DataFile(
        "data/f2.parquet",
        {"d_year": transform_value("year", dt.date(2017, 11, 16))},
        1, os.path.getsize(p2),
    )], now_ms=6000)
    assert t.read(spark).count() == 2


def test_update_spec_cross_spec_name_collision_refuses(tmp_path):
    """One name, one meaning across the spec history: reusing an
    earlier spec's field name with a different transform (the v1-style
    identity-then-void tombstone) or type refuses — first-spec-wins
    name maps would silently mis-filter the other era's files."""
    d = str(tmp_path / "evo_clash")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("p", "bigint")],
        partition_by=[("p", "long")], now_ms=1000,
    )
    # a non-identity field wearing a schema column's name trips the
    # round-12 collision guard FIRST (ADVICE r11) — both the v1-style
    # void tombstone and the unrelated-column disguise
    with pytest.raises(ValueError, match="collides with a schema"):
        t.update_spec([("p", "long", "void", "p")])
    with pytest.raises(ValueError, match="collides with a schema"):
        t.update_spec([("k", "int", "bucket[4]", "p")])
    # cross-spec discipline on NON-schema names still enforces one
    # name, one meaning
    t.update_spec([("k", "int", "bucket[4]")], now_ms=2000)  # k_bucket
    with pytest.raises(ValueError, match="one name, one meaning"):
        t.update_spec([("k", "long", "truncate[2]", "k_bucket")])
    # identity result type must match the column's own type
    with pytest.raises(ValueError, match="needs result type"):
        t.update_spec([("k", "int")])


def test_external_void_tombstone_history_row_filters(spark, tmp_path):
    """An EXTERNAL v1-style history (identity p in spec 0, void
    tombstone under the SAME name in spec 1 — our writer refuses this
    shape, conforming v1 upgrades produce it) must row-filter the
    void-era files on the data column instead of matching them
    blindly (review finding: first-spec-wins let p=7 return p=99
    rows)."""
    import json as _json

    d = str(tmp_path / "evo_v1")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("p", "bigint")],
        partition_by=[("p", "long")], now_ms=1000,
    )
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), p1)
    t.append([DataFile("data/f1.parquet", {"p": 7}, 1,
                       os.path.getsize(p1))], now_ms=2000)
    # hand-write the v1-style tombstone spec (external metadata shape)
    meta = _json.loads(_json.dumps(t.metadata()))
    meta["partition-specs"].append({
        "spec-id": 1,
        "fields": [{"name": "p", "transform": "void",
                    "source-id": 2, "field-id": 1000,
                    "result-type": "long"}],
    })
    meta["default-spec-id"] = 1
    t._write_metadata(t.current_version() + 1, meta)
    # void-era file: p lives in DATA (not partitioned by it any more)
    p2 = os.path.join(d, "data", "f2.parquet")
    pq.write_table(pa.table({"k": pa.array([2, 3], pa.int64()),
                             "p": pa.array([99, 7], pa.int64())}), p2)
    t.append([DataFile("data/f2.parquet", {}, 2,
                       os.path.getsize(p2))], now_ms=3000)
    got = sorted(tuple(r) for r in t.read(
        spark, partition_filter={"p": 7}
    ).select("k", "p").collect())
    # k=1 (identity era, file-level), k=3 (void era, row-filtered);
    # k=2 (p=99) must NOT leak through
    assert got == [(1, 7), (3, 7)]


def test_mixed_date_identity_coalesce(spark, tmp_path):
    """Identity DATE partition evolution: manifests record epoch-day
    ints, the data column is DateType — the mixed-era read must
    convert before coalescing (review: no common type crashed every
    read)."""
    import datetime as dt

    d = str(tmp_path / "evo_date")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("d", "date")], now_ms=1000
    )
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1], pa.int64()),
        "d": pa.array([dt.date(2020, 1, 2)], pa.date32()),
    }), p1)
    t.append([DataFile("data/f1.parquet", {}, 1,
                       os.path.getsize(p1))], now_ms=2000)
    t.update_spec([("d", "date")], now_ms=3000)
    p2 = os.path.join(d, "data", "f2.parquet")
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), p2)
    epoch_days = (dt.date(2021, 3, 4) - dt.date(1970, 1, 1)).days
    t.append([DataFile("data/f2.parquet", {"d": epoch_days}, 1,
                       os.path.getsize(p2))], now_ms=4000)
    got = {r.k: r.d for r in t.read(spark).collect()}
    assert got == {1: dt.date(2020, 1, 2), 2: dt.date(2021, 3, 4)}
    # the type must not flip with the pruning outcome (second review
    # pass: a filtered read that dropped the mixed era returned raw
    # epoch-day ints) — every outcome is DateType and union-compatible
    base = t.read(spark)
    one_era = t.read(spark, partition_filter={"d": dt.date(2021, 3, 4)})
    assert dict(one_era.dtypes)["d"] == dict(base.dtypes)["d"] == "date"
    assert [r.k for r in one_era.collect()] == [2]
    u = base.unionByName(one_era)
    assert u.count() == 3


def test_evolved_empty_snapshot_falls_back_to_all_specs(
    spark, tmp_path
):
    d = str(tmp_path / "evo_empty")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("c", "bigint")], now_ms=1000
    )
    from hadoop_sync_spark.iceberg_meta import parquet_column_bounds
    fields = t._schema_by_id(0)["fields"]
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "c": pa.array([5], pa.int64())}), p1)
    lb, ub = parquet_column_bounds(p1, fields)
    t.append([DataFile("data/f1.parquet", {}, 1, os.path.getsize(p1),
                       lower_bounds=lb, upper_bounds=ub)], now_ms=2000)
    t.update_spec([("c", "long")], now_ms=3000)
    # live set emptied entirely: the filtered empty frame falls back
    # to every spec's fields (c appended)
    t.delete({"data/f1.parquet"}, now_ms=4000)
    empty = t.read(spark, column_filter={"k": (1, 1)})
    assert empty.columns == ["k", "c"] and empty.count() == 0


def test_cli_ddl_mixed_partition_field_applies_nothing(
    spark, tmp_path, capsys
):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta_mix")
    d = str(tmp_path / "cli_mix")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(d, [("k", "bigint")], now_ms=1000)
    assert main(["register", meta, "ti", d, "--format", "iceberg"]) == 0
    v_before = t.current_version()
    # --partition-field without --evolve-spec must refuse BEFORE the
    # --add-column lands (review: the late check applied it first)
    assert main(["ddl", meta, "ti", "--add-column", "c1", "bigint",
                 "--partition-field", "k", "long", "identity"]) == 2
    assert t.current_version() == v_before
    assert not any(
        f["name"] == "c1"
        for f in t._schema_by_id(
            t.metadata().get("current-schema-id", 0))["fields"]
    )


def test_rollback_by_timestamp_to_current_is_noop(table):
    t, (s1, s2, s3) = table
    v_before = t.current_version()
    # the instant resolves to the CURRENT snapshot: idempotent no-op,
    # no metadata version, no misleading snapshot-log entry
    t.rollback_to(as_of_timestamp_ms=9999, now_ms=5000)
    assert t.current_version() == v_before
    assert t.metadata()["current-snapshot-id"] == s3
    # an EXPLICIT id keeps the refusal (the user named a target)
    with pytest.raises(ValueError, match="already current"):
        t.rollback_to(s3)


@pytest.mark.parametrize("executor_tier", [True, False],
                         ids=["executor", "driver"])
def test_merge_upsert_executor_and_driver_tiers(spark, tmp_path,
                                                monkeypatch,
                                                executor_tier):
    """merge_upsert at cap 0 (the executor tier writes the equality
    delete straight from the distributed key frame) and at the default
    cap (driver-collected keys) read back the same driver-side model:
    5 keys updated, 5 inserted, 45 untouched."""
    if executor_tier:
        monkeypatch.setattr(IcebergTable, "DELETE_ROWS_LIMIT", 0)
    t, write_pq = _mor_table(tmp_path)
    ids = list(range(50))
    t.append([write_pq("f1.parquet", ids[:25]),
              write_pq("f2.parquet", ids[25:])], now_ms=2000)
    model = {i: f"v{i}" for i in ids}
    upserts = [(i, f"u{i}") for i in (3, 17, 25, 31, 49)]
    upserts += [(i, f"n{i}") for i in range(100, 105)]
    src = spark.createDataFrame(upserts, "id long, val string")
    res = t.merge_upsert(spark, src, "id", now_ms=3000)
    assert res["rows"] == 10 and res["keys"] == 10
    model.update(upserts)
    got = sorted((r.id, r.val) for r in t.read(spark).collect())
    assert got == sorted(model.items())


# -------------------------------------------------------------- CI guard
_PACKAGE = Path(__file__).resolve().parent.parent / "hadoop_sync_spark"
#: parquet reads of a delete file's bytes, as (module, function, call):
#: the delete-apply's one Spark delete scan, the position-delete frame
#: builder's driver tier, the named-files reader, the equality footer
#: prune and the stream's executor-side mask
DELETE_FILE_READERS = {
    ("iceberg_meta.py", "IcebergTable._delete_scan", "parquet"),
    ("iceberg_meta.py", "IcebergTable._pos_delete_frame", "read_table"),
    ("iceberg_meta.py", "IcebergTable._named_data_files", "read_table"),
    ("iceberg_meta.py", "IcebergTable._eq_footer_prune", "read_schema"),
    ("iceberg_meta.py", "IcebergTable._eq_footer_prune", "read_metadata"),
    ("cdc_source.py", "_IceIncStreamReader._visibility_mask", "read_table"),
}
#: parquet reads of DATA files: the one scan, footer stats of written
#: files, the empty-result read's footer schema and the stream executors
DATA_FILE_READERS = {
    ("iceberg_meta.py", "parquet_column_bounds", "read_metadata"),
    ("iceberg_meta.py", "_written_data_file", "read_metadata"),
    ("iceberg_meta.py", "IcebergTable.read", "read_schema"),
    ("iceberg_meta.py", "IcebergTable._scan", "parquet"),
    ("cdc_source.py", "_CDCStreamReader.read", "read_table"),
    ("cdc_source.py", "_IceIncStreamReader.read", "read_table"),
    ("cdc_source.py", "_IceIncStreamReader._read_change", "read_table"),
}
#: the one rename resolver (COALESCE over a field's name variants)
COALESCE_ALLOWED = {("iceberg_meta.py", "IcebergTable._logical_col")}
_PARQUET_READS = {"parquet", "read_table", "read_metadata", "read_schema"}


def _calls(node, scope="", in_func=False):
    """Every attribute call under ``node`` with its enclosing
    ``Class.function`` (closures count as the function defining them)."""
    for child in ast.iter_child_nodes(node):
        inner, inner_in = scope, in_func
        if not in_func and isinstance(
                child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = f"{scope}.{child.name}" if scope else child.name
            inner_in = not isinstance(child, ast.ClassDef)
        if isinstance(child, ast.Call) and isinstance(child.func,
                                                      ast.Attribute):
            yield child, scope
        yield from _calls(child, inner, inner_in)


def test_iceberg_scan_and_delete_apply_have_one_home():
    """In the Iceberg reader and the streaming source, parquet reads
    (``spark.read…parquet``, ``pq.read_table`` / ``read_metadata`` /
    ``read_schema``) happen only in the listed delete-file and
    data-file readers, so a second delete-apply or scan cannot appear
    unnoticed; ``F.coalesce`` over a list of name variants appears only
    in the one rename resolver."""
    bad = []
    for name in ("iceberg_meta.py", "cdc_source.py"):
        tree = ast.parse((_PACKAGE / name).read_text())
        for call, scope in _calls(tree):
            where = (name, scope)
            site = f"{name}:{call.lineno} in {scope or 'module'}"
            attr = call.func.attr
            if (attr in _PARQUET_READS and (*where, attr)
                    not in DELETE_FILE_READERS | DATA_FILE_READERS):
                bad.append(f"{site}: {attr}()")
            if (attr == "coalesce"
                    and any(isinstance(a, ast.Starred) for a in call.args)
                    and where not in COALESCE_ALLOWED):
                bad.append(f"{site}: coalesce over name variants")
    assert not bad, bad
