"""Property tests for the registry — the reference's stated guarantees
(SURVEY §5.2): idempotency, incrementality, atomicity under injected
failure, A16 invariants, stats correctness, pruning soundness."""

from __future__ import annotations

import os
import shutil

import pytest

from hadoop_sync_spark.io import table_path
from hadoop_sync_spark.registry import Registry, shard_table_name
from tests.conftest import SF_DIR


@pytest.fixture()
def scratch(tmp_path):
    """A mutable data dir seeded with one lineitem file + a meta dir."""
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(table_path(SF_DIR, "lineitem"), data / "part-000.parquet")
    return {"data": str(data), "meta": str(tmp_path / "meta")}


def _add_file(scratch, name="part-001.parquet", src="orders"):
    shutil.copy(table_path(SF_DIR, src), os.path.join(scratch["data"], name))


def test_idempotency(spark, scratch):
    """`sync(t); sync(t)` → second run is a no-op (README.md:10-13)."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    r1 = reg.sync("li")
    assert not r1.noop and r1.added == 1
    r2 = reg.sync("li")
    assert r2.noop and r2.version == r1.version
    assert len(reg.shards("li")) == 1


def test_incrementality(spark, scratch):
    """Adding/removing one file → diff contains exactly that file."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    reg.sync("li")

    _add_file(scratch, "part-001.parquet", src="lineitem")
    d = reg.diff("li")
    assert [os.path.basename(f["path"]) for f in d.new_files] == [
        "part-001.parquet"
    ]
    assert d.old_files == []
    r = reg.sync("li")
    assert (r.added, r.removed) == (1, 0)

    os.remove(os.path.join(scratch["data"], "part-000.parquet"))
    d2 = reg.diff("li")
    assert [os.path.basename(f["path"]) for f in d2.old_files] == [
        "part-000.parquet"
    ]
    assert d2.new_files == []
    r2 = reg.sync("li")
    assert (r2.added, r2.removed) == (0, 1)
    assert len(reg.shards("li")) == 1


def test_changed_file_is_old_and_new(spark, scratch):
    """Shard identity is (path, size, mtime): a rewritten file shows up as
    one old + one new shard (ShardPlacement.java:47-60 semantics)."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    reg.sync("li")
    # rewrite with different content (orders parquet) at the same path
    shutil.copy(
        table_path(SF_DIR, "orders"),
        os.path.join(scratch["data"], "part-000.parquet"),
    )
    d = reg.diff("li")
    assert len(d.new_files) == 1 and len(d.old_files) == 1
    assert d.new_files[0]["path"] == d.old_files[0]["path"]


def test_atomicity_under_injected_failure(spark, scratch, monkeypatch):
    """Crash mid-publish → catalog still reads as the previous version
    (README.md:15-19 crash-consistency)."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    reg.sync("li", fetch_min_max=True)
    v_before = reg._current_version()
    shards_before = reg.shards("li")

    _add_file(scratch, "part-001.parquet", src="lineitem")
    real_replace = os.replace

    def boom(src, dst):
        raise OSError("injected crash before pointer swap")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        reg.sync("li")
    monkeypatch.setattr(os, "replace", real_replace)

    assert reg._current_version() == v_before
    assert reg.shards("li") == shards_before
    # recovery: the next sync succeeds and applies the pending diff
    r = reg.sync("li")
    assert not r.noop and r.added == 1


def test_stats_correctness(spark, scratch):
    """Registry min/max equals a direct agg per file (A17)."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    reg.sync("li", fetch_min_max=True)
    (shard,) = reg.shards("li")
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(shard["path"])
        .agg(
            F.min("l_shipdate").cast("string").alias("mn"),
            F.max("l_shipdate").cast("string").alias("mx"),
        )
        .collect()[0]
    )
    assert (shard["min_value"], shard["max_value"]) == (row["mn"], row["mx"])


def test_pruning_soundness_and_effectiveness(spark, tmp_path):
    """Query over pruned file set == query over all files; and a
    disjoint-range predicate actually skips files (P2)."""
    # build a 3-file table partitioned by disjoint date ranges
    data = tmp_path / "data"
    meta = str(tmp_path / "meta")
    src = spark.read.parquet(table_path(SF_DIR, "lineitem"))
    from pyspark.sql import functions as F

    for i, (lo, hi) in enumerate(
        [("1995-01-01", "1997-01-01"), ("1997-01-01", "1999-01-01"),
         ("1999-01-01", "2002-01-01")]
    ):
        part = src.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
        ).coalesce(1)
        part.write.mode("overwrite").parquet(str(data / f"chunk{i}"))

    reg = Registry(spark, meta)
    reg.register("li", str(data), partition_column="l_shipdate")
    reg.sync("li", fetch_min_max=True)
    n_files = len(reg.shards("li"))
    assert n_files >= 3  # one+ parquet part per chunk

    lo, hi = "1995-06-01 00:00:00", "1996-06-01 00:00:00"
    pruned = reg.prune_files("li", lo, hi)
    assert 0 < len(pruned) < n_files  # skipped something

    full = (
        reg.read("li")
        .filter(F.col("l_shipdate").between(lo, hi))
        .agg(F.count("*"), F.sum("l_quantity"))
        .collect()
    )
    pr = (
        reg.read_pruned("li", lo, hi)
        .filter(F.col("l_shipdate").between(lo, hi))
        .agg(F.count("*"), F.sum("l_quantity"))
        .collect()
    )
    assert full == pr and full[0][0] > 0


def test_shard_table_name_unsigned():
    """Signed→unsigned decimal naming quirk (CitusWorkerNode.java:185-193)."""
    assert shard_table_name("t", -1) == f"t_{2**64 - 1}"
    assert shard_table_name("t", 5) == "t_5"


def test_read_sees_only_catalog(spark, scratch):
    """Queries consult the published catalog, not the live directory —
    a file added without sync is invisible (master-catalog-is-truth)."""
    reg = Registry(spark, scratch["meta"])
    reg.register("li", scratch["data"], partition_column="l_shipdate")
    reg.sync("li")
    before = reg.read("li").count()
    _add_file(scratch, "part-001.parquet", src="lineitem")
    assert reg.read("li").count() == before  # unchanged until sync
    reg.sync("li")
    assert reg.read("li").count() == 2 * before


def test_time_travel_reads_previous_snapshot(spark, tmp_path):
    """Every published version stays queryable: after a second sync picks
    up a new file, reading at the first sync's version still sees only the
    original files (snapshot isolation from the A23 staged-version
    publish)."""
    from hadoop_sync_spark.registry import Registry

    data = tmp_path / "tbl"
    data.mkdir()
    spark.range(0, 100).write.parquet(str(data / "part1.parquet"))

    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("tbl", str(data))
    r1 = reg.sync("tbl")
    v1 = r1.version
    assert reg.read("tbl").count() == 100

    spark.range(100, 150).write.parquet(str(data / "part2.parquet"))
    r2 = reg.sync("tbl")
    assert r2.version > v1
    assert reg.read("tbl").count() == 150
    # time travel: the pre-append snapshot is still intact
    assert reg.read("tbl", version=v1).count() == 100
    assert v1 in reg.versions() and r2.version in reg.versions()


def test_table_ddl_events(spark, tmp_path):
    """A11/A25 analogue: ordered DDL events recreate the logical table and
    every per-shard binding, using the unsigned shard-name quirk."""
    from hadoop_sync_spark.registry import Registry, shard_table_name

    data = tmp_path / "t"
    spark.range(0, 10, 1, 1).write.parquet(str(data))  # flat dir of part files
    reg = Registry(spark, str(tmp_path / "m"))
    reg.register("t", str(data))
    reg.sync("t")
    events = reg.table_ddl_events("t")
    assert events[0].startswith("CREATE TABLE IF NOT EXISTS t (")
    names = {shard_table_name("t", s["shard_id"]) for s in reg.shards("t")}
    assert all(any(n in e for e in events[1:]) for n in names)
    assert len(events) == 1 + len(reg.shards("t"))
    # the DDL is actually executable Spark SQL
    for e in events:
        spark.sql(e)
    assert spark.table("t").count() == 10
    spark.sql("DROP TABLE IF EXISTS t")
    for s in reg.shards("t"):
        spark.sql(f"DROP TABLE IF EXISTS {shard_table_name('t', s['shard_id'])}")


def test_cli_register_sync_diff(spark, tmp_path, capsys):
    """A29 analogue: the CLI drives register → diff → sync → no-op sync."""
    from hadoop_sync_spark.__main__ import main

    data = tmp_path / "t"
    data.mkdir()
    # one part file whatever the session's parallelism: "1 new" / "+1"
    spark.range(0, 10).coalesce(1).write.parquet(str(data / "a.parquet"))
    meta = str(tmp_path / "m")

    assert main(["register", meta, "t", str(data)]) == 0
    assert main(["diff", meta, "t"]) == 0
    assert "1 new" in capsys.readouterr().out
    assert main(["sync", meta, "t"]) == 0
    assert "+1" in capsys.readouterr().out
    assert main(["sync", meta, "t"]) == 0
    assert "no-op" in capsys.readouterr().out
    assert main(["sync", meta, "missing"]) == 2


def test_vacuum_retains_live_and_recent_versions(spark, tmp_path):
    """vacuum(keep_last=N) drops only snapshots older than the newest N;
    the live catalog stays readable, retained versions stay time-
    travelable, vacuumed versions are gone from disk."""
    from hadoop_sync_spark.registry import Registry

    data = tmp_path / "tbl"
    data.mkdir()
    reg = Registry(spark, str(tmp_path / "meta"))
    versions = []
    for i in range(4):
        spark.range(i * 10, (i + 1) * 10).write.parquet(
            str(data / f"part{i}.parquet")
        )
        if i == 0:
            reg.register("tbl", str(data))
        versions.append(reg.sync("tbl").version)

    removed = reg.vacuum(keep_last=2)
    kept = reg.versions()
    assert versions[-1] in kept and versions[-2] in kept
    assert all(v not in kept for v in removed)
    assert set(removed) & set(kept) == set()
    # live catalog unbroken; retained snapshot still time-travelable
    assert reg.read("tbl").count() == 40
    assert reg.read("tbl", version=versions[-2]).count() == 30
    # vacuumed snapshot is genuinely gone
    import pytest as _pytest

    with _pytest.raises(Exception):
        reg.read("tbl", version=versions[0])
    # keep_last clamps: vacuum(0) never drops the live version
    reg.vacuum(keep_last=0)
    assert reg.read("tbl").count() == 40


def test_temporary_dirs_and_hidden_dirs_are_not_shards(spark, tmp_path):
    """A crashed writer's _temporary/... part files must never register:
    Spark's file index skips any path with a hidden/underscore segment."""
    from hadoop_sync_spark.registry import Registry

    data = tmp_path / "tbl"
    (data / "_temporary" / "0").mkdir(parents=True)
    (data / ".staging").mkdir()
    spark.range(10).write.parquet(str(data / "good.parquet"))
    spark.range(5).coalesce(1).write.parquet(
        str(data / "_temporary" / "0" / "part.parquet")
    )
    spark.range(7).coalesce(1).write.parquet(
        str(data / ".staging" / "part.parquet")
    )
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("tbl", str(data))
    reg.sync("tbl")
    assert reg.read("tbl").count() == 10
    rel = [s["path"][len(str(data)) :] for s in reg.shards("tbl")]
    assert rel and all(
        "_temporary" not in p and ".staging" not in p for p in rel
    )


def test_empty_parquet_file_syncs_with_null_stats(spark, tmp_path):
    """A zero-row part file is a legitimate shard: it gets (None, None)
    stats (kept by pruning) instead of aborting the sync forever."""
    from hadoop_sync_spark.registry import Registry

    data = tmp_path / "tbl"
    data.mkdir()
    spark.range(0, 100).write.parquet(str(data / "full.parquet"))
    spark.range(0).write.parquet(str(data / "empty.parquet"))
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("tbl", str(data), partition_column="id")
    r = reg.sync("tbl", fetch_min_max=True)
    assert not r.noop
    stats = {
        s["path"].rsplit("/", 2)[-2]: (s["min_value"], s["max_value"])
        for s in reg.shards("tbl")
    }
    full = [v for k, v in stats.items() if "full" in k]
    empty = [v for k, v in stats.items() if "empty" in k]
    assert all(v == (None, None) for v in empty)
    assert all(v[0] is not None for v in full)
    # pruning keeps the stat-less empty file (soundness): surviving files
    # contain every row in range (they may contain more — read_pruned is a
    # file-level filter, the row predicate still applies on top)
    from pyspark.sql import functions as F

    pruned = reg.read_pruned("tbl", 0, 10)
    assert pruned.filter(F.col("id").between(0, 10)).count() == 11
    assert len(reg.prune_files("tbl", 0, 10)) < len(reg.shards("tbl"))


def test_publish_lock_blocks_concurrent_writer(spark, tmp_path):
    """A second publisher must fail fast while a publish is in flight
    (and never rmtree the live version)."""
    import os

    import pytest as _pytest

    from hadoop_sync_spark.registry import Registry

    data = tmp_path / "tbl"
    data.mkdir()
    spark.range(10).write.parquet(str(data / "p.parquet"))
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("tbl", str(data))
    reg.sync("tbl")
    # simulate an in-flight publisher holding the lock
    lock = os.path.join(str(tmp_path / "meta"), ".publish.lock")
    with open(lock, "w") as f:
        f.write("99999")
    spark.range(5).write.parquet(str(data / "p2.parquet"))
    with _pytest.raises(RuntimeError, match="another publish"):
        reg.sync("tbl")
    os.unlink(lock)
    assert not reg.sync("tbl").noop  # lock released → sync proceeds
    assert reg.read("tbl").count() == 15


def test_placements_tracked_per_replica(spark, scratch):
    """A multi-replica host resolver yields one placement row per replica
    per shard (`ShardPlacement.java:4-98` — one row per DatanodeInfo),
    while the shard set stays one row per file."""
    reg = Registry(
        spark, scratch["meta"], placement_hosts=lambda f: ["host1", "host2"]
    )
    reg.register("li", scratch["data"])
    reg.sync("li")
    assert len(reg.shards("li")) == 1
    places = reg.placements("li")
    assert sorted(p["hostname"] for p in places) == ["host1", "host2"]
    assert {p["shard_id"] for p in places} == {
        s["shard_id"] for s in reg.shards("li")
    }


def test_replica_move_is_pure_placement_diff(spark, scratch):
    """A replica moving hosts (same file, same size/mtime) must produce an
    EMPTY shard diff and a placement diff of exactly {old host out, new
    host in} — the reference diffs the two sets independently
    (`HdfsSynchronizer.java:172-199`), and sync must publish the placement
    change even though no shard changed."""
    hosts = {"current": ["host1", "host2"]}
    reg = Registry(
        spark, scratch["meta"], placement_hosts=lambda f: hosts["current"]
    )
    reg.register("li", scratch["data"])
    v1 = reg.sync("li").version

    hosts["current"] = ["host1", "host3"]  # replica moved host2 → host3
    d = reg.diff("li")
    assert d.new_files == [] and d.old_files == []
    assert [p["hostname"] for p in d.new_placements] == ["host3"]
    assert [p["hostname"] for p in d.old_placements] == ["host2"]
    assert not d.empty

    r = reg.sync("li")
    assert not r.noop and r.version == v1 + 1
    assert sorted(p["hostname"] for p in reg.placements("li")) == [
        "host1",
        "host3",
    ]
    # shard rows untouched, placement history time-travels with versions
    assert reg.shards("li") == reg.shards("li", version=v1)
    assert sorted(
        p["hostname"] for p in reg.placements("li", version=v1)
    ) == ["host1", "host2"]
    # and the sync is idempotent like every other
    assert reg.sync("li").noop


def test_replica_add_and_remove_are_placement_only(spark, scratch):
    """Re-replication (2→3 replicas) and decommission (3→1) are pure
    placement changes: shard rows and table version content stay
    untouched apart from the placement set — the reference's
    insert/deleteShardPlacementRow paths (`HdfsSynchronizer.java:209-239`)
    never touch shard rows for a placement-only delta."""
    hosts = {"current": ["host1", "host2"]}
    reg = Registry(
        spark, scratch["meta"], placement_hosts=lambda f: hosts["current"]
    )
    reg.register("li", scratch["data"])
    v1 = reg.sync("li").version
    shards_v1 = reg.shards("li")

    hosts["current"] = ["host1", "host2", "host3"]  # re-replicated
    d = reg.diff("li")
    assert d.new_files == [] and d.old_files == []
    assert [p["hostname"] for p in d.new_placements] == ["host3"]
    assert d.old_placements == []
    assert not reg.sync("li").noop
    assert sorted(p["hostname"] for p in reg.placements("li")) == [
        "host1", "host2", "host3",
    ]

    hosts["current"] = ["host2"]  # two replicas decommissioned
    d = reg.diff("li")
    assert d.new_files == [] and d.old_files == []
    assert sorted(p["hostname"] for p in d.old_placements) == [
        "host1", "host3",
    ]
    assert d.new_placements == []
    assert not reg.sync("li").noop
    assert [p["hostname"] for p in reg.placements("li")] == ["host2"]
    # shard identity never changed across any of the placement deltas
    assert reg.shards("li") == shards_v1
    assert reg.shards("li", version=v1) == shards_v1


# ----------------------------------------------------------- compaction
@pytest.fixture()
def shredded(spark, tmp_path):
    """A data dir holding lineitem shredded into 6 small part files."""
    data = str(tmp_path / "data")
    (
        spark.read.parquet(table_path(SF_DIR, "lineitem"))
        .repartition(6)
        .write.parquet(data)
    )
    return {"data": data, "meta": str(tmp_path / "meta")}


def _visible_files(data_dir):
    return sorted(
        f
        for f in os.listdir(data_dir)
        if not f.startswith((".", "_")) and os.path.isfile(
            os.path.join(data_dir, f)
        )
    )


def test_compact_merges_small_files_and_preserves_data(spark, shredded):
    reg = Registry(spark, shredded["meta"])
    reg.register("li", shredded["data"], partition_column="l_shipdate")
    reg.sync("li", fetch_min_max=True)
    before = sorted(
        map(tuple, reg.read("li").select("l_orderkey", "l_linenumber").collect())
    )
    assert len(_visible_files(shredded["data"])) == 6

    c = reg.compact("li", target_bytes=1 << 30)
    assert not c.noop
    assert (c.files_in, c.files_out, c.groups) == (6, 1, 1)
    assert len(_visible_files(shredded["data"])) == 1
    assert len(reg.shards("li")) == 1

    after = sorted(
        map(tuple, reg.read("li").select("l_orderkey", "l_linenumber").collect())
    )
    assert before == after
    # compacted catalog matches the FS exactly: next sync is a no-op
    assert reg.sync("li").noop
    # stats were re-fetched for the compacted shard, and pruning stays sound
    (shard,) = reg.shards("li")
    assert shard["min_value"] is not None and shard["max_value"] is not None


def test_compact_noop_below_min_group(spark, shredded):
    reg = Registry(spark, shredded["meta"])
    reg.register("li", shredded["data"])
    reg.sync("li")
    v = reg._current_version()
    # every file is "small" but each lands in its own bin under a tiny cap
    c = reg.compact("li", target_bytes=1)
    assert c.noop and reg._current_version() == v
    assert len(_visible_files(shredded["data"])) == 6


def test_compact_crash_before_apply_rolls_forward_on_sync(
    spark, shredded, monkeypatch
):
    """Crash at the commit point (journal written, nothing applied):
    the next sync() must roll the compaction forward, not re-register
    half-applied state."""
    reg = Registry(spark, shredded["meta"])
    reg.register("li", shredded["data"])
    reg.sync("li")
    before = sorted(map(tuple, reg.read("li").select("l_orderkey").collect()))

    real_apply = Registry._apply_compaction
    calls = {"n": 0}

    def boom(self, journal, have_lock):
        calls["n"] += 1
        raise OSError("injected crash after journal write")

    monkeypatch.setattr(Registry, "_apply_compaction", boom)
    with pytest.raises(OSError, match="injected"):
        reg.compact("li", target_bytes=1 << 30)
    monkeypatch.setattr(Registry, "_apply_compaction", real_apply)
    assert os.path.exists(os.path.join(shredded["meta"], Registry._JOURNAL))

    # recovery path: a plain sync rolls the journal forward first
    r = reg.sync("li")
    assert not os.path.exists(os.path.join(shredded["meta"], Registry._JOURNAL))
    assert len(_visible_files(shredded["data"])) == 1
    assert len(reg.shards("li")) == 1
    after = sorted(map(tuple, reg.read("li").select("l_orderkey").collect()))
    assert before == after
    assert reg.sync("li").noop


def test_compact_crash_mid_apply_recovers_idempotently(
    spark, shredded, monkeypatch
):
    """Crash after renames+deletes but before the catalog publish: the
    journal replay must finish the publish without double-applying."""
    reg = Registry(spark, shredded["meta"])
    reg.register("li", shredded["data"])
    reg.sync("li")
    before = sorted(map(tuple, reg.read("li").select("l_orderkey").collect()))

    real_publish = Registry._publish

    def boom(self, *args, have_lock=False):
        if have_lock:  # only the compaction-held publish
            raise OSError("injected crash before catalog swap")
        return real_publish(self, *args)

    monkeypatch.setattr(Registry, "_publish", boom)
    with pytest.raises(OSError, match="injected"):
        reg.compact("li", target_bytes=1 << 30)
    monkeypatch.setattr(Registry, "_publish", real_publish)

    # originals are gone and the catalog still points at them — exactly
    # the window the journal covers; replay must finish, not resync
    assert reg._recover_compaction()
    assert len(reg.shards("li")) == 1
    after = sorted(map(tuple, reg.read("li").select("l_orderkey").collect()))
    assert before == after
    assert reg.sync("li").noop
    # replay again is a no-op (journal gone)
    assert not reg._recover_compaction()


def test_cli_compact(spark, shredded, capsys):
    from hadoop_sync_spark.__main__ import main

    assert main(["register", shredded["meta"], "li", shredded["data"]]) == 0
    assert main(["sync", shredded["meta"], "li"]) == 0
    assert main(["compact", shredded["meta"], "li"]) == 0
    out = capsys.readouterr().out
    assert "6 files -> 1" in out
    assert main(["compact", shredded["meta"], "li"]) == 0
    assert "no-op" in capsys.readouterr().out


def test_compact_breaks_time_travel_to_rewritten_files_only(spark, shredded):
    """Documented retention contract: compaction deletes originals, so
    time-travel to a pre-compaction version (which references them) fails,
    while the current version and post-compaction snapshots stay readable."""
    reg = Registry(spark, shredded["meta"])
    reg.register("li", shredded["data"])
    reg.sync("li")
    v_pre = reg._current_version()
    reg.compact("li", target_bytes=1 << 30)
    assert reg.read("li").count() > 0  # current snapshot fine
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        reg.read("li", version=v_pre).count()


def test_schema_evolution_read_and_ddl(spark, tmp_path):
    """A table whose newer shards added a column: merge_schema read
    surfaces the union schema (old rows NULL), and DDL replay emits the
    evolved schema for the logical table and every shard."""
    import pyarrow as pa
    import pyarrow.parquet as paq

    data = tmp_path / "data"
    data.mkdir()
    paq.write_table(
        pa.table({"id": [1, 2], "txt": ["a", "b"]}),
        str(data / "part-000.parquet"),
    )
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("t", str(data))
    reg.sync("t")

    # evolution: a later file carries an extra column
    paq.write_table(
        pa.table({"id": [3], "txt": ["c"], "score": [0.5]}),
        str(data / "part-001.parquet"),
    )
    r = reg.sync("t")
    assert r.added == 1

    evolved = reg.read("t", merge_schema=True)
    assert set(evolved.columns) == {"id", "txt", "score"}
    rows = {r["id"]: r["score"] for r in evolved.collect()}
    assert rows[1] is None and rows[3] == 0.5

    events = reg.table_ddl_events("t")
    assert all("score" in e for e in events)  # one DDL, every shard
    # the replayed DDL is executable Spark SQL
    spark.sql(f"DROP TABLE IF EXISTS t")
    spark.sql(events[0])
    try:
        assert "score" in spark.table("t").columns
    finally:
        spark.sql("DROP TABLE IF EXISTS t")


def test_compact_delegates_to_format_native_rewrite(spark, tmp_path):
    """Round 9 (closing the round-8 guard): Registry.compact on an
    open-format table delegates to the format-native committer — the
    rewrite is a new format snapshot (old snapshots stay readable,
    unlike the plain-directory journaled rewrite) — then syncs the new
    file list into the catalog.  A table with nothing to bin is a noop
    that commits NOTHING."""
    import os

    import pandas as pd

    from hadoop_sync_spark.delta_log import DeltaLog
    from hadoop_sync_spark.registry import Registry

    d = str(tmp_path / "dt")
    os.makedirs(d)
    pd.DataFrame({"k": [1]}).to_parquet(os.path.join(d, "a.parquet"))
    log = DeltaLog(d)
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": spark.read.parquet(
                        os.path.join(d, "a.parquet")
                    ).schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            log.add_action_for("a.parquet"),
        ],
    )
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_delta("t", d)
    reg.sync("t")
    # single live file: nothing to bin-pack -> noop, no format commit
    r = reg.compact("t")
    assert r.noop and log.latest_version() == 0
    # two more small files arrive through a format commit + sync
    pd.DataFrame({"k": [2]}).to_parquet(os.path.join(d, "b.parquet"))
    pd.DataFrame({"k": [3]}).to_parquet(os.path.join(d, "c.parquet"))
    log.commit(1, [log.add_action_for("b.parquet"),
                   log.add_action_for("c.parquet")])
    reg.sync("t")
    assert len(reg.shards("t")) == 3
    r = reg.compact("t")
    assert not r.noop
    assert (r.groups, r.files_in, r.files_out) == (1, 3, 1)
    assert r.bytes_in > 0
    # the catalog now tracks exactly the compacted layout
    assert len(reg.shards("t")) == 1
    assert sorted(x.k for x in reg.read("t").collect()) == [1, 2, 3]
    # the rewrite is a normal format snapshot: time travel intact
    assert sorted(x.k for x in log.read(spark, 1).collect()) == [1, 2, 3]
    # and compact is idempotent through the registry too
    assert reg.compact("t").noop


# ------------------------------------------------------- footer statistics
def _write_p(path, arr, **kw) -> str:
    """One parquet file with partition column ``p``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"p": arr}), path, **kw)
    return path


def _spark_file(spark, sql: str, out: str) -> str:
    """The single part file Spark writes for ``sql``."""
    spark.sql(sql).coalesce(1).write.parquet(out)
    (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
    return os.path.join(out, part)


def _stat_cases(spark, root):
    """{label: (files, files expected to take the scan)}, one label per
    partition-column type; every file of a label shares one schema."""
    from datetime import date, datetime

    import pyarrow as pa

    cases = {}

    def case(label, files, scanned=()):
        cases[label] = (files, set(scanned))

    def p(name):
        return os.path.join(root, name)

    for t in ("int8", "int16", "int32", "int64"):
        typ = getattr(pa, t)()
        # nulls, an all-null first row group, several row groups
        multi = _write_p(p(f"{t}-multi.parquet"), pa.array(
            [None, None, 3, -4, 5, None, 7], typ), row_group_size=2)
        allnull = _write_p(p(f"{t}-null.parquet"), pa.array([None] * 3, typ))
        empty = _write_p(p(f"{t}-empty.parquet"), pa.array([], typ))
        nostats = _write_p(p(f"{t}-nostats.parquet"), pa.array([9, 1], typ),
                           write_statistics=False)
        case(t, [multi, allnull, empty, nostats], [nostats])
    d = pa.date32()
    year1 = _write_p(p("d0001.parquet"), pa.array(
        [date(1, 1, 1), date(1500, 1, 1)], d))
    case("date", [
        _write_p(p("d.parquet"), pa.array(
            [date(2020, 1, 1), None, date(2021, 6, 30)], d), row_group_size=2),
        _write_p(p("d9999.parquet"), pa.array(
            [date(9999, 12, 31), date(2000, 1, 1)], d)),
        year1,
    ], [year1])
    us = pa.timestamp("us")
    year1 = _write_p(p("tsu0001.parquet"), pa.array(
        [datetime(1, 1, 1, 0, 0, 0, 10)], us))
    case("timestamp_ntz_us", [
        _write_p(p("tsu.parquet"), pa.array([
            datetime(2020, 1, 1, 0, 0, 0, 123400), None,
            datetime(2019, 12, 31, 23, 59, 59, 999999)], us),
            row_group_size=1),
        _write_p(p("tsu9999.parquet"), pa.array(
            [datetime(9999, 12, 31, 23, 59, 59, 5)], us)),
        year1,
    ], [year1])
    case("timestamp_ntz_ms", [_write_p(p("tsm.parquet"), pa.array([
        datetime(2020, 1, 1, 0, 0, 0, 100000),
        datetime(2020, 1, 1, 0, 0, 1)], pa.timestamp("ms")))])
    case("timestamp_utc", [_write_p(p("tsz.parquet"), pa.array([
        datetime(2020, 3, 1, 12, 30, 0, 250), None,
        datetime(2020, 2, 29, 23, 0)], pa.timestamp("us", tz="UTC")))])
    vals = "VALUES ('2020-01-01 10:00:00'), ('2020-03-01 00:00:00.5') t(x)"
    int96 = _spark_file(
        spark, f"SELECT CAST(x AS TIMESTAMP) p FROM {vals}", p("spark-int96"))
    case("spark_int96", [int96], [int96])
    case("spark_ntz", [
        _spark_file(spark, f"SELECT CAST(x AS TIMESTAMP_NTZ) p FROM {vals}",
                    p("spark-ntz")),
        _spark_file(spark, "SELECT CAST(NULL AS TIMESTAMP_NTZ) p LIMIT 0",
                    p("spark-ntz-empty")),
    ])
    for label, arr in (
        ("double", pa.array([1.5, None, -2.25])),
        ("string", pa.array(["b", "a", None])),
        ("nanos", pa.array([1, 5, None], pa.timestamp("ns"))),
    ):
        f = _write_p(p(f"{label}.parquet"), arr)
        case(label, [f], [f])
    return cases


def test_footer_min_max_equals_scan(spark, tmp_path):
    """Footer statistics equal the Spark scan's ``cast('string')`` byte for
    byte on every partition type; untrusted footers take the scan; and the
    footer type mapping equals Spark's inferred type for every file."""
    from hadoop_sync_spark.registry import _footer_spark_type, _ReadConf

    reg = Registry(spark, str(tmp_path / "meta"))
    conf = _ReadConf.of(spark)
    cases = _stat_cases(spark, str(tmp_path))
    for label, (paths, scanned) in cases.items():
        files = [{"path": f} for f in paths]
        got, n_scan = reg._fetch_min_max(files, "p")
        want = reg._scan_min_max(files, "p")
        assert got == want, label
        assert n_scan == len(scanned), label
        for f in paths:
            assert _footer_spark_type(f, "p", conf) == dict(
                spark.read.parquet(f).dtypes
            )["p"], (label, f)
    # the footer path really produced values, not just (None, None)
    got, _ = reg._fetch_min_max([{"path": cases["timestamp_ntz_us"][0][0]}], "p")
    assert list(got.values()) == [
        ("2019-12-31 23:59:59.999999", "2020-01-01 00:00:00.1234")
    ]
    # a zoned timestamp renders in the session zone: off UTC it takes the scan
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        files = [{"path": f} for f in cases["timestamp_utc"][0]]
        got, n_scan = reg._fetch_min_max(files, "p")
        assert n_scan == len(files)
        assert got == reg._scan_min_max(files, "p")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def _count_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = os.urandom(4).hex()
    sc.setJobGroup(f"guard-{tag}", "registry job guard")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"fence-{tag}", "status fence")
    # the status store is fed asynchronously but in order: once a fence
    # job run after fn() is visible, every job fn() launched is too
    sc.parallelize([0], 1).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"fence-{tag}"):
        assert time.time() < deadline, "status tracker never saw the fence"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(f"guard-{tag}"))


def test_footer_sync_and_prune_launch_no_spark_job(spark, tmp_path):
    """Sync over footer-covered files and pruning stay off Spark; a double
    partition column still takes the fallback scan job."""
    from datetime import date

    import pyarrow as pa

    data, dbl = tmp_path / "t", tmp_path / "u"
    data.mkdir()
    dbl.mkdir()
    for k in range(4):
        _write_p(str(data / f"d{k}.parquet"),
                 pa.array([date(2020, 1, 1 + k)] * 3, pa.date32()))
        _write_p(str(dbl / f"u{k}.parquet"), pa.array([k + 0.5, k + 0.75]))
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("t", str(data), partition_column="p")
    reg.register("u", str(dbl), partition_column="p")

    r, jobs = _count_jobs(spark, lambda: reg.sync("t", fetch_min_max=True))
    assert jobs == 0
    assert (r.added, r.stats_footer, r.stats_scan) == (4, 4, 0)
    kept, jobs = _count_jobs(
        spark, lambda: reg.prune_files("t", "2020-01-02", "2020-01-03"))
    assert jobs == 0
    assert sorted(os.path.basename(f) for f in kept) == [
        "d1.parquet", "d2.parquet"]

    r, jobs = _count_jobs(spark, lambda: reg.sync("u", fetch_min_max=True))
    assert jobs >= 1
    assert (r.added, r.stats_footer, r.stats_scan) == (4, 0, 4)
    kept, jobs = _count_jobs(spark, lambda: reg.prune_files("u", 2.0, 2.6))
    assert jobs == 0
    assert sorted(os.path.basename(f) for f in kept) == [
        "u2.parquet"]


def test_prune_keeps_files_with_nan_bounds(spark, tmp_path):
    """A double column's NaN bound (Spark orders NaN above every value)
    keeps its file like a missing statistic, and a NaN query bound keeps
    every file; plain files still prune, and the pruned read filters to
    the filtered full read."""
    import math

    import pyarrow as pa
    from pyspark.sql import functions as F

    data = tmp_path / "t"
    data.mkdir()
    _write_p(str(data / "nan.parquet"), pa.array([1.0, math.nan]))
    _write_p(str(data / "low.parquet"), pa.array([2.0, 3.0]))
    _write_p(str(data / "mid.parquet"), pa.array([6.0, 6.5]))
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("t", str(data), partition_column="p")
    reg.sync("t", fetch_min_max=True)
    stats = {os.path.basename(s["path"]): (s["min_value"], s["max_value"])
             for s in reg.shards("t")}
    assert stats["nan.parquet"][1] == "NaN"
    kept = reg.prune_files("t", 5.5, 7)
    assert sorted(os.path.basename(f) for f in kept) == [
        "mid.parquet", "nan.parquet"]
    assert len(reg.prune_files("t", math.nan, 7)) == 3
    cond = F.col("p").between(5.5, 7)
    assert sorted(reg.read_pruned("t", 5.5, 7).where(cond).collect()) == (
        sorted(reg.read("t").where(cond).collect()))


def test_prune_on_registered_table_without_shards(spark, tmp_path):
    """A registered table with no shards prunes to nothing, and a pruned
    read fails like ``read()`` does instead of Spark's schema inference."""
    data = tmp_path / "empty"
    data.mkdir()
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register("e", str(data), partition_column="id")
    assert reg.prune_files("e", 0, 10) == []
    with pytest.raises(ValueError, match="no synced shards"):
        reg.read_pruned("e", 0, 10)
