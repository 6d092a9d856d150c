"""Delta transaction-log reader: replay semantics, checkpoint
equivalence, partitioned reads, and the honest protocol seam (see
hadoop_sync_spark/delta_log.py; format per the public Delta
PROTOCOL.md)."""

from __future__ import annotations

import ast
import json
import os
from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

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


def _meta(partition_cols=()):
    return {
        "metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_JSON,
            "partitionColumns": list(partition_cols),
            "configuration": {},
        }
    }


def _write_file(table_dir, rel, rows):
    path = os.path.join(table_dir, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pd.DataFrame(rows).to_parquet(path)


def _mk_table(tmp_path, name="t"):
    d = str(tmp_path / name)
    os.makedirs(d)
    return d, DeltaLog(d)


def test_replay_add_remove_last_writer_wins(tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [log.add_action_for("b.parquet")])
    log.commit(2, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    # re-add after remove: last writer wins again
    log.commit(3, [log.add_action_for("a.parquet")])

    assert log.snapshot(0).files == ["a.parquet"]
    assert log.snapshot(1).files == ["a.parquet", "b.parquet"]
    assert log.snapshot(2).files == ["b.parquet"]
    assert log.snapshot(3).files == ["a.parquet", "b.parquet"]
    assert log.latest_version() == 3
    assert log.snapshot().version == 3


def test_spark_read_pins_logged_schema_and_rows(spark, tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    _write_file(d, "b.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    df = log.read(spark)
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == [(3, 30)]
    # time travel to v0 sees both files
    assert log.read(spark, 0).count() == 3


def test_checkpoint_seeded_replay_equals_pure_json(spark, tmp_path):
    d, log = _mk_table(tmp_path)
    for i in range(4):
        _write_file(d, f"f{i}.parquet", {"k": [i], "v": [i * 10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("f0.parquet")])
    log.commit(1, [log.add_action_for("f1.parquet"),
                   {"remove": {"path": "f0.parquet", "dataChange": True}}])
    log.commit(2, [log.add_action_for("f2.parquet")])
    # snapshot BEFORE the checkpoint exists = pure JSON replay
    pure = log.snapshot(2)
    log.write_checkpoint(2)
    log.commit(3, [log.add_action_for("f3.parquet")])
    seeded = log.snapshot(3)
    # checkpoint covers <=2; tail replay adds f3
    assert seeded.files == sorted([*pure.files, "f3.parquet"])
    assert seeded.schema_json == pure.schema_json
    # and a fresh snapshot at exactly the checkpoint version agrees with
    # the pure replay bit-for-bit
    assert log.snapshot(2).live.keys() == pure.live.keys()
    # Spark read through the seeded path
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 2, 3]


PART_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    }
)


def _meta_partitioned():
    m = _meta(partition_cols=("p",))
    m["metaData"]["schemaString"] = PART_SCHEMA_JSON
    return m


def test_partitioned_read_attaches_partition_column(spark, tmp_path):
    """add.partitionValues is authoritative (ADVICE r7): the files here
    are laid out FLAT — no Hive-style p=N directories — exactly the
    conforming foreign table directory inference would silently
    mis-read.  Values cast from the logged strings to the schema's
    integer type; a null partition value stays null."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    _write_file(d, "c.parquet", {"k": [3], "v": [30]})
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1}},
            _meta_partitioned(),
            log.add_action_for("a.parquet", partitionValues={"p": "0"}),
            log.add_action_for("b.parquet", partitionValues={"p": "1"}),
            log.add_action_for("c.parquet", partitionValues={"p": None}),
        ],
    )
    df = log.read(spark)
    assert "p" in df.columns
    assert dict(df.dtypes)["p"] == "int"
    got = {(r.k, r.p) for r in df.collect()}
    assert got == {(1, 0), (2, 1), (3, None)}


def test_partitioned_read_hive_layout_fallback(spark, tmp_path):
    """A log whose adds never carried partitionValues still reads via
    directory inference (the pre-ADVICE path, kept as fallback)."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "p=0/a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "p=1/b.parquet", {"k": [2], "v": [20]})
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1}},
            _meta(partition_cols=("p",)),
            log.add_action_for("p=0/a.parquet"),
            log.add_action_for("p=1/b.parquet"),
        ],
    )
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 0), (2, 1)}


def test_protocol_reader_features_gate(tmp_path):
    """deletionVectors (round 8), columnMapping / v2Checkpoint /
    minReaderVersion=2 (round 9) and typeWidening (round 10) are
    SUPPORTED; any other v3 reader feature and any newer reader
    version still refuse honestly."""
    d, log = _mk_table(tmp_path)
    log.commit(0, [{"protocol": {"minReaderVersion": 3,
                                 "readerFeatures": ["deletionVectors",
                                                    "columnMapping",
                                                    "v2Checkpoint",
                                                    "typeWidening"]}},
                   _meta()])
    log.snapshot()  # v3 + all supported features: accepted
    d2, log2 = _mk_table(tmp_path, "t2")
    log2.commit(0, [{"protocol": {"minReaderVersion": 3,
                                  "readerFeatures": ["variantType"]}},
                    _meta()])
    with pytest.raises(NotImplementedError, match="variantType"):
        log2.snapshot()
    d3, log3 = _mk_table(tmp_path, "t3")
    log3.commit(0, [{"protocol": {"minReaderVersion": 2}}, _meta()])
    log3.snapshot()  # v2 = column-mapping capability: accepted
    d4, log4 = _mk_table(tmp_path, "t4")
    log4.commit(0, [{"protocol": {"minReaderVersion": 4}}, _meta()])
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        log4.snapshot()


def test_commit_put_if_absent(tmp_path):
    d, log = _mk_table(tmp_path)
    log.commit(0, [_meta()])
    with pytest.raises(FileExistsError):
        log.commit(0, [_meta()])


def test_missing_intermediate_commit_raises(tmp_path):
    d, log = _mk_table(tmp_path)
    log.commit(0, [_meta()])
    log.commit(1, [])
    os.remove(os.path.join(d, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(FileNotFoundError):
        log.snapshot(1)


def test_history_lists_commits_newest_first(tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    h = log.history()
    assert [r["version"] for r in h] == [1, 0]
    assert h[0]["actions"] == {"remove": 1}
    assert h[1]["actions"] == {"protocol": 1, "metaData": 1, "add": 1}


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    _write_file(d, "stray.txt.parquet" + "", {"k": [9], "v": [90]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    deleted = log.vacuum()
    # a.parquet unreferenced by latest; the never-added stray too
    assert deleted == ["a.parquet", "stray.txt.parquet"]
    # latest still reads; pre-vacuum version now fails at scan time
    assert [r.k for r in log.read(spark).collect()] == [2]
    import pytest as _pytest

    with _pytest.raises(Exception):
        log.read(spark, 0).collect()
    # log untouched: history still lists both commits
    assert [r["version"] for r in log.history()] == [1, 0]


def test_registry_sync_of_delta_table_tracks_commits(spark, tmp_path):
    """register_delta routes the registry's FS-state through the log
    snapshot: commits arrive as ordinary shard adds/removes, a removed
    file is NOT resurrected by the on-disk walk (it still physically
    exists until vacuum), and re-sync is a noop."""
    from hadoop_sync_spark.registry import Registry

    d, log = _mk_table(tmp_path, "delta_t")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])

    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_delta("t", d)
    reg.sync("t")
    assert [os.path.basename(s["path"]) for s in reg.shards("t")] == [
        "a.parquet"
    ]
    # append commit -> one shard add
    log.commit(1, [log.add_action_for("b.parquet")])
    s = reg.sync("t")
    assert (s.added, s.removed) == (1, 0)
    # remove commit -> shard drops even though the FILE still exists
    log.commit(2, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    s = reg.sync("t")
    assert (s.added, s.removed) == (0, 1)
    assert os.path.exists(os.path.join(d, "a.parquet"))  # pre-vacuum
    assert [os.path.basename(s2["path"]) for s2 in reg.shards("t")] == [
        "b.parquet"
    ]
    assert reg.sync("t").noop
    # catalog-only read sees exactly the live snapshot
    assert [r.k for r in reg.read("t").collect()] == [2]


def test_cli_register_delta_and_sync(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    d, log = _mk_table(tmp_path, "cli_t")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    meta = str(tmp_path / "meta")
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["sync", meta, "t"]) == 0
    out = capsys.readouterr().out
    assert "+1 -0 shards" in out
    # a delta remove flows through the same CLI sync
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    assert main(["sync", meta, "t"]) == 0
    assert "+0 -1 shards" in capsys.readouterr().out


# ------------------------------------------------------ deletion vectors (r8)
def test_b85_and_roaring_round_trips():
    import random

    from hadoop_sync_spark.delta_log import (
        _b85_decode,
        _b85_encode,
        _dv_deserialize,
        _dv_serialize,
        _roaring32_read,
        _roaring32_write,
    )

    for data in [b"", b"\x00" * 4, bytes(range(16)), b"\xff" * 8]:
        assert _b85_decode(_b85_encode(data)) == data
    rng = random.Random(7)
    for _ in range(5):
        # spans multiple 16-bit containers AND exercises the bitset
        # container path (cardinality > 4096 in one container)
        vals = sorted(rng.sample(range(300_000), rng.randint(1, 9000)))
        dec, _ = _roaring32_read(_roaring32_write(vals))
        assert dec == vals
    pos = [0, 5, 70_000, (1 << 32) + 3, (2 << 32) + 123_456]
    assert _dv_deserialize(_dv_serialize(pos)) == sorted(pos)


def test_dv_roaring_b85_property_roundtrips():
    """Hypothesis property pass over the DV codecs: Base85 (4-byte
    aligned payloads) and the RoaringBitmapArray portable serialization
    (arbitrary 64-bit position sets spanning multiple 32-bit bitmaps and
    16-bit containers) round-trip exactly."""
    from hypothesis import given, settings, strategies as st

    from hadoop_sync_spark.delta_log import (
        _b85_decode,
        _b85_encode,
        _dv_deserialize,
        _dv_serialize,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=64).map(
        lambda b: b + b"\x00" * ((-len(b)) % 4)))
    def b85_rt(data):
        assert _b85_decode(_b85_encode(data)) == data

    @settings(max_examples=60, deadline=None)
    @given(st.sets(
        st.one_of(
            st.integers(min_value=0, max_value=200_000),       # dense low
            st.integers(min_value=0, max_value=(1 << 33) - 1),  # 2 bitmaps
        ),
        max_size=300,
    ))
    def dv_rt(positions):
        pos = sorted(positions)
        assert _dv_deserialize(_dv_serialize(pos)) == pos

    b85_rt()
    dv_rt()


def test_roaring_run_container_reads():
    """Run containers are reader-side (other writers emit them): craft
    one by hand per the portable spec (cookie 12347, run flag bits)."""
    import struct

    from hadoop_sync_spark.delta_log import _roaring32_read

    # one container, run flag set, runs [(10, len 5), (100, len 0)]
    blob = struct.pack("<i", ((1 - 1) << 16) | 12347)
    blob += bytes([0b1])  # run flag for container 0
    blob += struct.pack("<HH", 0, 7 - 1)  # key 0, cardinality 7
    # fewer than 4 containers -> no offset index
    blob += struct.pack("<H", 2)  # 2 runs
    blob += struct.pack("<HH", 10, 4)  # 10..14
    blob += struct.pack("<HH", 100, 0)  # 100
    vals, _ = _roaring32_read(blob)
    assert vals == [10, 11, 12, 13, 14, 100]


def test_deletion_vector_read_paths(spark, tmp_path):
    """End-to-end DV reads: 'u' file storage with CRC framing, inline
    'i', replay + time travel, and checkpoint survival."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4, 5], "v": [0] * 5})
    _write_file(d, "b.parquet", {"k": [10, 11], "v": [0, 0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    log.add_deletion_vector(1, "a.parquet", [0, 2], storage="u")
    assert sorted(r.k for r in log.read(spark).collect()) == [2, 4, 5, 10, 11]
    # time travel to before the DV sees every row
    assert sorted(r.k for r in log.read(spark, 0).collect()) == [
        1, 2, 3, 4, 5, 10, 11]
    # inline DV on the second file composes
    log.add_deletion_vector(2, "b.parquet", [1], storage="i")
    assert sorted(r.k for r in log.read(spark).collect()) == [2, 4, 5, 10]
    # a checkpoint carries the descriptors; the seeded read agrees
    log.write_checkpoint(2)
    log.commit(3, [{"remove": {"path": "nope.parquet",
                               "dataChange": False}}])
    assert sorted(r.k for r in log.read(spark).collect()) == [2, 4, 5, 10]


def test_deletion_vector_checksum_mismatch_raises(spark, tmp_path):
    import glob as _g

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [0] * 3})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_deletion_vector(1, "a.parquet", [1], storage="u")
    (dv_file,) = _g.glob(os.path.join(d, "deletion_vector_*.bin"))
    blob = bytearray(open(dv_file, "rb").read())
    blob[7] ^= 0xFF  # flip a payload byte under the CRC
    open(dv_file, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        log.read(spark).collect()


def test_deletion_vector_with_partition_columns(spark, tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [0, 0]})
    _write_file(d, "b.parquet", {"k": [3, 4], "v": [0, 0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    log.add_deletion_vector(1, "b.parquet", [0], storage="i")
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 0), (2, 0), (4, 1)}


def test_deletion_vector_cardinality_zero_is_noop(spark, tmp_path):
    """A cardinality-0 descriptor (legal from other engines) must read as
    a no-op, not die on createDataFrame([]) schema inference (ADVICE r8)."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [0] * 3})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_deletion_vector(1, "a.parquet", [], storage="i")
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 2, 3]


def test_deletion_vector_offset_field_is_optional(spark, tmp_path):
    """PROTOCOL.md marks ``offset`` optional for 'u'/'p' storage; a
    conforming descriptor without it reads from the position right after
    the format-version byte (ADVICE r8)."""
    import json as _json

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4], "v": [0] * 4})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_deletion_vector(1, "a.parquet", [0, 3], storage="u")
    # strip the optional offset from the committed descriptor
    commit = os.path.join(d, "_delta_log", "00000000000000000001.json")
    lines = []
    for line in open(commit):
        a = _json.loads(line)
        if "add" in a and a["add"].get("deletionVector"):
            assert a["add"]["deletionVector"].pop("offset") == 1
        lines.append(_json.dumps(a))
    open(commit, "w").write("\n".join(lines) + "\n")
    from hadoop_sync_spark.delta_log import DeltaLog
    fresh = DeltaLog(d)
    assert sorted(r.k for r in fresh.read(spark).collect()) == [2, 3]


def test_q149_oracle_parity_unregistered(spark):
    """Round-9 registration prep #3: the deletion-vector reader query
    passes the exact driver-style parity gate when called directly,
    outside the registry."""
    import duckdb

    from hadoop_sync_spark.io import TABLES, table_path
    from hadoop_sync_spark.queries.lakehouse_q import (
        Q149_ORACLE,
        q149_delta_dv_reader,
    )
    from tests.conftest import SF_DIR, compare_frames

    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    sdf = q149_delta_dv_reader(spark, SF_DIR)
    assert compare_frames(sdf, con.sql(Q149_ORACLE), "q149") == 1
    con.close()


def test_registry_read_applies_deletion_vectors_with_catalog_lag(
    spark, tmp_path
):
    """Round-8 correctness fix: a catalog-scoped read of a DV table
    must subtract the rows deleted AT THE SYNCED SNAPSHOT — previously
    the file-level shard list silently resurrected them.  And the
    catalog-lag property extends to row level: a DV commit after the
    last sync moves no shards but stays INVISIBLE until the next sync
    publishes (which it now does — a row-level-only commit is not a
    noop)."""
    from hadoop_sync_spark.registry import Registry

    d, log = _mk_table(tmp_path, "dv_t")
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4], "v": [0] * 4})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_delta("t", d)
    reg.sync("t")
    assert sorted(r.k for r in reg.read("t").collect()) == [1, 2, 3, 4]

    # DV commit: rows die in the table, but the catalog hasn't synced —
    # catalog-scoped read still shows the synced snapshot (lag property)
    log.add_deletion_vector(1, "a.parquet", [0, 2], storage="i")
    assert sorted(r.k for r in reg.read("t").collect()) == [1, 2, 3, 4]

    # the row-level-only commit is NOT a sync noop (zero shard churn,
    # but the synced snapshot must advance or reads resurrect rows)
    s = reg.sync("t")
    assert (s.added, s.removed, s.noop) == (0, 0, False)
    assert sorted(r.k for r in reg.read("t").collect()) == [2, 4]
    # now idempotent again
    assert reg.sync("t").noop
    # registry time travel: the pre-DV catalog version still reads full
    assert sorted(
        r.k for r in reg.read("t", version=s.version - 1).collect()
    ) == [1, 2, 3, 4]


def test_registry_read_schema_stable_across_delete_state(spark, tmp_path):
    """A partitioned format table's Registry.read schema must not depend
    on whether the synced snapshot carries row-level deletes: partition
    columns are present from the FIRST sync, before any DV commit lands
    (ADVICE r8 — the old deletes-only dispatch surfaced them only once a
    DV appeared, breaking downstream queries on a schema that tracked
    delete state instead of table state)."""
    from hadoop_sync_spark.registry import Registry

    d, log = _mk_table(tmp_path, "stable_t")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [0, 0]})
    _write_file(d, "b.parquet", {"k": [3, 4], "v": [0, 0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    reg = Registry(spark, str(tmp_path / "meta"))
    reg.register_delta("t", d)
    reg.sync("t")
    before = reg.read("t")
    assert "p" in before.columns
    assert {(r.k, r.p) for r in before.collect()} == {
        (1, 0), (2, 0), (3, 1), (4, 1)}
    # DV commit + sync: SAME schema, fewer rows
    log.add_deletion_vector(1, "b.parquet", [0], storage="i")
    reg.sync("t")
    after = reg.read("t")
    assert after.columns == before.columns
    assert {(r.k, r.p) for r in after.collect()} == {
        (1, 0), (2, 0), (4, 1)}


# ------------------------------------------------------ v2 checkpoints (r9)
def test_v2_checkpoint_sidecar_seeding_equals_pure_json(spark, tmp_path):
    """V2 checkpoints (UUID-named main file + _sidecars parquet holding
    the file actions) seed a snapshot identical to the pure JSON replay;
    the tail replays on top, expire_log keys off it, and time travel
    below it fails loudly — the classic checkpoint contract, new
    layout.  The table's protocol lacks v2Checkpoint, so the writer
    first COMMITS the upgraded protocol at head (ADVICE r10) and the
    checkpoint lands at that new version."""
    d, log = _mk_table(tmp_path)
    for i in range(5):
        _write_file(d, f"f{i}.parquet", {"k": [i], "v": [i * 10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("f0.parquet"),
                   log.add_action_for("f1.parquet")])
    log.commit(1, [log.add_action_for("f2.parquet"),
                   {"remove": {"path": "f0.parquet", "dataChange": True}}])
    log.commit(2, [log.add_action_for("f3.parquet")])
    pure = log.snapshot(2)
    cp = log.write_checkpoint_v2(2, sidecars=2)
    assert ".checkpoint." in cp and cp.endswith(".json")
    # the protocol upgrade was committed at 3; the checkpoint names it
    assert os.path.basename(cp).startswith(f"{3:020d}.")
    assert log.latest_version() == 3
    assert "v2Checkpoint" in log.snapshot(3).protocol["readerFeatures"]
    assert len(os.listdir(os.path.join(d, "_delta_log", "_sidecars"))) == 2
    log.commit(4, [log.add_action_for("f4.parquet")])
    from hadoop_sync_spark.delta_log import DeltaLog
    fresh = DeltaLog(d)
    seeded = fresh.snapshot(4)
    assert seeded.files == sorted([*pure.files, "f4.parquet"])
    assert seeded.schema_json == pure.schema_json
    assert sorted(r.k for r in fresh.read(spark).collect()) == [1, 2, 3, 4]
    # expire_log keys off the v2 checkpoint; the seeded read survives
    expired = fresh.expire_log()
    assert expired == [0, 1, 2]
    assert sorted(r.k for r in fresh.read(spark).collect()) == [1, 2, 3, 4]
    with pytest.raises(FileNotFoundError):
        fresh.snapshot(1)


def test_v2_checkpoint_inline_and_dv(spark, tmp_path):
    """sidecars=0 inlines file actions in the main v2 file (spec-legal);
    deletion vectors survive the v2 round trip."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [0] * 3})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_deletion_vector(1, "a.parquet", [1], storage="i")
    # the DV protocol (3/7 + deletionVectors) lacks v2Checkpoint: the
    # writer commits the upgrade at 2 and checkpoints there
    log.write_checkpoint_v2(1, sidecars=0)
    log.commit(3, [{"remove": {"path": "nope.parquet",
                               "dataChange": False}}])
    from hadoop_sync_spark.delta_log import DeltaLog
    fresh = DeltaLog(d)
    assert sorted(r.k for r in fresh.read(spark).collect()) == [1, 3]


def test_v2_checkpoint_upgrades_protocol(spark, tmp_path):
    """PROTOCOL.md permits V2 checkpoints only under the v2Checkpoint
    reader feature: a table replaying an older protocol gets the
    UPGRADED protocol (3/7 + v2Checkpoint + every legacy-implied
    feature) written into the checkpoint, never the old one verbatim
    (ADVICE r9) — and since round 11 the upgrade is COMMITTED to the log
    first (ADVICE r10), so checkpoint-seeded and replayed snapshots agree
    on the protocol.  A protocol already carrying the feature is
    untouched; a historical version whose protocol lacks it refuses."""
    import glob as _g

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.write_checkpoint_v2(0)
    (cp,) = _g.glob(os.path.join(d, "_delta_log", "*.checkpoint.*.json"))
    # upgrade committed at 1, checkpoint written there: replay agrees
    assert os.path.basename(cp).startswith(f"{1:020d}.")
    assert log.latest_version() == 1
    (proto,) = [json.loads(line)["protocol"] for line in open(cp)
                if "protocol" in json.loads(line)]
    assert log.snapshot(1).protocol == proto
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "columnMapping" in proto["readerFeatures"]  # implied by mrv=2
    # legacy writer features implied by minWriterVersion=5
    for feat in ("appendOnly", "invariants", "checkConstraints",
                 "changeDataFeed", "generatedColumns", "columnMapping",
                 "v2Checkpoint"):
        assert feat in proto["writerFeatures"]
    # the upgraded checkpoint still seeds our own reader
    from hadoop_sync_spark.delta_log import DeltaLog
    assert sorted(r.k for r in DeltaLog(d).read(spark).collect()) == [1]
    # already-conforming protocols pass through verbatim
    from hadoop_sync_spark.delta_log import (
        _upgrade_protocol_for_v2_checkpoint,
    )
    p = {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors", "v2Checkpoint"],
         "writerFeatures": ["deletionVectors", "v2Checkpoint"]}
    assert _upgrade_protocol_for_v2_checkpoint(p) is p
    # a protocol ALREADY at table-features versions gains ONLY the new
    # feature: the legacy-implication rule must not fire at 3/7 (it
    # would stamp e.g. identityColumns onto a table that never used it)
    p2 = {"minReaderVersion": 3, "minWriterVersion": 7,
          "readerFeatures": ["columnMapping", "deletionVectors"],
          "writerFeatures": ["columnMapping", "deletionVectors"]}
    up = _upgrade_protocol_for_v2_checkpoint(p2)
    assert up["readerFeatures"] == ["columnMapping", "deletionVectors",
                                    "v2Checkpoint"]
    assert up["writerFeatures"] == ["columnMapping", "deletionVectors",
                                    "v2Checkpoint"]
    # a HISTORICAL version whose committed protocol lacks the feature
    # cannot be checkpointed (the upgrade cannot be retrofitted below
    # head); the refusal leaves the log untouched
    with pytest.raises(ValueError, match="historical version 0"):
        log.write_checkpoint_v2(0)
    assert log.latest_version() == 1


def test_v2_checkpoint_version_mismatch_refuses(spark, tmp_path):
    import glob as _g

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    # upgrade committed at 1, checkpoint written at 1
    log.write_checkpoint_v2(0, sidecars=0)
    (cp,) = _g.glob(os.path.join(d, "_delta_log",
                                 "*.checkpoint.*.json"))
    lines = []
    for line in open(cp):
        a = json.loads(line)
        if "checkpointMetadata" in a:
            a["checkpointMetadata"]["version"] = 99
        lines.append(json.dumps(a))
    open(cp, "w").write("\n".join(lines) + "\n")
    from hadoop_sync_spark.delta_log import DeltaLog
    with pytest.raises(ValueError, match="corrupt checkpoint"):
        DeltaLog(d).snapshot(1)


# ------------------------------------------------------ column mapping (r9)
def _mapped_field(name, typ, fid, pn):
    return {"name": name, "type": typ, "nullable": True,
            "metadata": {"delta.columnMapping.id": fid,
                         "delta.columnMapping.physicalName": pn}}


def _mapped_meta(mode, part=False):
    import json as _json

    fields = [_mapped_field("k", "long", 1, "col-aaa"),
              _mapped_field("v", "string", 2, "col-bbb")]
    if part:
        fields.append(_mapped_field("p", "integer", 3, "col-ccc"))
    return {"metaData": {
        "id": "t", "format": {"provider": "parquet", "options": {}},
        "schemaString": _json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": ["p"] if part else [],
        "configuration": {"delta.columnMapping.mode": mode,
                          "delta.columnMapping.maxColumnId": "3"},
    }}


def _write_phys(d, name, ks, vs, col_k="col-aaa", col_v="col-bbb",
                ids=None):
    f_k = pa.field(col_k, pa.int64(),
                   metadata={b"PARQUET:field_id": str(ids[0]).encode()}
                   if ids else None)
    f_v = pa.field(col_v, pa.string(),
                   metadata={b"PARQUET:field_id": str(ids[1]).encode()}
                   if ids else None)
    pq.write_table(
        pa.table({col_k: pa.array(ks, pa.int64()),
                  col_v: pa.array(vs, pa.string())},
                 schema=pa.schema([f_k, f_v])),
        os.path.join(d, name),
    )


def test_column_mapping_name_mode_with_dv_and_checkpoint(spark, tmp_path):
    """PROTOCOL.md column mapping, name mode: data files carry physical
    col-<uuid> names, the read returns logical names/types; deletion
    vectors compose, and the mode survives a checkpoint-seeded read
    (configuration now rides the checkpoint's metaData struct)."""
    d, log = _mk_table(tmp_path, "cm_name")
    _write_phys(d, "a.parquet", [1, 2, 3], ["x", "y", "z"])
    _write_phys(d, "b.parquet", [4], ["w"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    df = log.read(spark)
    assert sorted(df.columns) == ["k", "v"]
    assert {(r.k, r.v) for r in df.collect()} == {
        (1, "x"), (2, "y"), (3, "z"), (4, "w")}
    # deletion vector on the mapped table (v3 + both features)
    log.add_deletion_vector(1, "a.parquet", [1], storage="i")
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 3, 4]
    # checkpoint round trip keeps the mode (fresh log, seeded read)
    log.write_checkpoint(1)
    log.commit(2, [{"remove": {"path": "nope.parquet",
                               "dataChange": False}}])
    from hadoop_sync_spark.delta_log import DeltaLog
    fresh = DeltaLog(d)
    assert sorted(r.k for r in fresh.read(spark).collect()) == [1, 3, 4]


def test_column_mapping_id_mode_matches_by_field_id(spark, tmp_path):
    """id mode matches parquet columns by footer field_id, NOT by name:
    the file's column names disagree with physicalName on purpose."""
    d, log = _mk_table(tmp_path, "cm_id")
    _write_phys(d, "a.parquet", [7, 8], ["a", "b"],
                col_k="col-zzz", col_v="col-qqq", ids=(1, 2))
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("id"),
                   log.add_action_for("a.parquet")])
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(7, "a"), (8, "b")}
    # a footer without ids is non-conforming in id mode: refuse
    _write_phys(d, "b.parquet", [9], ["c"])  # no field ids
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}},
                   log.add_action_for("b.parquet")])
    with pytest.raises(ValueError, match="field id"):
        log.read(spark).collect()


@pytest.mark.slow
def test_dml_write_faces_id_mode(spark, tmp_path):
    """Round 13 lifts the id-mode write refusal: the write faces
    resolve physical names per-FOOTER like the read path — the
    INCUMBENT names win even when they disagree with the metadata
    physicalName (this fixture's files say col-zzz/col-qqq while the
    metadata says col-aaa/col-bbb) — and stamp field ids into their
    output footers, so merge/delete/update/CDF all compose with the
    id-mode reader."""
    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "dml_id")
    _write_phys(d, "a.parquet", [1, 2, 3], ["x", "y", "z"],
                col_k="col-zzz", col_v="col-qqq", ids=(1, 2))
    meta = _mapped_meta("id")
    meta["metaData"]["configuration"][
        "delta.enableChangeDataFeed"] = "true"
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   meta, log.add_action_for("a.parquet")])
    # MERGE: update one key, insert one
    src = spark.createDataFrame([(2, "Y"), (9, "nine")], ["k", "v"])
    res = log.merge_upsert(spark, src, "k", now_ms=1000)
    assert res["rows_matched"] == 1 and res["rows_inserted"] == 2
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, "x"), (2, "Y"), (3, "z"), (9, "nine")}
    # the upsert file keeps the INCUMBENT names and stamps field ids
    ups = [n for n in os.listdir(d) if n.startswith("part-upsert-")]
    assert len(ups) == 1
    sch = pq.read_schema(os.path.join(d, ups[0]))
    assert sch.names == ["col-zzz", "col-qqq"]
    assert {
        int((sch.field(i).metadata or {})[b"PARQUET:field_id"])
        for i in range(2)
    } == {1, 2}
    # DELETE and UPDATE resolve predicates per-footer too
    assert log.delete_where(spark, {"k": (1, 1)},
                            now_ms=2000)["rows_deleted"] == 1
    assert log.update_where(spark, {"k": (3, 3)}, {"v": F.lit("Z")},
                            now_ms=3000)["rows_updated"] == 1
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(2, "Y"), (3, "Z"), (9, "nine")}
    # the change feed reads back logically across the whole history
    kinds = {(r.k, r._change_type)
             for r in log.read_changes(spark, 1).collect()}
    assert {(2, "update_postimage"), (9, "insert"), (1, "delete"),
            (3, "update_preimage"), (3, "update_postimage")} <= kinds


def test_column_mapping_partition_values_use_physical_keys(spark,
                                                           tmp_path):
    d, log = _mk_table(tmp_path, "cm_part")
    _write_phys(d, "a.parquet", [1], ["x"])
    _write_phys(d, "b.parquet", [2], ["y"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name", part=True),
                   log.add_action_for(
                       "a.parquet", partitionValues={"col-ccc": "0"}),
                   log.add_action_for(
                       "b.parquet", partitionValues={"col-ccc": "1"})])
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 0), (2, 1)}


def test_column_mapping_missing_metadata_refuses(spark, tmp_path):
    import json as _json

    d, log = _mk_table(tmp_path, "cm_bad")
    _write_phys(d, "a.parquet", [1], ["x"])
    meta = _mapped_meta("name")
    fields = _json.loads(meta["metaData"]["schemaString"])["fields"]
    del fields[1]["metadata"]["delta.columnMapping.physicalName"]
    meta["metaData"]["schemaString"] = _json.dumps(
        {"type": "struct", "fields": fields})
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   meta, log.add_action_for("a.parquet")])
    with pytest.raises(ValueError, match="lacks physicalName"):
        log.read(spark)


def test_type_widening_reads_widest_schema(spark, tmp_path):
    """typeWidening (round 10): the schemaString holds the WIDEST type;
    a file written pre-widening with narrower physical pages upcasts
    natively under the pinned schema, a post-widening file reads as-is,
    and deletion vectors compose.  The feature gate accepts
    typeWidening/typeWidening-preview at reader version 3."""
    import json as _json

    d, log = _mk_table(tmp_path, "widen")
    # pre-widening file: int32 k
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                  "v": pa.array(["a", "b", "c"], pa.string())}),
        os.path.join(d, "old.parquet"))
    # post-widening file: int64 k with a 64-bit value
    big = 5_000_000_000
    pq.write_table(
        pa.table({"k": pa.array([big], pa.int64()),
                  "v": pa.array(["d"], pa.string())}),
        os.path.join(d, "new.parquet"))
    schema = _json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.typeChanges": [
             {"fromType": "integer", "toType": "long"}]}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {}}]})
    log.commit(0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "w", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": [], "configuration": {}}},
        log.add_action_for("old.parquet"),
        log.add_action_for("new.parquet")])
    got = log.read(spark)
    assert dict(got.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in got.collect()) == [1, 2, 3, big]
    # DVs compose on the widened table
    log.add_deletion_vector(1, "old.parquet", [0], storage="i")
    assert sorted(r.k for r in log.read(spark).collect()) == [2, 3, big]
    # unknown features still refuse
    d2, log2 = _mk_table(tmp_path, "unknown_feat")
    _write_file(d2, "a.parquet", {"k": [1], "v": [0]})
    log2.commit(0, [{"protocol": {"minReaderVersion": 3,
                                  "minWriterVersion": 7,
                                  "readerFeatures": ["futureMagic"]}},
                    _meta(), log2.add_action_for("a.parquet")])
    with pytest.raises(NotImplementedError, match="futureMagic"):
        log2.snapshot()


def test_timestamp_ntz_feature_and_type_name(spark, tmp_path):
    """timestampNtz (round 10): PROTOCOL.md spells the type
    ``timestampNtz`` where Spark's schema JSON wants ``timestamp_ntz``
    — the pinned logical schema maps the name (incl. nested under
    array/struct) and the reader feature is accepted at v3."""
    import datetime
    import json as _json

    d, log = _mk_table(tmp_path, "ntz")
    ts = datetime.datetime(2023, 5, 1, 12, 30, 0)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()),
                  "t": pa.array([ts, None],
                                pa.timestamp("us"))}),  # no timezone
        os.path.join(d, "a.parquet"))
    schema = _json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "t", "type": "timestampNtz", "nullable": True,
         "metadata": {}}]})
    log.commit(0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz"],
                      "writerFeatures": ["timestampNtz"]}},
        {"metaData": {"id": "n", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": [], "configuration": {}}},
        log.add_action_for("a.parquet")])
    got = log.read(spark)
    assert dict(got.dtypes)["t"] == "timestamp_ntz"
    assert {(r.k, r.t) for r in got.collect()} == {(1, ts), (2, None)}


def test_type_widening_composes_with_column_mapping(spark, tmp_path):
    """A column-mapped table whose logical type widened: the physical
    col-* column holds int32 pages, the logical schema says long — the
    mapped read's rename-and-cast projection upcasts."""
    import json as _json

    d, log = _mk_table(tmp_path, "cm_widen")
    pq.write_table(
        pa.table({"col-aaa": pa.array([1, 2], pa.int32()),
                  "col-bbb": pa.array(["x", "y"], pa.string())}),
        os.path.join(d, "a.parquet"))
    fields = [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa",
                      "delta.typeChanges": [
                          {"fromType": "integer", "toType": "long"}]}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
    ]
    log.commit(0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping",
                                         "typeWidening"],
                      "writerFeatures": ["columnMapping",
                                         "typeWidening"]}},
        {"metaData": {"id": "cw", "format": {"provider": "parquet",
                                             "options": {}},
                      "schemaString": _json.dumps(
                          {"type": "struct", "fields": fields}),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"}}},
        log.add_action_for("a.parquet")])
    got = log.read(spark)
    assert dict(got.dtypes)["k"] == "bigint"
    assert {(r.k, r.v) for r in got.collect()} == {(1, "x"), (2, "y")}


def test_dv_broadcast_ceiling_falls_back_to_shuffle(spark, tmp_path,
                                                    monkeypatch, caplog):
    """Above the broadcast ceiling the DV anti-join must (a) stop
    broadcasting, (b) decode descriptors EXECUTOR-side (the driver
    never materializes a position list), and (c) log the fallback
    loudly — while returning exactly the same rows (VERDICT r9 item 7).
    The ceiling is metadata-decided (descriptor cardinalities), so
    forcing it to 0 routes every DV set through the fallback."""
    import logging

    import hadoop_sync_spark.delta_log as dl

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4], "v": [0] * 4})
    _write_file(d, "b.parquet", {"k": [5, 6], "v": [0, 0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    log.add_deletion_vector(1, "a.parquet", [1, 3], storage="u")
    log.add_deletion_vector(2, "b.parquet", [0], storage="i")
    expect = sorted(r.k for r in log.read(spark).collect())
    assert expect == [1, 3, 6]
    # mid-tier: executor decode + broadcast (driver expansion skipped,
    # no fallback warning — the set is still under the broadcast ceiling)
    monkeypatch.setattr(dl, "_DRIVER_DECODE_ROW_LIMIT", 0)
    with caplog.at_level(logging.WARNING,
                         logger="hadoop_sync_spark.delta_log"):
        assert sorted(r.k for r in log.read(spark).collect()) == expect
    assert not caplog.records
    # top tier: over the ceiling -> shuffle join + loud log
    monkeypatch.setattr(dl, "_BROADCAST_DELETE_ROW_LIMIT", 0)
    with caplog.at_level(logging.WARNING,
                         logger="hadoop_sync_spark.delta_log"):
        got = sorted(r.k for r in log.read(spark).collect())
    assert got == expect
    assert any("broadcast" in r.message and "shuffle" in r.message
               for r in caplog.records)
    # the mapped-read path shares the gate
    d2, log2 = _mk_table(tmp_path, "cm_ceiling")
    _write_phys(d2, "a.parquet", [1, 2, 3], ["x", "y", "z"])
    log2.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("name"),
                    log2.add_action_for("a.parquet")])
    log2.add_deletion_vector(1, "a.parquet", [1], storage="i")
    assert sorted(r.k for r in log2.read(spark).collect()) == [1, 3]


# ---------------------------------------------------------- compaction (r9)
def test_compact_binpacks_and_applies_dvs(spark, tmp_path):
    """OPTIMIZE parity: small files bin-pack with deletion vectors
    APPLIED in the rewrite; the dataChange:false commit reads identically
    to the pre-compact snapshot and time travel still works."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [0] * 3})
    _write_file(d, "b.parquet", {"k": [4, 5], "v": [0, 0]})
    _write_file(d, "c.parquet", {"k": [6], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet"),
                   log.add_action_for("c.parquet")])
    log.add_deletion_vector(1, "a.parquet", [1], storage="i")  # kills k=2
    before = sorted(r.k for r in log.read(spark).collect())
    assert before == [1, 3, 4, 5, 6]
    res = log.compact(spark)
    assert res is not None
    assert res["files_in"] == 3 and res["files_out"] == 1
    assert sorted(r.k for r in log.read(spark).collect()) == before
    snap = log.snapshot()
    assert len(snap.files) == 1
    # the compacted add carries no DV (its rows already reflect it) and
    # is marked dataChange: false
    (add,) = snap.live.values()
    assert not add.get("deletionVector")
    assert add["dataChange"] is False
    # time travel to v1 (pre-compact, post-DV) unchanged
    assert sorted(r.k for r in log.read(spark, 1).collect()) == before
    # and to v0 (pre-DV)
    assert sorted(r.k for r in log.read(spark, 0).collect()) == [
        1, 2, 3, 4, 5, 6]


def test_compact_column_mapped_table(spark, tmp_path):
    """Compaction on a column-mapped table rewrites with PHYSICAL column
    names and footer field ids — a logical-named output file would break
    the mapped read path (ADVICE r9 medium).  Covers name mode end to
    end and id mode (the new footer must resolve by field_id alone)."""
    # name mode, with a DV applied in the rewrite
    d, log = _mk_table(tmp_path, "cm_compact")
    _write_phys(d, "a.parquet", [1, 2, 3], ["x", "y", "z"])
    _write_phys(d, "b.parquet", [4], ["w"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    log.add_deletion_vector(1, "a.parquet", [1], storage="i")  # kills k=2
    before = {(r.k, r.v) for r in log.read(spark).collect()}
    assert before == {(1, "x"), (3, "z"), (4, "w")}
    res = log.compact(spark)
    assert res is not None and res["files_out"] == 1
    assert {(r.k, r.v) for r in log.read(spark).collect()} == before
    (rel,) = log.snapshot().files
    footer = pq.read_schema(os.path.join(d, rel))
    assert sorted(footer.names) == ["col-aaa", "col-bbb"]
    # name mode deliberately does NOT stamp field ids: a stamped file
    # in a plain-name directory poisons Spark's inferred mixed reads
    assert b"PARQUET:field_id" not in (footer.field("col-aaa").metadata
                                       or {})
    # id mode: physical file names disagree with physicalName on purpose;
    # the compacted footer must still resolve by field_id
    d2, log2 = _mk_table(tmp_path, "cm_compact_id")
    _write_phys(d2, "a.parquet", [7, 8], ["a", "b"],
                col_k="col-zzz", col_v="col-qqq", ids=(1, 2))
    _write_phys(d2, "b.parquet", [9], ["c"],
                col_k="col-zzz", col_v="col-qqq", ids=(1, 2))
    log2.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("id"),
                    log2.add_action_for("a.parquet"),
                    log2.add_action_for("b.parquet")])
    res = log2.compact(spark)
    assert res is not None and res["files_out"] == 1
    assert {(r.k, r.v) for r in log2.read(spark).collect()} == {
        (7, "a"), (8, "b"), (9, "c")}
    # id mode DOES stamp field ids — id-mode readers match on them
    (rel2,) = log2.snapshot().files
    footer2 = pq.read_schema(os.path.join(d2, rel2))
    ids = {f2.name: int((f2.metadata or {})[b"PARQUET:field_id"])
           for f2 in (footer2.field(i) for i in range(len(footer2.names)))}
    assert sorted(ids.values()) == [1, 2]


def test_compact_partitioned_and_crash_injection(spark, tmp_path,
                                                 monkeypatch):
    import glob as _g

    from hadoop_sync_spark.delta_log import DeltaLog

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [0]})
    _write_file(d, "b.parquet", {"k": [2], "v": [0]})
    _write_file(d, "c.parquet", {"k": [10], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("c.parquet",
                                      partitionValues={"p": "1"})])
    res = log.compact(spark)
    # only partition p=0 has >= 2 small files
    assert res["files_in"] == 2 and res["files_out"] == 1
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 0), (2, 0), (10, 1)}
    # crash injection: commit refused -> snapshot intact, debris only
    v_before = log.latest_version()
    _write_file(d, "d.parquet", {"k": [3], "v": [0]})
    log.commit(v_before + 1,
               [log.add_action_for("d.parquet",
                                   partitionValues={"p": "1"})])

    def boom(self, version, actions):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(DeltaLog, "commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        log.compact(spark)
    monkeypatch.undo()
    assert {(r.k, r.p) for r in log.read(spark).collect()} == {
        (1, 0), (2, 0), (10, 1), (3, 1)}
    live = {os.path.join(d, p) for p in log.snapshot().files}
    debris = set(_g.glob(os.path.join(d, "part-compact-*.parquet"))) - live
    assert len(debris) == 1
    removed = log.vacuum()
    assert any(p.startswith("part-compact-") for p in removed)
    assert {(r.k, r.p) for r in log.read(spark).collect()} == {
        (1, 0), (2, 0), (10, 1), (3, 1)}


def test_vacuum_reclaims_orphaned_deletion_vectors(spark, tmp_path):
    """A replaced DV's .bin becomes an orphan and vacuum reclaims it;
    the live DV survives and reads keep working."""
    import glob as _g

    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2, 3, 4], "v": [0] * 4})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_deletion_vector(1, "a.parquet", [0], storage="u")
    log.add_deletion_vector(2, "a.parquet", [0, 2], storage="u")
    assert len(_g.glob(os.path.join(d, "deletion_vector_*.bin"))) == 2
    removed = log.vacuum()
    assert len(removed) == 1 and removed[0].startswith("deletion_vector_")
    assert len(_g.glob(os.path.join(d, "deletion_vector_*.bin"))) == 1
    assert sorted(r.k for r in log.read(spark).collect()) == [2, 4]


def test_expire_log_after_checkpoint(spark, tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [0]})
    _write_file(d, "b.parquet", {"k": [2], "v": [0]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [log.add_action_for("b.parquet")])
    log.write_checkpoint(1)
    log.commit(2, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    # no checkpoint -> nothing expires below it... checkpoint at 1:
    assert log.expire_log() == [0]
    # checkpoint-seeded reads still work across the expired prefix
    assert sorted(r.k for r in log.read(spark).collect()) == [2]
    assert sorted(r.k for r in log.read(spark, 1).collect()) == [1, 2]
    # time travel below the checkpoint fails loudly at replay
    with pytest.raises(FileNotFoundError):
        log.snapshot(0)
    # idempotent
    assert log.expire_log() == []


# ------------------------------------------------ schema-evolution DDL (r11)
def test_add_column_unmapped_null_fills_old_files(spark, tmp_path):
    """add_column on an unmapped table is one metaData commit; every
    read path pins the logged schema, so files written BEFORE the add
    null-fill the new column natively and files written after carry
    values — Delta's metadata-only ADD COLUMNS, no rewrite."""
    d, log = _mk_table(tmp_path, "ddl_add")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    assert log.add_column("w", "string", now_ms=1000) is None
    snap = log.snapshot()
    # verbatim metaData fields preserved; only schemaString changed
    assert snap.metadata_action["id"] == "t"
    assert [f["name"] for f in json.loads(snap.schema_json)["fields"]] \
        == ["k", "v", "w"]
    _write_file(d, "b.parquet", {"k": [3], "v": [30], "w": ["x"]})
    log.commit(2, [log.add_action_for("b.parquet")])
    got = {(r.k, r.v, r.w) for r in log.read(spark).collect()}
    assert got == {(1, 10, None), (2, 20, None), (3, 30, "x")}
    # time travel BELOW the add sees the old schema
    assert log.read(spark, 0).columns == ["k", "v"]
    # spark type spellings normalize to PROTOCOL.md primitives
    log.add_column("n", "bigint", now_ms=1001)
    fields = json.loads(log.snapshot().schema_json)["fields"]
    assert fields[-1] == {"name": "n", "type": "long",
                          "nullable": True, "metadata": {}}
    # refusals
    with pytest.raises(ValueError, match="already exists"):
        log.add_column("w", "string")
    with pytest.raises(NotImplementedError, match="primitive"):
        log.add_column("bad", "struct")
    with pytest.raises(NotImplementedError, match="column mapping"):
        log.rename_column("k", "kk")


def test_add_column_partitioned_and_dv_read_paths(spark, tmp_path):
    """The pinned-schema null-fill composes with partition attach and
    deletion vectors (the two other unmapped read branches)."""
    d, log = _mk_table(tmp_path, "ddl_add_part")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2, 3], "v": [20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    log.add_column("w", "long", now_ms=1000)
    got = {(r.k, r.p, r.w) for r in log.read(spark).collect()}
    assert got == {(1, 0, None), (2, 1, None), (3, 1, None)}
    # DV on top: anti-join still sees the pinned columns
    log.add_deletion_vector(2, "b.parquet", [0], storage="i")
    got = {(r.k, r.p, r.w) for r in log.read(spark).collect()}
    assert got == {(1, 0, None), (3, 1, None)}


def test_mapped_rename_lifecycle_with_dv_and_checkpoint(spark, tmp_path):
    """rename_column on a column-mapped table is pure metadata (the
    field keeps its id and physical name): pre- and post-rename files
    read identically, deletion vectors compose, the rename survives a
    checkpoint-seeded fresh read, and time travel below the rename
    speaks the OLD name — the Iceberg rename lifecycle, Delta twin."""
    d, log = _mk_table(tmp_path, "ddl_ren")
    _write_phys(d, "a.parquet", [1, 2, 3], ["x", "y", "z"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    log.rename_column("v", "label", now_ms=1000)
    # physicalName/id unchanged; only the logical name moved
    f = [x for x in json.loads(log.snapshot().schema_json)["fields"]
         if x["name"] == "label"][0]
    assert f["metadata"]["delta.columnMapping.physicalName"] == "col-bbb"
    assert f["metadata"]["delta.columnMapping.id"] == 2
    assert {(r.k, r.label) for r in log.read(spark).collect()} == {
        (1, "x"), (2, "y"), (3, "z")}
    # a post-rename file uses the SAME physical name — one scan reads
    # files from both sides of the rename
    _write_phys(d, "b.parquet", [4], ["w"])
    log.commit(2, [log.add_action_for("b.parquet")])
    # DV composes on the renamed table
    log.add_deletion_vector(3, "a.parquet", [1], storage="i")
    assert {(r.k, r.label) for r in log.read(spark).collect()} == {
        (1, "x"), (3, "z"), (4, "w")}
    # time travel below the rename speaks the old name
    assert sorted(log.read(spark, 0).columns) == ["k", "v"]
    # checkpoint survival: fresh log seeds the renamed schema
    log.write_checkpoint(3)
    log.commit(4, [{"remove": {"path": "nope.parquet",
                               "dataChange": False}}])
    fresh = DeltaLog(d)
    assert sorted(fresh.read(spark).columns) == ["k", "label"]
    assert {(r.k, r.label) for r in fresh.read(spark).collect()} == {
        (1, "x"), (3, "z"), (4, "w")}
    # refusals
    with pytest.raises(ValueError, match="no such column"):
        log.rename_column("v", "again")
    with pytest.raises(ValueError, match="already exists"):
        log.rename_column("k", "label")


def test_mapped_rename_partition_column_refuses(spark, tmp_path):
    d, log = _mk_table(tmp_path, "ddl_ren_part")
    _write_phys(d, "a.parquet", [1], ["x"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name", part=True),
                   log.add_action_for(
                       "a.parquet", partitionValues={"col-ccc": "0"})])
    with pytest.raises(ValueError, match="partition column"):
        log.rename_column("p", "bucket")


def test_mapped_add_column_assigns_id_and_physical_name(spark, tmp_path):
    """add_column under mapping mode assigns a fresh field id and a
    deterministic col-<uuid> physical name, bumps maxColumnId, and the
    read null-fills old files while a post-add file written under the
    physical name carries values."""
    d, log = _mk_table(tmp_path, "ddl_add_map")
    _write_phys(d, "a.parquet", [1, 2], ["x", "y"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    fid = log.add_column("score", "double", now_ms=1000)
    assert fid == 4  # maxColumnId was 3 in _mapped_meta
    snap = log.snapshot()
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "4"
    f = [x for x in json.loads(snap.schema_json)["fields"]
         if x["name"] == "score"][0]
    pn = f["metadata"]["delta.columnMapping.physicalName"]
    assert pn.startswith("col-") and len(pn) == 40
    assert f["metadata"]["delta.columnMapping.id"] == 4
    # determinism: same table + fid -> same physical name
    assert pn == log._physical_name_for(4)
    # old file null-fills; a new file under the physical name has data
    pq.write_table(
        pa.table({"col-aaa": pa.array([3], pa.int64()),
                  "col-bbb": pa.array(["z"], pa.string()),
                  pn: pa.array([0.5], pa.float64())}),
        os.path.join(d, "b.parquet"))
    log.commit(2, [log.add_action_for("b.parquet")])
    got = {(r.k, r.v, r.score) for r in log.read(spark).collect()}
    assert got == {(1, "x", None), (2, "y", None), (3, "z", 0.5)}


def test_mapped_add_column_id_mode_null_fills_missing_fid(spark,
                                                          tmp_path):
    """id mode: a field id absent from EVERY selected footer is a
    column added by DDL — null-fill, not refusal; old files missing
    the new physical column null-fill through the pinned schema."""
    d, log = _mk_table(tmp_path, "ddl_add_id")
    _write_phys(d, "a.parquet", [7, 8], ["a", "b"],
                col_k="col-zzz", col_v="col-qqq", ids=(1, 2))
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("id"),
                   log.add_action_for("a.parquet")])
    fid = log.add_column("extra", "long", now_ms=1000)
    got = {(r.k, r.v, r.extra) for r in log.read(spark).collect()}
    assert got == {(7, "a", None), (8, "b", None)}
    # a new file stamps the new field id under ANY physical name
    f_k = pa.field("col-zzz", pa.int64(),
                   metadata={b"PARQUET:field_id": b"1"})
    f_v = pa.field("col-qqq", pa.string(),
                   metadata={b"PARQUET:field_id": b"2"})
    f_e = pa.field("whatever", pa.int64(),
                   metadata={b"PARQUET:field_id": str(fid).encode()})
    pq.write_table(
        pa.table({"col-zzz": pa.array([9], pa.int64()),
                  "col-qqq": pa.array(["c"], pa.string()),
                  "whatever": pa.array([42], pa.int64())},
                 schema=pa.schema([f_k, f_v, f_e])),
        os.path.join(d, "b.parquet"))
    log.commit(2, [log.add_action_for("b.parquet")])
    got = {(r.k, r.v, r.extra) for r in log.read(spark).collect()}
    assert got == {(7, "a", None), (8, "b", None), (9, "c", 42)}


def test_cli_ddl_delta_walk(spark, tmp_path, capsys):
    """The ddl CLI covers delta add/rename; the Iceberg-only flags
    refuse UP FRONT (exit 2, nothing applied)."""
    from hadoop_sync_spark.__main__ import main

    d, log = _mk_table(tmp_path, "cli_ddl")
    _write_phys(d, "a.parquet", [1], ["x"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    meta = str(tmp_path / "meta")
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["ddl", meta, "t", "--add-column", "score", "double",
                 "--rename-column", "v", "label"]) == 0
    out = capsys.readouterr().out
    assert "added score (field id 4)" in out
    assert "renamed v -> label" in out
    assert sorted(log.read(spark).columns) == ["k", "label", "score"]
    # drop through the CLI (mapped table: metadata-only)
    assert main(["ddl", meta, "t", "--drop-column", "score"]) == 0
    assert "dropped score" in capsys.readouterr().out
    assert sorted(log.read(spark).columns) == ["k", "label"]
    # Iceberg-only flags refuse up front: the add does NOT apply
    v_before = log.latest_version()
    assert main(["ddl", meta, "t", "--add-column", "more", "long",
                 "--create-tag", "nope"]) == 2
    assert "not supported for delta" in capsys.readouterr().err
    assert log.latest_version() == v_before
    # --at-snapshot is Iceberg-only too (meaningless without refs)
    assert main(["ddl", meta, "t", "--add-column", "more", "long",
                 "--at-snapshot", "0"]) == 2
    assert "--at-snapshot" in capsys.readouterr().err
    assert log.latest_version() == v_before
    # unmapped rename propagates the honest refusal through the CLI
    d2, log2 = _mk_table(tmp_path, "cli_ddl_plain")
    _write_file(d2, "a.parquet", {"k": [1], "v": [10]})
    log2.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                    log2.add_action_for("a.parquet")])
    assert main(["register", meta, "t2", d2, "--format", "delta"]) == 0
    assert main(["ddl", meta, "t2", "--rename-column", "k", "kk"]) == 2
    assert "column mapping" in capsys.readouterr().err


def test_id_mode_partitioned_early_exit_reads_one_footer(
        spark, tmp_path, monkeypatch):
    """The id-mode footer walk must exit after ONE footer on a
    conforming partitioned table: partition-column field ids never
    appear in data-file footers, so counting them as 'needed' would
    force a full O(#files) walk on every partitioned id-mode read."""
    d, log = _mk_table(tmp_path, "cm_id_part")
    names = ("a.parquet", "b.parquet", "c.parquet")
    for i, name in enumerate(names):
        _write_phys(d, name, [i], [f"v{i}"],
                    col_k="col-aaa", col_v="col-bbb", ids=(1, 2))
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("id", part=True),
                   *[log.add_action_for(
                       n, partitionValues={"col-ccc": str(i)})
                     for i, n in enumerate(names)]])
    import pyarrow.parquet as _pq
    calls = []
    real = _pq.read_schema

    def spy(p, *a, **k):
        calls.append(p)
        return real(p, *a, **k)

    monkeypatch.setattr(_pq, "read_schema", spy)
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(0, 0), (1, 1), (2, 2)}
    assert len(calls) == 1


def test_ddl_after_checkpoint_preserves_metadata_identity(spark,
                                                          tmp_path):
    """Checkpoints carry the FULL metaData (id/format/createdTime), so
    a DDL re-commit on a checkpoint-seeded snapshot must not lose the
    table's identity (round-11 review: both checkpoint writers used to
    reconstruct metaData with only the read-side fields)."""
    import json as _json

    d, log = _mk_table(tmp_path, "ddl_cp")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    full_meta = _meta()
    full_meta["metaData"]["createdTime"] = 1234
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, full_meta,
                   log.add_action_for("a.parquet")])
    log.write_checkpoint(0)
    # classic-checkpoint-seeded snapshot keeps the identity fields
    fresh = DeltaLog(d)
    md = fresh.snapshot().metadata_action
    assert md["id"] == "t"
    assert md["format"] == {"provider": "parquet", "options": {}}
    assert md["createdTime"] == 1234
    # a DDL on the seeded log re-commits the identity verbatim
    fresh.add_column("w", "string", now_ms=2000)
    committed = [
        _json.loads(line)["metaData"]
        for line in open(os.path.join(d, "_delta_log",
                                      f"{1:020d}.json"))
        if "metaData" in _json.loads(line)
    ][0]
    assert committed["id"] == "t"
    assert committed["format"]["provider"] == "parquet"
    assert committed["createdTime"] == 1234
    assert [f["name"] for f in
            _json.loads(committed["schemaString"])["fields"]] \
        == ["k", "v", "w"]
    # the v2 checkpoint writer embeds the full metaData too
    log2_dir, log2 = _mk_table(tmp_path, "ddl_cp_v2")
    _write_file(log2_dir, "a.parquet", {"k": [1], "v": [10]})
    fm = _meta()
    fm["metaData"]["createdTime"] = 99
    log2.commit(0, [{"protocol": {"minReaderVersion": 1}}, fm,
                    log2.add_action_for("a.parquet")])
    log2.write_checkpoint_v2(0, sidecars=0)
    md2 = DeltaLog(log2_dir).snapshot().metadata_action
    assert md2["id"] == "t" and md2["createdTime"] == 99


def test_v2_checkpoint_commits_default_protocol_when_log_has_none(
        spark, tmp_path):
    """A log whose commits never included a protocol action: the v2
    checkpoint writer COMMITS the default 3/7+v2Checkpoint protocol
    before checkpointing, so checkpoint-seeded and replayed snapshots
    agree (round-11 review: the fabricated default used to be embedded
    without ever being committed)."""
    d, log = _mk_table(tmp_path, "v2_noproto")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [_meta(), log.add_action_for("a.parquet")])
    assert log.snapshot().protocol is None
    log.write_checkpoint_v2(0, sidecars=0)
    assert log.latest_version() == 1
    proto = log.snapshot(1).protocol
    assert proto["minReaderVersion"] == 3
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert sorted(r.k for r in DeltaLog(d).read(spark).collect()) == [1]


def test_add_column_spark_spellings_smallint_tinyint(tmp_path):
    d, log = _mk_table(tmp_path, "ddl_types")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.add_column("s", "smallint", now_ms=1)
    log.add_column("b", "tinyint", now_ms=2)
    fields = {f["name"]: f["type"]
              for f in json.loads(log.snapshot().schema_json)["fields"]}
    assert fields["s"] == "short" and fields["b"] == "byte"


def test_mapped_drop_column_and_fresh_readd(spark, tmp_path):
    """drop_column on a mapped table is pure metadata: old files keep
    the physical column but reads prune it, and a column RE-ADDED under
    the same logical name gets a FRESH field id + physical name so the
    dropped values never resurface — the drop+re-add case the mapping
    indirection exists to solve."""
    d, log = _mk_table(tmp_path, "ddl_drop")
    _write_phys(d, "a.parquet", [1, 2], ["x", "y"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    log.drop_column("v", now_ms=1000)
    assert log.read(spark).columns == ["k"]
    # time travel below the drop still sees the column
    assert sorted(log.read(spark, 0).columns) == ["k", "v"]
    # re-add the same logical name: fresh id + physical name, so the
    # old col-bbb values stay buried
    fid = log.add_column("v", "string", now_ms=2000)
    assert fid == 4
    f = [x for x in json.loads(log.snapshot().schema_json)["fields"]
         if x["name"] == "v"][0]
    assert f["metadata"]["delta.columnMapping.physicalName"] != "col-bbb"
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, None), (2, None)}
    # refusals: unmapped tables, partition columns, the last data column
    with pytest.raises(ValueError, match="no such column"):
        log.drop_column("nope")
    log.drop_column("v", now_ms=3000)
    with pytest.raises(ValueError, match="last data column"):
        log.drop_column("k")
    d2, log2 = _mk_table(tmp_path, "ddl_drop_plain")
    _write_file(d2, "a.parquet", {"k": [1], "v": [10]})
    log2.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                    log2.add_action_for("a.parquet")])
    with pytest.raises(NotImplementedError, match="column mapping"):
        log2.drop_column("v")
    d3, log3 = _mk_table(tmp_path, "ddl_drop_part")
    _write_phys(d3, "a.parquet", [1], ["x"])
    log3.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("name", part=True),
                    log3.add_action_for(
                        "a.parquet", partitionValues={"col-ccc": "0"})])
    with pytest.raises(ValueError, match="partition column"):
        log3.drop_column("p")


# ------------------------------------------------ row-level DELETE (r11)
def test_delete_where_writes_dvs_one_commit(spark, tmp_path):
    """delete_where = production Delta's MoR DELETE: matched positions
    union into each affected file's DV, ONE commit, no data rewrite;
    new-deletions-only accounting; no-match predicates commit nothing."""
    d, log = _mk_table(tmp_path, "delw")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    _write_file(d, "b.parquet", {"k": [4, 5], "v": [40, 50]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    res = log.delete_where(spark, {"k": (2, 4)}, now_ms=1000)
    assert res["rows_deleted"] == 3 and res["files"] == 2
    assert res["version"] == 1 == log.latest_version()  # ONE commit
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 5]
    # merge with the existing DV: only NEW positions count
    res2 = log.delete_where(spark, {"k": (None, 2)}, now_ms=2000)
    assert res2["rows_deleted"] == 1 and res2["files"] == 1
    assert sorted(r.k for r in log.read(spark).collect()) == [5]
    # every match already deleted -> nothing commits
    v = log.latest_version()
    res3 = log.delete_where(spark, {"k": (1, 4)}, now_ms=3000)
    assert res3 == {"version": None, "files": 0, "rows_deleted": 0}
    assert log.latest_version() == v
    # time travel below the deletes sees everything
    assert sorted(r.k for r in log.read(spark, 0).collect()) == [
        1, 2, 3, 4, 5]
    # guards
    with pytest.raises(ValueError, match="no such column"):
        log.delete_where(spark, {"nope": (1, 2)})
    # over the driver cap -> the EXECUTOR tier (round 12) commits the
    # same delete instead of refusing: bitmaps union with the existing
    # DVs and write from workers, the driver sees per-file rows only
    log.DELETE_WHERE_ROW_LIMIT = 0
    try:
        res4 = log.delete_where(spark, {"k": (5, 5)}, now_ms=4000)
        assert res4["rows_deleted"] == 1 and res4["files"] == 1
        assert [r.k for r in log.read(spark).collect()] == []
        # every match already deleted -> still a no-op on this tier
        v = log.latest_version()
        res5 = log.delete_where(spark, {"k": (1, 5)}, now_ms=5000)
        assert res5 == {"version": None, "files": 0, "rows_deleted": 0}
        assert log.latest_version() == v
        # inline storage cannot hold an over-cap vector: honest refusal
        with pytest.raises(NotImplementedError, match="file-backed"):
            log.delete_where(spark, {"k": (None, None)}, storage="i")
    finally:
        del log.DELETE_WHERE_ROW_LIMIT


def test_delete_where_mapped_and_partition_guards(spark, tmp_path):
    d, log = _mk_table(tmp_path, "delw_map")
    _write_phys(d, "a.parquet", [1, 2, 3], ["x", "y", "z"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    # logical-name predicate resolves through the physicalName
    res = log.delete_where(spark, {"v": ("y", "y")}, now_ms=1000)
    assert res["rows_deleted"] == 1
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 3]
    # id mode resolves per-footer (round 13 — the refusal flipped;
    # the full id-mode DML lifecycle is test_dml_write_faces_id_mode)
    d2, log2 = _mk_table(tmp_path, "delw_id")
    _write_phys(d2, "a.parquet", [1], ["x"],
                col_k="col-aaa", col_v="col-bbb", ids=(1, 2))
    log2.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("id"),
                    log2.add_action_for("a.parquet")])
    assert log2.delete_where(
        spark, {"k": (1, 1)}, now_ms=500)["rows_deleted"] == 1
    assert log2.read(spark).count() == 0
    # partition columns refuse (values never reach the data files)
    d3, log3 = _mk_table(tmp_path, "delw_part")
    _write_file(d3, "a.parquet", {"k": [1], "v": [10]})
    log3.commit(0, [{"protocol": {"minReaderVersion": 1}},
                    _meta_partitioned(),
                    log3.add_action_for("a.parquet",
                                        partitionValues={"p": "0"})])
    with pytest.raises(NotImplementedError, match="partition column"):
        log3.delete_where(spark, {"p": (0, 0)})


def test_cli_delete_both_formats(spark, tmp_path, capsys):
    """The `delete` CLI drives delete_where (delta) and delete_rows
    (iceberg) with coerced range predicates; plain directories refuse."""
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta")
    d, log = _mk_table(tmp_path, "cli_del")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["delete", meta, "t",
                 "--where", "k", "2", "null"]) == 0
    assert "deleted 2 row(s) across 1 file(s)" in capsys.readouterr().out
    assert sorted(r.k for r in log.read(spark).collect()) == [1]
    # iceberg twin
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    di = str(tmp_path / "cli_del_ice")
    os.makedirs(os.path.join(di, "data"))
    t = IcebergTable.create(di, [("id", "bigint"), ("val", "string")],
                            now_ms=1000)
    p = os.path.join(di, "data", "f1.parquet")
    _pq.write_table(_pa.table({"id": _pa.array([1, 2, 3], _pa.int64()),
                               "val": _pa.array(["a", "b", "c"],
                                                _pa.string())}), p)
    t.append([DataFile("data/f1.parquet", {}, 3, os.path.getsize(p))],
             now_ms=2000)
    assert main(["register", meta, "ti", di, "--format", "iceberg"]) == 0
    assert main(["delete", meta, "ti",
                 "--where", "id", "null", "1",
                 "--where", "val", "a", "z"]) == 0
    assert "deleted 1 row(s)" in capsys.readouterr().out
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3]
    # plain directories refuse
    dp = str(tmp_path / "plaindir"); os.makedirs(dp)
    _write_file(dp, "x.parquet", {"k": [1], "v": [1]})
    assert main(["register", meta, "tp", dp]) == 0
    assert main(["delete", meta, "tp", "--where", "k", "1", "1"]) == 2
    assert "format tables" in capsys.readouterr().err


def test_update_where_dv_plus_new_file_one_commit(spark, tmp_path):
    """update_where = production Delta's DV UPDATE: matched rows DV out
    of their files AND their updated copies append, one commit; rows an
    existing DV deletes are NOT resurrected; Column expressions
    evaluate against the logical row."""
    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "updw")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    _write_file(d, "b.parquet", {"k": [4], "v": [40]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet"),
                   log.add_action_for("b.parquet")])
    # delete k=2 first: the update below must not resurrect it
    log.delete_where(spark, {"k": (2, 2)}, now_ms=500)
    res = log.update_where(
        spark, {"k": (2, 4)},
        {"v": F.col("v") + 1000, "k": 99}, now_ms=1000)
    assert res["rows_updated"] == 2          # k=3 and k=4; k=2 was dead
    assert res["files"] == 2 and res["new_files"] == 1
    assert res["version"] == log.latest_version()  # ONE commit
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, 10), (99, 1030), (99, 1040)}
    # time travel below the update shows the pre-update state
    got0 = {(r.k, r.v) for r in log.read(spark, 1).collect()}
    assert got0 == {(1, 10), (3, 30), (4, 40)}
    # no-match update commits nothing
    v = log.latest_version()
    assert log.update_where(spark, {"k": (7, 8)}, {"v": 0}) == {
        "version": None, "files": 0, "new_files": 0, "rows_updated": 0}
    assert log.latest_version() == v
    # guards
    with pytest.raises(ValueError, match="no such column"):
        log.update_where(spark, {"k": (1, 1)}, {"nope": 0})


def test_update_where_partitioned_and_mapped(spark, tmp_path):
    """Updated copies land one file per affected partition tuple with
    the tuple's partitionValues; name-mode mapping writes physical
    column names; partition columns refuse in SET and predicate."""
    d, log = _mk_table(tmp_path, "updw_part")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    res = log.update_where(spark, {"k": (1, 2)}, {"v": 7}, now_ms=1000)
    assert res["rows_updated"] == 2 and res["new_files"] == 2
    got = {(r.k, r.v, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 7, 0), (2, 7, 1)}
    with pytest.raises(NotImplementedError, match="partition column"):
        log.update_where(spark, {"k": (1, 1)}, {"p": 9})
    # mapped table: physical names in the new file
    d2, log2 = _mk_table(tmp_path, "updw_map")
    _write_phys(d2, "a.parquet", [1, 2], ["x", "y"])
    log2.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("name"),
                    log2.add_action_for("a.parquet")])
    res2 = log2.update_where(spark, {"k": (2, 2)}, {"v": "Z"},
                             now_ms=2000)
    assert res2["rows_updated"] == 1
    assert {(r.k, r.v) for r in log2.read(spark).collect()} == {
        (1, "x"), (2, "Z")}
    import pyarrow.parquet as _pq
    new_rel = [a for a in log2.snapshot().live
               if a.startswith("part-update-")][0]
    footer = _pq.read_schema(os.path.join(d2, new_rel))
    assert set(footer.names) == {"col-aaa", "col-bbb"}


def test_cli_update_both_formats(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta")
    d, log = _mk_table(tmp_path, "cli_upd")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["update", meta, "t", "--where", "k", "2", "null",
                 "--set", "v", "777"]) == 0
    assert "updated 2 row(s)" in capsys.readouterr().out
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, 10), (2, 777), (3, 777)}
    # iceberg twin
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    di = str(tmp_path / "cli_upd_ice")
    os.makedirs(os.path.join(di, "data"))
    t = IcebergTable.create(di, [("id", "bigint"), ("val", "string")],
                            now_ms=1000)
    p = os.path.join(di, "data", "f1.parquet")
    _pq.write_table(_pa.table({"id": _pa.array([1, 2], _pa.int64()),
                               "val": _pa.array(["a", "b"],
                                                _pa.string())}), p)
    t.append([DataFile("data/f1.parquet", {}, 2, os.path.getsize(p))],
             now_ms=2000)
    assert main(["register", meta, "ti", di, "--format", "iceberg"]) == 0
    assert main(["update", meta, "ti", "--where", "id", "2", "2",
                 "--set", "val", "B"]) == 0
    assert "updated 1 row(s)" in capsys.readouterr().out
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {
        (1, "a"), (2, "B")}


def test_update_where_simultaneous_set_semantics(spark, tmp_path):
    """Every SET expression evaluates against the ORIGINAL row —
    `SET k=9, v=k+1` gives v = old_k + 1, not 10 (SQL UPDATE
    semantics, not sequential assignment)."""
    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "updw_sim")
    _write_file(d, "a.parquet", {"k": [5], "v": [50]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.update_where(spark, {"k": (5, 5)},
                     {"k": 9, "v": F.col("k") + 1}, now_ms=1000)
    assert {(r.k, r.v) for r in log.read(spark).collect()} == {(9, 6)}
    with pytest.raises(ValueError, match="at least one SET"):
        log.update_where(spark, {"k": (9, 9)}, {})
    # Hive-layout partitioned tables refuse DML (a DV would make the
    # table unreadable through the value-less-adds fallback)
    d2, log2 = _mk_table(tmp_path, "updw_hive")
    _write_file(d2, "p=0/a.parquet", {"k": [1], "v": [10]})
    log2.commit(0, [{"protocol": {"minReaderVersion": 1}},
                    _meta(partition_cols=("p",)),
                    log2.add_action_for("p=0/a.parquet")])
    with pytest.raises(NotImplementedError, match="Hive-inferred"):
        log2.delete_where(spark, {"k": (1, 1)})


def test_cli_where_conjunction_and_null_literal(spark, tmp_path,
                                                capsys):
    """Repeated --where on the same column CONJOINS (max-lo, min-hi) —
    overwriting would widen the predicate and delete rows the user
    never named; --set 'none' writes the literal string, only 'null'
    means SQL NULL (round-11 review)."""
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta")
    d, log = _mk_table(tmp_path, "cli_conj")
    _write_file(d, "a.parquet", {"k": [1, 5, 8, 12], "v": [0] * 4})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    # 5 <= k AND k <= 10 expressed as two triples on one column
    assert main(["delete", meta, "t",
                 "--where", "k", "5", "null",
                 "--where", "k", "null", "10"]) == 0
    assert "deleted 2 row(s)" in capsys.readouterr().out
    assert sorted(r.k for r in log.read(spark).collect()) == [1, 12]
    # --set 'none' is a literal; empty-filter refusal reaches the CLI
    d2, log2 = _mk_table(tmp_path, "cli_none")
    _write_file(d2, "a.parquet", {"k": [1], "v": ["old"]})
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {}}]})
    log2.commit(0, [{"protocol": {"minReaderVersion": 1}},
                    {"metaData": {"id": "t2",
                                  "format": {"provider": "parquet",
                                             "options": {}},
                                  "schemaString": schema,
                                  "partitionColumns": [],
                                  "configuration": {}}},
                    log2.add_action_for("a.parquet")])
    assert main(["register", meta, "t2", d2, "--format", "delta"]) == 0
    assert main(["update", meta, "t2", "--where", "k", "1", "1",
                 "--set", "v", "none"]) == 0
    capsys.readouterr()
    assert [r.v for r in log2.read(spark).collect()] == ["none"]


def test_delete_where_empty_predicate_refuses(spark, tmp_path):
    d, log = _mk_table(tmp_path, "delw_empty")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    with pytest.raises(ValueError, match="needs a predicate"):
        log.delete_where(spark, {})
    with pytest.raises(ValueError, match="needs a predicate"):
        log.update_where(spark, {}, {"v": 0})


def test_delete_where_mapped_partitioned_physical_keys(spark, tmp_path):
    """A conforming name-mapped PARTITIONED table logs partitionValues
    under PHYSICAL keys — the Hive-layout guard must translate before
    comparing, not falsely refuse (round-11 review)."""
    d, log = _mk_table(tmp_path, "delw_map_part")
    _write_phys(d, "a.parquet", [1, 2], ["x", "y"])
    _write_phys(d, "b.parquet", [3], ["z"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name", part=True),
                   log.add_action_for(
                       "a.parquet", partitionValues={"col-ccc": "0"}),
                   log.add_action_for(
                       "b.parquet", partitionValues={"col-ccc": "1"})])
    res = log.delete_where(spark, {"k": (2, 3)}, now_ms=1000)
    assert res["rows_deleted"] == 2
    got = {(r.k, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 0)}
    # the UPDATE face composes too: copies land per partition tuple
    # with the PHYSICAL partition keys preserved
    res2 = log.update_where(spark, {"k": (1, 1)}, {"v": "X"},
                            now_ms=2000)
    assert res2["rows_updated"] == 1 and res2["new_files"] == 1
    got = {(r.k, r.v, r.p) for r in log.read(spark).collect()}
    assert got == {(1, "X", 0)}


@pytest.mark.slow
def test_merge_upsert_dv_plus_source_file(spark, tmp_path):
    """Delta merge_upsert: key-only target scan (pruned to the key
    column, source keys pushed as an IN filter), matched rows DV out,
    the source batch appends — one commit; composes over its own
    output and with prior DVs."""
    d, log = _mk_table(tmp_path, "mrg")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    src = spark.createDataFrame([(2, 200), (9, 900)], ["k", "v"])
    res = log.merge_upsert(spark, src, "k", now_ms=1000)
    assert res["rows_matched"] == 1 and res["rows_inserted"] == 2
    assert res["version"] == 1 == log.latest_version()
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, 10), (2, 200), (3, 30), (9, 900)}
    # second upsert touches the row living in the upsert file itself
    src2 = spark.createDataFrame([(9, 901)], ["k", "v"])
    log.merge_upsert(spark, src2, "k", now_ms=2000)
    got = {(r.k, r.v) for r in log.read(spark).collect()}
    assert got == {(1, 10), (2, 200), (3, 30), (9, 901)}
    # time travel below the merges
    assert {(r.k, r.v) for r in log.read(spark, 0).collect()} == {
        (1, 10), (2, 20), (3, 30)}
    # mapped table: the upsert file carries physical names
    d2, log2 = _mk_table(tmp_path, "mrg_map")
    _write_phys(d2, "a.parquet", [1, 2], ["x", "y"])
    log2.commit(0, [{"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
                    _mapped_meta("name"),
                    log2.add_action_for("a.parquet")])
    srcm = spark.createDataFrame([(2, "Y"), (5, "five")], ["k", "v"])
    log2.merge_upsert(spark, srcm, "k", now_ms=3000)
    assert {(r.k, r.v) for r in log2.read(spark).collect()} == {
        (1, "x"), (2, "Y"), (5, "five")}
    import pyarrow.parquet as _pq
    up_rel = [p for p in log2.snapshot().live
              if p.startswith("part-upsert-")][0]
    assert set(_pq.read_schema(
        os.path.join(d2, up_rel)).names) == {"col-aaa", "col-bbb"}


def test_cli_changes_both_formats(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta")
    d, log = _mk_table(tmp_path, "cli_chg")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.delete_where(spark, {"k": (2, 2)}, now_ms=1000)
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["changes", meta, "t", "--from", "1"]) == 0
    out = capsys.readouterr().out
    assert '"_change_type": "delete"' in out and '"k": 2' in out
    assert "1 change row(s)" in out
    # iceberg twin via changelog_scan
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    di = str(tmp_path / "cli_chg_ice")
    os.makedirs(os.path.join(di, "data"))
    t = IcebergTable.create(di, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1000)
    p = os.path.join(di, "data", "f1.parquet")
    _pq.write_table(_pa.table({"k": _pa.array([1, 2], _pa.int64()),
                               "v": _pa.array([10, 20], _pa.int64())}),
                    p)
    s1 = t.append(
        [DataFile("data/f1.parquet", {}, 2, os.path.getsize(p))],
        now_ms=2000)
    t.delete_rows(spark, {"k": (1, 1)}, now_ms=3000)
    assert main(["register", meta, "ti", di, "--format",
                 "iceberg"]) == 0
    assert main(["changes", meta, "ti", "--from", str(s1)]) == 0
    out = capsys.readouterr().out
    assert '"_change_type": "delete"' in out and '"k": 1' in out
    # plain-directory tables refuse
    os.makedirs(str(tmp_path / "plaind"))
    _write_file(str(tmp_path / "plaind"), "x.parquet", {"k": [1]})
    assert main(["register", meta, "tp",
                 str(tmp_path / "plaind")]) == 0
    assert main(["changes", meta, "tp", "--from", "0"]) == 2


@pytest.mark.slow
def test_cli_merge_both_formats(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta")
    d, log = _mk_table(tmp_path, "cli_mrg")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    src_dir = str(tmp_path / "src")
    spark.createDataFrame([(2, 200), (3, 300)], ["k", "v"]) \
        .coalesce(1).write.parquet(src_dir)
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["merge", meta, "t", src_dir, "--key", "k"]) == 0
    out = capsys.readouterr().out
    assert "1 matched row(s) replaced, 2 row(s) written" in out
    assert {(r.k, r.v) for r in log.read(spark).collect()} == {
        (1, 10), (2, 200), (3, 300)}
    # iceberg twin
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    di = str(tmp_path / "cli_mrg_ice")
    os.makedirs(os.path.join(di, "data"))
    t = IcebergTable.create(di, [("k", "bigint"), ("v", "bigint")],
                            now_ms=1000)
    p = os.path.join(di, "data", "f1.parquet")
    _pq.write_table(_pa.table({"k": _pa.array([1, 2], _pa.int64()),
                               "v": _pa.array([10, 20], _pa.int64())}),
                    p)
    t.append([DataFile("data/f1.parquet", {}, 2, os.path.getsize(p))],
             now_ms=2000)
    assert main(["register", meta, "ti", di, "--format", "iceberg"]) == 0
    assert main(["merge", meta, "ti", src_dir, "--key", "k"]) == 0
    assert "2 key(s) upserted, 2 row(s) written" in \
        capsys.readouterr().out
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {
        (1, 10), (2, 200), (3, 300)}


# ------------------------------------------------ change feed (r11)
def test_read_changes_cdf_lite_lifecycle(spark, tmp_path):
    """read_changes derives the CDF shape from the log alone: appends
    emit inserts, DV growth emits position deletes, update_where
    surfaces as delete+insert pairs, a CoW remove emits the file's
    then-live rows (already-DV'd rows excluded — they were reported
    deleted earlier), and dataChange:false emits nothing."""
    d, log = _mk_table(tmp_path, "cdf")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.delete_where(spark, {"k": (2, 2)}, now_ms=1000)       # v1
    log.update_where(spark, {"k": (3, 3)}, {"v": 300},
                     now_ms=2000)                              # v2
    _write_file(d, "b.parquet", {"k": [4], "v": [40]})
    log.commit(3, [log.add_action_for("b.parquet")])           # v3
    log.commit(4, [{"remove": {"path": "a.parquet",
                               "dataChange": True}}])          # v4
    rows = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 0).collect()
    }
    assert rows == {
        # v0: the initial append
        (1, 10, "insert", 0), (2, 20, "insert", 0),
        (3, 30, "insert", 0),
        # v1: delete_where k=2 (DV growth)
        (2, 20, "delete", 1),
        # v2: update_where k=3 -> delete+insert pair
        (3, 30, "delete", 2), (3, 300, "insert", 2),
        # v3: plain append
        (4, 40, "insert", 3),
        # v4: CoW remove of a.parquet — only k=1 was still live
        # (k=2 and k=3 were DV'd and already reported)
        (1, 10, "delete", 4),
    }
    # a sub-range sees only its commits
    sub = {
        (r.k, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 1, 2).collect()
    }
    assert sub == {(2, "delete", 1), (3, "delete", 2),
                   (3, "insert", 2)}
    # compaction (dataChange: false) emits nothing
    log.commit(5, [
        {"remove": {"path": "b.parquet", "dataChange": False}},
        log.add_action_for("b.parquet", dataChange=False),
    ])
    assert log.read_changes(spark, 5, 5).count() == 0
    # vacuumed data files refuse by name
    os.remove(os.path.join(d, "a.parquet"))
    with pytest.raises(FileNotFoundError, match="a.parquet"):
        log.read_changes(spark, 0).collect()


@pytest.mark.slow
def test_read_changes_mapped_and_merge(spark, tmp_path):
    """Mapped tables resolve physical names; merge_upsert surfaces as
    the matched delete + full-batch insert."""
    d, log = _mk_table(tmp_path, "cdf_map")
    _write_phys(d, "a.parquet", [1, 2], ["x", "y"])
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("name"),
                   log.add_action_for("a.parquet")])
    src = spark.createDataFrame([(2, "Y"), (5, "five")], ["k", "v"])
    log.merge_upsert(spark, src, "k", now_ms=1000)             # v1
    rows = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(spark, 1).collect()
    }
    assert rows == {
        (2, "y", "delete", 1),
        (2, "Y", "insert", 1), (5, "five", "insert", 1),
    }


def test_read_changes_partitioned_valueless_remove(spark, tmp_path):
    """A file added BEFORE the change range and removed in-range by a
    value-less remove action still attaches its partition values in
    the delete rows (seeded from the pre-range state)."""
    d, log = _mk_table(tmp_path, "cdf_part")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "7"})])
    log.commit(1, [{"remove": {"path": "a.parquet",
                               "dataChange": True}}])  # no pv on remove
    rows = {(r.k, r.p, r._change_type, r._commit_version)
            for r in log.read_changes(spark, 1, 1).collect()}
    assert rows == {(1, 7, "delete", 1)}


@pytest.mark.slow
def test_merge_upsert_semijoin_key_tier(spark, tmp_path):
    """Key sets over MERGE_IN_PUSHDOWN_KEY_LIMIT (but under the
    position cap) semi-join the key scan instead of a literal IN list
    — measured 4x planning cost at 10k literals — while positions
    still collect on the driver tier.  Same results as the IN path."""
    d, log = _mk_table(tmp_path, "mrg_semijoin")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.MERGE_IN_PUSHDOWN_KEY_LIMIT = 0  # force the semi-join tier
    try:
        src = spark.createDataFrame([(2, 200), (9, 900)], ["k", "v"])
        res = log.merge_upsert(spark, src, "k", now_ms=1000)
        assert res["rows_matched"] == 1 and res["rows_inserted"] == 2
        got = {(r.k, r.v) for r in log.read(spark).collect()}
        assert got == {(1, 10), (2, 200), (3, 30), (9, 900)}
        nulls = spark.createDataFrame([(None, 1)], "k long, v long")
        with pytest.raises(ValueError, match="NULL keys"):
            log.merge_upsert(spark, nulls, "k")
    finally:
        del log.MERGE_IN_PUSHDOWN_KEY_LIMIT


@pytest.mark.slow
def test_merge_upsert_partitioned(spark, tmp_path):
    """Partitioned Delta merge (round 12): the source (which carries
    the partition columns as logical columns) splits per tuple — one
    upsert file per tuple, partitionValues stamped with the protocol's
    string encoding, ONE commit; matched rows DV out of their old
    files regardless of partition."""
    d, log = _mk_table(tmp_path, "mrg_part")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    _write_file(d, "b.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    src = spark.createDataFrame(
        [(2, 200, 0), (7, 700, 1), (8, 800, 2)], ["k", "v", "p"])
    res = log.merge_upsert(spark, src, "k", now_ms=1000)
    assert res["rows_matched"] == 1 and res["rows_inserted"] == 3
    assert res["version"] == 1 == log.latest_version()  # ONE commit
    got = {(r.k, r.v, r.p) for r in log.read(spark).collect()}
    assert got == {(1, 10, 0), (2, 200, 0), (3, 30, 1),
                   (7, 700, 1), (8, 800, 2)}
    # one upsert file per tuple with string-encoded partitionValues
    ups = {rel: a for rel, a in log.snapshot().live.items()
           if rel.startswith("part-upsert-")}
    assert sorted(a["partitionValues"]["p"]
                  for a in ups.values()) == ["0", "1", "2"]
    # partition-pruned read sees the new tuple
    one = log.read(spark).where("p = 2").collect()
    assert [(r.k, r.v) for r in one] == [(8, 800)]
    # merge over its own output
    src2 = spark.createDataFrame([(8, 801, 2)], ["k", "v", "p"])
    log.merge_upsert(spark, src2, "k", now_ms=2000)
    assert (8, 801, 2) in {(r.k, r.v, r.p)
                           for r in log.read(spark).collect()}
    # key on a partition column refuses
    with pytest.raises(NotImplementedError, match="partition column"):
        log.merge_upsert(spark, src, "p")
    # executor tier composes with the partitioned split
    log.DELETE_WHERE_ROW_LIMIT = 0
    try:
        src3 = spark.createDataFrame([(7, 701, 1), (9, 900, 0)],
                                     ["k", "v", "p"])
        res3 = log.merge_upsert(spark, src3, "k", now_ms=3000)
        assert res3["rows_matched"] == 1 and res3["rows_inserted"] == 2
        got = {(r.k, r.v, r.p) for r in log.read(spark).collect()}
        assert (7, 701, 1) in got and (9, 900, 0) in got
        assert (7, 700, 1) not in got
    finally:
        del log.DELETE_WHERE_ROW_LIMIT


@pytest.mark.slow
def test_merge_upsert_all_new_keys_no_protocol_upgrade(spark, tmp_path):
    """An all-new-keys merge writes no DV and must NOT upgrade the
    protocol — older engines keep reading the table after a pure
    append (round-11 review); NULL source keys refuse."""
    d, log = _mk_table(tmp_path, "mrg_noproto")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    src = spark.createDataFrame([(7, 70)], ["k", "v"])
    res = log.merge_upsert(spark, src, "k", now_ms=1000)
    assert res["rows_matched"] == 0 and res["rows_inserted"] == 1
    assert log.snapshot().protocol == {"minReaderVersion": 1}
    # a matching merge DOES upgrade (it writes a DV)
    src2 = spark.createDataFrame([(7, 71)], ["k", "v"])
    log.merge_upsert(spark, src2, "k", now_ms=2000)
    assert "deletionVectors" in log.snapshot().protocol["readerFeatures"]
    from pyspark.sql import functions as F
    nulls = spark.createDataFrame([(None, 1)], "k long, v long")
    with pytest.raises(ValueError, match="NULL keys"):
        log.merge_upsert(spark, nulls, "k")


def test_update_where_executor_tier_over_cap(spark, tmp_path):
    """update_where above the driver cap takes the round-12 EXECUTOR
    tier end-to-end: existing-DV rows stay dead (anti-join, not driver
    sets), bitmaps write from workers, updated copies land one file
    per partition tuple, simultaneous-SET semantics hold, ONE commit."""
    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "updw_exec")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    _write_file(d, "b.parquet", {"k": [4], "v": [40]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _meta_partitioned(),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    # existing DV on k=2: the over-cap update must not resurrect it
    log.delete_where(spark, {"k": (2, 2)}, now_ms=500)
    log.DELETE_WHERE_ROW_LIMIT = 0
    try:
        res = log.update_where(
            spark, {"k": (2, 4)},
            {"v": F.col("k") + 1000, "k": 99}, now_ms=1000)
        assert res["rows_updated"] == 2      # k=3, k=4; k=2 was dead
        assert res["files"] == 2 and res["new_files"] == 2
        assert res["version"] == log.latest_version()  # ONE commit
        got = {(r.k, r.v, r.p) for r in log.read(spark).collect()}
        assert got == {(1, 10, 0), (99, 1003, 0), (99, 1004, 1)}
        # no-match predicate is still a no-op on this tier
        v = log.latest_version()
        assert log.update_where(spark, {"k": (777, 778)}, {"v": 0}) == {
            "version": None, "files": 0, "new_files": 0,
            "rows_updated": 0}
        assert log.latest_version() == v
    finally:
        del log.DELETE_WHERE_ROW_LIMIT


@pytest.mark.slow
def test_merge_upsert_executor_tier_over_cap(spark, tmp_path):
    """merge_upsert above the driver cap: the key set semi-joins the
    target scan (no IN list), matched rows DV out via the executor
    builder, NULL keys still refuse (aggregate check), and the
    protocol upgrade still rides only DV-writing commits."""
    d, log = _mk_table(tmp_path, "mrg_exec")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.DELETE_WHERE_ROW_LIMIT = 0
    try:
        src = spark.createDataFrame([(2, 200), (9, 900)], ["k", "v"])
        res = log.merge_upsert(spark, src, "k", now_ms=1000)
        assert res["rows_matched"] == 1 and res["rows_inserted"] == 2
        assert res["files"] == 1
        assert res["version"] == 1 == log.latest_version()
        got = {(r.k, r.v) for r in log.read(spark).collect()}
        assert got == {(1, 10), (2, 200), (3, 30), (9, 900)}
        # second upsert touches the row living in the upsert file
        src2 = spark.createDataFrame([(9, 901)], ["k", "v"])
        log.merge_upsert(spark, src2, "k", now_ms=2000)
        got = {(r.k, r.v) for r in log.read(spark).collect()}
        assert got == {(1, 10), (2, 200), (3, 30), (9, 901)}
        nulls = spark.createDataFrame([(None, 1)], "k long, v long")
        with pytest.raises(ValueError, match="NULL keys"):
            log.merge_upsert(spark, nulls, "k")
        # all-new-keys over-cap merge writes no DV: no protocol upgrade
        d2, log2 = _mk_table(tmp_path, "mrg_exec_np")
        _write_file(d2, "a.parquet", {"k": [1], "v": [10]})
        log2.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                        log2.add_action_for("a.parquet")])
        log2.DELETE_WHERE_ROW_LIMIT = 0
        try:
            src3 = spark.createDataFrame([(7, 70)], ["k", "v"])
            res3 = log2.merge_upsert(spark, src3, "k", now_ms=1000)
            assert res3["rows_matched"] == 0
            assert log2.snapshot().protocol == {"minReaderVersion": 1}
        finally:
            del log2.DELETE_WHERE_ROW_LIMIT
    finally:
        del log.DELETE_WHERE_ROW_LIMIT


def _cdf_meta(partition_cols=()):
    m = _meta(partition_cols)
    m["metaData"]["configuration"] = {
        "delta.enableChangeDataFeed": "true"
    }
    if partition_cols:
        m["metaData"]["schemaString"] = PART_SCHEMA_JSON
    return m


def test_change_data_feed_write_and_read(spark, tmp_path):
    """delta.enableChangeDataFeed=true (round 12): the DML faces write
    _change_data files + cdc actions (dataChange false), read_changes
    consumes THEM for those versions — update/merge gain real
    update_pre/postimage rows — and the composed feed still replays to
    the final state.  Pure appends write no cdc (readers derive)."""
    from collections import Counter

    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "cdf")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _cdf_meta(),
                   log.add_action_for("a.parquet")])
    # v1: UPDATE -> pre/postimages in the feed
    log.update_where(spark, {"k": (2, 3)}, {"v": F.col("v") + 100},
                     now_ms=1000)
    ev = {(r.k, r.v, r._change_type)
          for r in log.read_changes(spark, 1, 1).collect()}
    assert ev == {(2, 20, "update_preimage"), (3, 30, "update_preimage"),
                  (2, 120, "update_postimage"),
                  (3, 130, "update_postimage")}
    # v2: DELETE -> delete rows via the cdc file
    log.delete_where(spark, {"k": (1, 1)}, now_ms=2000)
    ev2 = {(r.k, r.v, r._change_type)
           for r in log.read_changes(spark, 2, 2).collect()}
    assert ev2 == {(1, 10, "delete")}
    # v3: MERGE -> preimage for the matched key, postimage + insert
    src = spark.createDataFrame([(2, 999), (7, 70)], ["k", "v"])
    log.merge_upsert(spark, src, "k", now_ms=3000)
    ev3 = {(r.k, r.v, r._change_type)
           for r in log.read_changes(spark, 3, 3).collect()}
    assert ev3 == {(2, 120, "update_preimage"),
                   (2, 999, "update_postimage"), (7, 70, "insert")}
    # v4: pure append writes NO cdc action; the feed derives an insert
    _write_file(d, "b.parquet", {"k": [9], "v": [90]})
    log.commit(4, [log.add_action_for("b.parquet")])
    with open(os.path.join(d, "_delta_log",
                           "00000000000000000004.json")) as fh:
        assert not any("cdc" in json.loads(ln)
                       for ln in fh if ln.strip())
    ev4 = {(r.k, r.v, r._change_type)
           for r in log.read_changes(spark, 4, 4).collect()}
    assert ev4 == {(9, 90, "insert")}
    # protocol: changeDataFeed is a WRITER feature only
    proto = log.snapshot().protocol
    assert "changeDataFeed" in proto["writerFeatures"]
    assert "changeDataFeed" not in (proto.get("readerFeatures") or [])
    # cdc actions: dataChange false, files under _change_data/
    with open(os.path.join(d, "_delta_log",
                           "00000000000000000001.json")) as fh:
        cdcs = [json.loads(ln)["cdc"] for ln in fh
                if ln.strip() and "cdc" in json.loads(ln)]
    assert cdcs and all(c["dataChange"] is False for c in cdcs)
    assert all(c["path"].startswith("_change_data/") for c in cdcs)
    # full replay from 0 lands on the final table state
    state: Counter = Counter()
    for r in log.read_changes(spark, 0).collect():
        delta = (-1 if r._change_type in ("delete", "update_preimage")
                 else 1)
        state[(r.k, r.v)] += delta
    final = Counter((r.k, r.v) for r in log.read(spark).collect())
    assert +state == final


@pytest.mark.slow
def test_change_data_feed_partitioned_and_executor_tier(spark,
                                                        tmp_path):
    """CDF on a partitioned table splits cdc files per tuple (the
    reader attaches partition columns from the cdc action's
    partitionValues), and the over-cap executor tier captures the same
    events through the distributed fresh frame."""
    from pyspark.sql import functions as F

    d, log = _mk_table(tmp_path, "cdf_part")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    _write_file(d, "b.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}},
                   _cdf_meta(("p",)),
                   log.add_action_for("a.parquet",
                                      partitionValues={"p": "0"}),
                   log.add_action_for("b.parquet",
                                      partitionValues={"p": "1"})])
    log.DELETE_WHERE_ROW_LIMIT = 0  # executor tier for every face
    try:
        log.update_where(spark, {"k": (2, 3)},
                         {"v": F.col("v") + 1}, now_ms=1000)
        ev = {(r.k, r.v, r.p, r._change_type)
              for r in log.read_changes(spark, 1, 1).collect()}
        assert ev == {(2, 20, 0, "update_preimage"),
                      (2, 21, 0, "update_postimage"),
                      (3, 30, 1, "update_preimage"),
                      (3, 31, 1, "update_postimage")}
        log.delete_where(spark, {"k": (1, 2)}, now_ms=2000)
        ev2 = {(r.k, r.v, r.p, r._change_type)
               for r in log.read_changes(spark, 2, 2).collect()}
        assert ev2 == {(1, 10, 0, "delete"), (2, 21, 0, "delete")}
        # partitioned merge + CDF, over-cap keys
        src = spark.createDataFrame([(3, 300, 1), (8, 80, 2)],
                                    ["k", "v", "p"])
        log.merge_upsert(spark, src, "k", now_ms=3000)
        ev3 = {(r.k, r.v, r.p, r._change_type)
               for r in log.read_changes(spark, 3, 3).collect()}
        assert ev3 == {(3, 31, 1, "update_preimage"),
                       (3, 300, 1, "update_postimage"),
                       (8, 80, 2, "insert")}
    finally:
        del log.DELETE_WHERE_ROW_LIMIT
    # deletes a second time are no-ops: no cdc rows, no commit
    v = log.latest_version()
    assert log.delete_where(spark, {"k": (1, 1)}) == {
        "version": None, "files": 0, "rows_deleted": 0}
    assert log.latest_version() == v


def test_checkpoint_seeded_protocol_drops_parquet_nulls(spark, tmp_path):
    """A protocol committed without minWriterVersion round-trips
    through the parquet checkpoint's nullable struct as an explicit
    None member; the seeder must strip it (parquet null = absent) so
    checkpoint-seeded and replayed snapshots agree and later DV faces
    can upgrade the protocol.  Found by the DML sequence fuzzer."""
    d, log = _mk_table(tmp_path, "cp_nulls")
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.write_checkpoint(0)
    log.commit(1, [log.add_action_for("a.parquet")])
    seeded = DeltaLog(d).snapshot()  # fresh instance → checkpoint seed
    assert seeded.protocol == {"minReaderVersion": 1}
    # the crash path: a DV-writing face after the seeded snapshot
    log2 = DeltaLog(d)
    res = log2.delete_where(spark, {"k": (1, 1)}, now_ms=1000)
    assert res["rows_deleted"] == 1
    assert sorted(r.k for r in log2.read(spark).collect()) == [2]


def test_compact_unmapped_across_add_column_keeps_values(spark, tmp_path):
    """Compacting a bin that mixes pre- and post-add_column files must
    carry the added column's VALUES into the rewrite.  The unmapped
    branch derived its column list from Spark's inferred parquet read,
    which samples ONE footer — a pre-DDL footer dropped the column
    silently (data loss; the mapped branch and the Iceberg twin were
    fixed in r9, this branch was caught by the DML fuzzer).  The
    column list now comes from the logged schema, partitioned and
    unpartitioned alike."""
    for partitioned in (False, True):
        d, log = _mk_table(tmp_path, f"cmp_ddl_{partitioned}")
        pv = {"partitionValues": {"p": "0"}} if partitioned else {}
        meta = _meta_partitioned() if partitioned else _meta()
        _write_file(d, "a.parquet", {"k": [1], "v": [10]})
        log.commit(0, [{"protocol": {"minReaderVersion": 1}}, meta,
                       log.add_action_for("a.parquet", **pv)])
        log.add_column("c1", "long", now_ms=1)
        _write_file(d, "b.parquet", {"k": [2], "v": [20], "c1": [99]})
        log.commit(2, [log.add_action_for("b.parquet", **pv)])
        res = log.compact(spark)
        assert res is not None and res["files_in"] == 2
        got = sorted(
            tuple(r) for r in
            log.read(spark).select("k", "v", "c1").collect()
        )
        assert got == [(1, 10, None), (2, 20, 99)], (
            f"partitioned={partitioned}: added-column values lost"
        )


def test_json_null_protocol_versions_read_as_absent(spark, tmp_path):
    """A lax external writer's {"minReaderVersion": null} in a commit
    JSON must read as ABSENT (lowest version) — the same stance the
    checkpoint seeder and _protocol_with_feature take — not crash the
    replay with a None<int comparison."""
    d, log = _mk_table(tmp_path, "nullproto")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [
        {"protocol": {"minReaderVersion": None,
                      "minWriterVersion": None}},
        _meta(), log.add_action_for("a.parquet"),
    ])
    assert [tuple(r) for r in log.read(spark).collect()] == [(1, 10)]
    # and the DV face upgrades the null-riddled protocol cleanly
    res = log.delete_where(spark, {"k": (1, 1)}, now_ms=1000)
    assert res["rows_deleted"] == 1
    assert log.read(spark).count() == 0


# ----------------------------------------------------------------- restore


def test_restore_undoes_data_and_metadata(spark, tmp_path):
    """RESTORE re-establishes an old version's state at the log head in
    ONE commit: grown DVs roll back (the target's add re-commits
    verbatim), post-target appends remove, post-target DDL un-happens
    (the target metaData re-commits), and the protocol keeps the
    features accumulated since — never a downgrade."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1, 2], "v": [10, 20]})
    _write_file(d, "b.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1,
                                 "minWriterVersion": 2}},
                   _meta(), log.add_action_for("a.parquet")])
    # v1: append b; v2: DV-delete k=1 out of a; v3: widen the schema
    log.commit(1, [log.add_action_for("b.parquet")])
    assert log.delete_where(spark, {"k": (1, 1)}, now_ms=2000)[
        "rows_deleted"] == 1
    log.add_column("w", "long", now_ms=3000)
    assert sorted(log.snapshot().schema().fieldNames()) == ["k", "v", "w"]

    res = log.restore(1, now_ms=4000)
    assert res == {"version": 4, "files_added": 1, "files_removed": 0,
                   "metadata_restored": True}
    snap = log.snapshot()
    # the DV'd add rolled back to the target's un-DV'd action
    assert "deletionVector" not in snap.live["a.parquet"]
    assert sorted(snap.schema().fieldNames()) == ["k", "v"]
    # protocol kept the deletionVectors feature (no downgrade)
    assert "deletionVectors" in (
        snap.protocol.get("readerFeatures") or ()
    )
    got = sorted(tuple(r) for r in log.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]
    # time travel below the restore still sees the undone states
    assert log.read(spark, version=3).count() == 2

    # restore FORWARD to the DV'd+widened state works too
    res2 = log.restore(3, now_ms=5000)
    assert res2["metadata_restored"] is True
    assert log.read(spark).count() == 2
    assert sorted(log.snapshot().schema().fieldNames()) == ["k", "v", "w"]

    # restoring to the state the table is already in commits NOTHING
    head = log.latest_version()
    res3 = log.restore(3, now_ms=6000)
    assert res3 == {"version": head, "files_added": 0,
                    "files_removed": 0, "metadata_restored": False}
    assert log.latest_version() == head


def test_restore_removes_post_target_appends(tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [log.add_action_for("b.parquet")])
    res = log.restore(0, now_ms=1000)
    assert (res["files_removed"], res["files_added"]) == (1, 0)
    assert log.snapshot().files == ["a.parquet"]
    # the restore is itself plain log history: replaying to it from a
    # checkpoint written later agrees
    log.write_checkpoint()
    assert DeltaLog(d).snapshot().files == ["a.parquet"]


def test_restore_refuses_vacuumed_target_files(tmp_path):
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    os.remove(os.path.join(d, "a.parquet"))
    with pytest.raises(FileNotFoundError, match="a.parquet"):
        log.restore(0)
    with pytest.raises(ValueError, match="out of range"):
        log.restore(99)


def test_cli_restore_both_formats(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta_rst")
    d, log = _mk_table(tmp_path, "cli_rst")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [log.add_action_for("b.parquet")])
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["restore", meta, "t", "--version", "0"]) == 0
    out = capsys.readouterr().out
    assert "restored to version 0" in out and "-1 file(s)" in out
    assert log.snapshot().files == ["a.parquet"]
    # no-op second run
    assert main(["restore", meta, "t", "--version", "0"]) == 0
    assert "no-op" in capsys.readouterr().out
    # wrong flag refuses with exit 2, applying nothing
    assert main(["restore", meta, "t", "--snapshot", "5"]) == 2
    # iceberg twin
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
    di = str(tmp_path / "cli_rst_ice")
    os.makedirs(os.path.join(di, "data"))
    t = IcebergTable.create(di, [("k", "bigint")], now_ms=1000)
    p = os.path.join(di, "data", "f1.parquet")
    _pq.write_table(_pa.table({"k": _pa.array([1], _pa.int64())}), p)
    s1 = t.append([DataFile("data/f1.parquet", {}, 1,
                            os.path.getsize(p))], now_ms=2000)
    p2 = os.path.join(di, "data", "f2.parquet")
    _pq.write_table(_pa.table({"k": _pa.array([2], _pa.int64())}), p2)
    t.append([DataFile("data/f2.parquet", {}, 1,
                       os.path.getsize(p2))], now_ms=3000)
    assert main(["register", meta, "ti", di, "--format", "iceberg"]) == 0
    assert main(["restore", meta, "ti", "--snapshot", str(s1)]) == 0
    assert f"rolled back to snapshot {s1}" in capsys.readouterr().out
    assert [f.path.rsplit("/", 1)[-1] for f in t.files()] == ["f1.parquet"]
    assert main(["restore", meta, "ti", "--version", "1"]) == 2


def test_read_changes_unpaired_readd_emits_dv_diff(spark, tmp_path):
    """A last-writer-wins re-add of a LIVE path with no paired remove
    (spec-legal; RESTORE used to emit it, lax writers still can) must
    surface as the DV diff — the file's rows were already reported as
    inserts when it first went live, so a whole-file re-insert would
    double-count every surviving row."""
    d, log = _mk_table(tmp_path, "cdf_readd")
    _write_file(d, "a.parquet", {"k": [1, 2, 3], "v": [10, 20, 30]})
    log.commit(0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    # grow a DV the paired way (delete k=2), then shrink it via an
    # UNPAIRED re-add of the version-0 action (no remove in the commit)
    log.delete_where(spark, {"k": (2, 2)}, now_ms=1000)
    v0_add = dict(log.snapshot(0).live["a.parquet"])
    v0_add["dataChange"] = True
    log.commit(log.latest_version() + 1, [{"add": v0_add}])
    cdf = log.read_changes(spark, 0).select(
        "k", "v", "_change_type", "_commit_version").collect()
    by_ver = {}
    for r in cdf:
        by_ver.setdefault(r._commit_version, []).append(
            (r.k, r.v, r._change_type))
    assert sorted(by_ver[0]) == [(1, 10, "insert"), (2, 20, "insert"),
                                 (3, 30, "insert")]
    assert by_ver[1] == [(2, 20, "delete")]
    # the shrink UN-deletes exactly the covered position — 1 row, not 3
    assert by_ver[2] == [(2, 20, "insert")]


def test_restore_by_timestamp(tmp_path):
    """RESTORE TO TIMESTAMP resolves over commitInfo timestamps, with
    commitInfo-less commits inheriting their predecessor's (monotone
    mapping over lax writers)."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"commitInfo": {"timestamp": 1000}},
                   {"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    # v1 has NO commitInfo: inherits t=1000
    log.commit(1, [log.add_action_for("b.parquet")])
    log.commit(2, [{"commitInfo": {"timestamp": 3000}},
                   {"remove": {"path": "a.parquet",
                               "dataChange": True}}])
    assert log.version_at(1000) == 1  # v1 inherited 1000
    assert log.version_at(2999) == 1
    assert log.version_at(99999) == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        log.version_at(500)
    res = log.restore(timestamp_ms=2999, now_ms=5000)
    assert log.snapshot().files == ["a.parquet", "b.parquet"]
    assert res["files_added"] == 1
    with pytest.raises(ValueError, match="version OR timestamp"):
        log.restore(1, timestamp_ms=2999)
    with pytest.raises(ValueError, match="version OR timestamp"):
        log.restore()


def test_cli_restore_by_timestamp(spark, tmp_path, capsys):
    from hadoop_sync_spark.__main__ import main

    meta = str(tmp_path / "meta_rst_ts")
    d, log = _mk_table(tmp_path, "cli_rst_ts")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    log.commit(0, [{"commitInfo": {"timestamp": 1000}},
                   {"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [{"commitInfo": {"timestamp": 2000}},
                   log.add_action_for("b.parquet")])
    assert main(["register", meta, "t", d, "--format", "delta"]) == 0
    assert main(["restore", meta, "t", "--timestamp", "1500"]) == 0
    assert "restored to timestamp 1500" in capsys.readouterr().out
    assert log.snapshot().files == ["a.parquet"]
    # both flags at once refuses
    assert main(["restore", meta, "t", "--version", "0",
                 "--timestamp", "1500"]) == 2


def test_all_null_partition_values_read(spark, tmp_path):
    """Every surviving file holding a NULL partition value (Hive's
    default-partition case) must read, not crash type inference — the
    attach map's explicit StringType pins the all-null column."""
    d, log = _mk_table(tmp_path, "nullpart")
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "long", "nullable": True, "metadata": {}},
    ]})
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["p"], "configuration": {}}},
        log.add_action_for("a.parquet", partitionValues={"p": None}),
    ])
    got = [tuple(r) for r in log.read(spark).collect()]
    assert got == [(1, 10, None)]


def test_version_at_clamps_clock_skew(tmp_path):
    """A commit stamped EARLIER than its predecessor (writer clock
    skew) clamps up to it — otherwise TIMESTAMP-AS-OF would resolve a
    state containing changes committed after the requested instant
    (second review pass)."""
    d, log = _mk_table(tmp_path)
    _write_file(d, "a.parquet", {"k": [1], "v": [10]})
    _write_file(d, "b.parquet", {"k": [2], "v": [20]})
    _write_file(d, "c.parquet", {"k": [3], "v": [30]})
    log.commit(0, [{"commitInfo": {"timestamp": 1000}},
                   {"protocol": {"minReaderVersion": 1}}, _meta(),
                   log.add_action_for("a.parquet")])
    log.commit(1, [{"commitInfo": {"timestamp": 5000}},
                   log.add_action_for("b.parquet")])
    # skewed: stamped 2000 but committed after the 5000 commit
    log.commit(2, [{"commitInfo": {"timestamp": 2000}},
                   log.add_action_for("c.parquet")])
    assert log.version_at(3000) == 0  # NOT 2 — v1's state is newer
    assert log.version_at(5000) == 2  # clamp makes v2 resolve at 5000


# ------------------------------------------ one resolver, one read path
def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_compact_id_mode_keeps_incumbent_footer_names(spark, tmp_path):
    """id-mode compaction writes under the names the footers already
    carry (col-zzz/col-qqq here, while the metadata says
    col-aaa/col-bbb), like every other write face.  A rewrite under the
    metadata names read back as nulls: the reader resolves the names
    from the first footer."""
    d, log = _mk_table(tmp_path, "cm_id_compact")
    names = {"col_k": "col-zzz", "col_v": "col-qqq", "ids": (1, 2)}
    n = 5000
    _write_phys(d, "a_big.parquet", list(range(n)),
                [f"r{i}" for i in range(n)], **names)
    _write_phys(d, "b.parquet", [n], ["b"], **names)
    _write_phys(d, "c.parquet", [n + 1], ["c"], **names)
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   _mapped_meta("id"),
                   *[log.add_action_for(f)
                     for f in ("a_big.parquet", "b.parquet", "c.parquet")]])
    before = _rows(log.read(spark))
    assert sum(before.values()) == n + 2
    res = log.compact(
        spark, target_bytes=os.path.getsize(os.path.join(d, "a_big.parquet"))
    )
    assert res["files_in"] == 2
    assert _rows(log.read(spark)) == before


@pytest.mark.parametrize("dv", [False, True], ids=["no_dv", "dv"])
@pytest.mark.parametrize("partitioned", [False, True],
                         ids=["flat", "partitioned"])
@pytest.mark.parametrize("mode", ["none", "name", "id"])
def test_read_path_parity(spark, tmp_path, mode, partitioned, dv):
    """read(), read_changes(0) and read() after compact equal a pyarrow
    model of the live rows under every mapping mode, with and without
    partition columns and deletion vectors: every shape takes the one
    read body (pinned scan, partition attach, vector anti-join, logical
    projection)."""
    d, log = _mk_table(tmp_path, f"parity_{mode}")
    if mode == "none":
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        names = {"col_k": "k", "col_v": "v"}
        pkey = "p"
    else:
        proto = {"minReaderVersion": 2, "minWriterVersion": 5}
        names = {"ids": (1, 2) if mode == "id" else None}
        pkey = "col-ccc"
    files = {"a.parquet": ([1, 2, 3], 0), "b.parquet": ([4, 5], 0),
             "c.parquet": ([6], 1), "d.parquet": ([7, 8], 1)}
    actions = [{"protocol": proto}, _mapped_meta(mode, part=partitioned)]
    model = {}
    for rel, (ks, p) in files.items():
        _write_phys(d, rel, ks, [f"v{k}" for k in ks], **names)
        actions.append(log.add_action_for(
            rel, partitionValues={pkey: str(p)} if partitioned else {}
        ))
        for pos, k in enumerate(ks):
            model[(rel, pos)] = (k, f"v{k}") + ((p,) if partitioned else ())
    log.commit(0, actions)
    changes = Counter(row + ("insert", 0) for row in model.values())
    if dv:
        log.add_deletion_vector(1, "a.parquet", [0, 2])
        for pos in (0, 2):
            changes[model.pop(("a.parquet", pos)) + ("delete", 1)] += 1
    live = Counter(model.values())
    assert _rows(log.read(spark)) == live
    assert _rows(log.read_changes(spark, 0)) == changes
    assert log.compact(spark)["files_out"] == (2 if partitioned else 1)
    assert _rows(log.read(spark)) == live
    # compaction is dataChange=false: the feed does not move
    assert _rows(log.read_changes(spark, 0)) == changes


@pytest.mark.parametrize("mode", ["none", "name"])
def test_non_null_nested_types_read_and_feed(spark, tmp_path, mode):
    """A logged ``array<long>`` with ``containsNull: false`` reads and
    feeds: the pinned scan already carries the logical types, so the
    logical projection renames data columns without a cast (Spark
    cannot cast a nullable element type to a non-nullable one)."""
    d, log = _mk_table(tmp_path, f"nested_{mode}")
    col = "a" if mode == "none" else "col-arr"
    pq.write_table(pa.table({col: pa.array([[1], [2, 3]],
                                           pa.list_(pa.int64()))}),
                   os.path.join(d, "x.parquet"))
    arr = {"type": "array", "elementType": "long", "containsNull": False}
    meta = {"metaData": {
        "id": "t", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "a", "type": arr, "nullable": True, "metadata": (
                {} if mode == "none" else
                {"delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": col})}]}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": mode},
    }}
    log.commit(0, [{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}},
                   meta, log.add_action_for("x.parquet")])
    assert sorted(r.a for r in log.read(spark).collect()) == [[1], [2, 3]]
    assert sorted((r.a, r._change_type)
                  for r in log.read_changes(spark, 0).collect()) == [
        ([1], "insert"), ([2, 3], "insert")]


# -------------------------------------------------------------- CI guard
_PACKAGE = Path(__file__).resolve().parent.parent / "hadoop_sync_spark"
_MAPPING_KEYS = {"delta.columnMapping.physicalName", "delta.columnMapping.id"}
_FIELD_ID_READERS = {("delta_log.py", "DeltaLog._resolve_physical"),
                     ("cdc_source.py", "_CDCStreamReader.read")}


def _nodes(node, scope=""):
    """Every node under ``node`` with its enclosing ``Class.function``
    and whether it is a dict-literal key (a write, not a read)."""
    for child in ast.iter_child_nodes(node):
        inner = scope
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
            inner = f"{scope}.{child.name}" if scope else child.name
        is_key = isinstance(node, ast.Dict) and any(
            child is k for k in node.keys)
        yield child, scope, is_key
        yield from _nodes(child, inner)


def test_delta_mapping_and_scan_have_one_home():
    """Column-mapping metadata is read only by ``_column_mapping``
    (``add_column`` may still write it), footer field ids only by
    ``_resolve_physical`` and the change-feed source's executor-side
    read, ``delta_log.py`` builds a pinned scan only in ``_scan``, and
    no module sets Spark's field-id write switch (on by default, and
    the write faces rely on it)."""
    bad = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node, scope, is_key in _nodes(tree):
            where = (path.name, scope)
            site = (f"{path.relative_to(_PACKAGE.parent)}:"
                    f"{getattr(node, 'lineno', '?')} in {scope or 'module'}")
            if isinstance(node, ast.Constant):
                v = node.value
                if (v in _MAPPING_KEYS and not is_key
                        and where != ("delta_log.py", "_column_mapping")):
                    bad.append(f"{site}: reads {v}")
                if (v in ("PARQUET:field_id", b"PARQUET:field_id")
                        and where not in _FIELD_ID_READERS):
                    bad.append(f"{site}: reads footer field ids")
                if v == "spark.sql.parquet.fieldId.write.enabled":
                    bad.append(f"{site}: names the field-id write conf")
            if (path.name == "delta_log.py"
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "schema"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "read"
                    and scope != "DeltaLog._scan"):
                bad.append(f"{site}: spark.read.schema outside _scan")
    assert not bad, bad


def _names_commit_file(node) -> bool:
    """``node`` builds a commit file's path: a ``_commit_path(...)``
    call, or the ``f"{v:020d}.json"`` name spelt out."""
    if isinstance(node, ast.Call):
        return (isinstance(node.func, ast.Name)
                and node.func.id == "_commit_path")
    if not isinstance(node, ast.JoinedStr):
        return False
    parts = node.values
    return any(
        isinstance(a, ast.FormattedValue) and a.format_spec is not None
        and ast.unparse(a.format_spec) == "f'020d'"
        and isinstance(b, ast.Constant) and b.value == ".json"
        for a, b in zip(parts, parts[1:]))


def test_delta_commit_files_have_one_reader():
    """Only ``DeltaLog._commit_actions`` opens and parses commit files:
    snapshot replay, ``version_at``, ``history``, the change planner
    and the ``delta_cdc`` stream all read commits through it.  Any
    other function that builds a commit file's path (the writers, and
    ``history`` for its mtime) neither opens nor parses in its body."""
    names, parses = {}, set()
    for name in ("delta_log.py", "cdc_source.py"):
        path = _PACKAGE / name
        tree = ast.parse(path.read_text(), filename=str(path))
        for node, scope, _ in _nodes(tree):
            if _names_commit_file(node):
                names.setdefault((name, scope), node.lineno)
            fn = getattr(node, "func", None)
            if ((isinstance(fn, ast.Name) and fn.id == "open")
                    or (isinstance(fn, ast.Attribute)
                        and fn.attr == "loads")):
                parses.add((name, scope))
    bad = [f"{name}:{line} in {scope}"
           for (name, scope), line in sorted(names.items())
           if scope != "DeltaLog._commit_actions"
           and (name, scope) in parses]
    assert names and not bad, (
        "read commit files through DeltaLog._commit_actions: "
        + ", ".join(bad))
