"""The one commit primitive (``hadoop_sync_spark.commit``) and the base
rule every registry, Delta and Iceberg write face follows: read the base
once, derive the version and every version-named file from it, check
base + 1 is free before the first file write, commit put-if-absent at
base + 1.

The two-writer tests force the interleaving: writer B runs to completion
inside writer A, after A has read its base and before A writes anything.
A must lose with ``CommitConflict``, B's committed files must be
untouched, and A's retry must commit exactly once on top of B."""

from __future__ import annotations

import ast
import os
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_sync_spark import commit as commit_mod
from hadoop_sync_spark.commit import CommitConflict, put_if_absent
from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable
from hadoop_sync_spark.registry import Registry

PACKAGE = Path(__file__).resolve().parent.parent / "hadoop_sync_spark"


def _run_inside(obj, method, other, before=False):
    """Make ``obj.method`` run ``other()`` once, right after its first
    call returns (or right before it, with ``before``) — the forced
    interleaving."""
    orig = getattr(obj, method)
    fired = []

    def hooked(*a, **k):
        if before and not fired:
            fired.append(1)
            other()
        out = orig(*a, **k)
        if not fired:
            fired.append(1)
            other()
        return out

    setattr(obj, method, hooked)


def _tree_bytes(root) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _unchanged(before: dict, root) -> bool:
    after = _tree_bytes(root)
    return all(after.get(p) == b for p, b in before.items())


# ------------------------------------------------------------- primitive

def _race(n, fn):
    barrier = threading.Barrier(n)
    wins, losses = [], []

    def run(i):
        barrier.wait()
        try:
            fn(i)
            wins.append(i)
        except FileExistsError:
            losses.append(i)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return wins, losses


def test_put_if_absent_sixteen_writers(tmp_path):
    path = str(tmp_path / "v1.json")
    wins, losses = _race(
        16, lambda i: put_if_absent(path, f"writer {i}\n".encode() * 1000)
    )
    assert len(wins) == 1 and len(losses) == 15
    with open(path, "rb") as fh:
        assert fh.read() == f"writer {wins[0]}\n".encode() * 1000
    assert os.listdir(tmp_path) == ["v1.json"]  # no temp file left


def test_delta_commit_sixteen_writers(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    wins, _ = _race(
        16, lambda i: log.commit(1, [{"commitInfo": {"writer": i}}] * 50)
    )
    assert len(wins) == 1
    assert log.versions() == [1]
    with open(os.path.join(log.log_dir, f"{1:020d}.json")) as fh:
        lines = fh.read().splitlines()
    assert lines == [f'{{"commitInfo":{{"writer":{wins[0]}}}}}'] * 50


# ------------------------------------------------------------------ Delta

def _delta_table(tmp_path):
    d = str(tmp_path / "delta")
    os.makedirs(d)
    pq.write_table(
        pa.table({"k": pa.array(range(10), pa.int64()),
                  "v": pa.array([10 * k for k in range(10)], pa.int64())}),
        os.path.join(d, "part-0.parquet"),
    )
    schema = ('{"type":"struct","fields":['
              '{"name":"k","type":"long","nullable":true,"metadata":{}},'
              '{"name":"v","type":"long","nullable":true,"metadata":{}}]}')
    log = DeltaLog(d)
    log.commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}}},
        log.add_action_for("part-0.parquet"),
    ])
    return d, log


def test_delta_delete_where_loser_conflicts(spark, tmp_path):
    d, a = _delta_table(tmp_path)
    b = DeltaLog(d)
    won = {}

    def writer_b():
        won["version"] = b.delete_where(spark, {"k": (5, 5)})["version"]
        won["files"] = _tree_bytes(d)

    _run_inside(a, "_match_pairs", writer_b)
    with pytest.raises(CommitConflict):
        a.delete_where(spark, {"k": (2, 2)})
    assert won["version"] == 1
    assert _unchanged(won["files"], d)
    assert a.delete_where(spark, {"k": (2, 2)})["version"] == 2
    assert a.versions() == [0, 1, 2]
    assert sorted(r.k for r in a.read(spark).collect()) == [
        0, 1, 3, 4, 6, 7, 8, 9]


def test_delta_add_column_loser_conflicts(tmp_path):
    d, a = _delta_table(tmp_path)
    b = DeltaLog(d)
    _run_inside(a, "snapshot", lambda: b.add_column("c2", "long"))
    with pytest.raises(CommitConflict):
        a.add_column("c1", "long")
    a.add_column("c1", "long")
    assert a.versions() == [0, 1, 2]
    assert [f.name for f in a.snapshot().schema().fields] == [
        "k", "v", "c2", "c1"]


# ---------------------------------------------------------------- Iceberg

def _iceberg_table(tmp_path):
    d = str(tmp_path / "ice")
    os.makedirs(os.path.join(d, "data"))

    def write(name, ids):
        p = os.path.join(d, "data", name)
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "val": pa.array([f"v{i}" for i in ids], pa.string()),
        }), p)
        return DataFile(path=f"data/{name}", partition={},
                        record_count=len(ids), file_size=os.path.getsize(p))

    t = IcebergTable.create(d, [("id", "bigint"), ("val", "string")],
                            now_ms=1000)
    return d, t, write


def test_iceberg_add_column_loser_conflicts(tmp_path):
    d, a, _ = _iceberg_table(tmp_path)
    b = IcebergTable(d)
    _run_inside(a, "metadata", lambda: b.add_column("c2", "bigint"))
    with pytest.raises(CommitConflict):
        a.add_column("c1", "bigint")
    a.add_column("c1", "bigint")
    assert a.current_version() == 3
    meta = a.metadata()
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    assert [f["name"] for f in cur["fields"]] == ["id", "val", "c2", "c1"]


def test_iceberg_update_rows_loser_conflicts(spark, tmp_path):
    d, a, write = _iceberg_table(tmp_path)
    a.append([write("f1.parquet", [1, 2, 3])], now_ms=2000)
    b = IcebergTable(d)
    won = {}

    def writer_b():
        won["n"] = b.update_rows(spark, {"id": (2, 2)}, {"val": "b"},
                                 now_ms=3000)
        won["files"] = _tree_bytes(d)

    _run_inside(a, "_match_pairs", writer_b)
    with pytest.raises(CommitConflict):
        a.update_rows(spark, {"id": (2, 2)}, {"val": "a"}, now_ms=4000)
    assert won["n"] == 1
    assert _unchanged(won["files"], d)
    v = a.current_version()
    assert a.update_rows(spark, {"id": (2, 2)}, {"val": "a"},
                         now_ms=4000) == 1
    assert a.current_version() == v + 1
    assert sorted((r.id, r.val) for r in a.read(spark).collect()) == [
        (1, "v1"), (2, "a"), (3, "v3")]


def test_iceberg_crash_before_hint_does_not_wedge(tmp_path, monkeypatch):
    """A committer that dies between ``v{N+1}.metadata.json`` and the
    version hint leaves a complete, committed version: readers find it
    by probing past the hint, and the next write commits after it."""
    d, t, write = _iceberg_table(tmp_path)
    t.append([write("f1.parquet", [1])], now_ms=2000)
    real_replace = os.replace

    def crash(src, dst, *a, **k):
        if str(dst).endswith("version-hint.text"):
            raise OSError("crash before the version hint")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="version hint"):
        t.append([write("f2.parquet", [2])], now_ms=3000)
    monkeypatch.undo()
    reader = IcebergTable(d)
    assert reader.current_version() == 3
    assert sorted(f.raw_path for f in reader.files()) == [
        "data/f1.parquet", "data/f2.parquet"]
    t.append([write("f3.parquet", [3])], now_ms=4000)
    assert reader.current_version() == 4
    assert len(reader.files()) == 3


# ------------------------------------------------------ Delta checkpoint

class _TornOs:
    """``os`` as the commit module sees it, except that ``write`` stores
    half of its bytes and then crashes."""

    def __getattr__(self, name):
        return getattr(os, name)

    @staticmethod
    def write(fd, data):
        os.write(fd, bytes(data[: len(data) // 2]))
        raise OSError("crash inside the byte write")


@pytest.mark.parametrize("where", ["parquet_writer", "file_write"])
def test_torn_checkpoint_leaves_table_readable(tmp_path, monkeypatch,
                                               where):
    d, log = _delta_table(tmp_path)
    log.commit(1, [{"commitInfo": {"operation": "WRITE"}}])
    if where == "parquet_writer":
        real = pq.write_table

        def torn(table, sink, *a, **k):
            buf = pa.BufferOutputStream()
            real(table, buf, *a, **k)
            data = buf.getvalue().to_pybytes()
            if isinstance(sink, str):
                with open(sink, "wb") as fh:
                    fh.write(data[: len(data) // 2])
            else:
                sink.write(data[: len(data) // 2])
            raise OSError("crash inside the byte write")

        monkeypatch.setattr(pq, "write_table", torn)
    else:
        monkeypatch.setattr(commit_mod, "os", _TornOs())
    with pytest.raises(OSError, match="byte write"):
        log.write_checkpoint()
    monkeypatch.undo()
    assert sorted(log.snapshot().files) == ["part-0.parquet"]
    log.commit(2, [{"commitInfo": {"operation": "WRITE"}}])
    assert log.snapshot().version == 2
    log.write_checkpoint()
    assert sorted(DeltaLog(d).snapshot().files) == ["part-0.parquet"]


# --------------------------------------------------------------- registry

def _land(dir_path, name, n):
    pq.write_table(pa.table({"id": pa.array(range(n), pa.int64())}),
                   os.path.join(dir_path, name))


def _catalog(reg, name):
    return sorted(s["path"] for s in reg.shards(name))


def test_registry_two_table_sync_loser_conflicts(tmp_path):
    meta = str(tmp_path / "meta")
    dirs = {t: str(tmp_path / t) for t in ("ta", "tb")}
    a, b = Registry(None, meta), Registry(None, meta)
    for t, p in dirs.items():
        os.makedirs(p)
        _land(p, "f0.parquet", 3)
        a.register(t, p)
        a.sync(t)
    _land(dirs["ta"], "f1.parquet", 4)
    _land(dirs["tb"], "f1.parquet", 5)
    won = {}

    def writer_b():
        won["version"] = b.sync("tb").version
        won["files"] = _tree_bytes(meta)

    _run_inside(a, "_publish", writer_b, before=True)
    with pytest.raises(CommitConflict):
        a.sync("ta")
    assert _unchanged(won["files"], meta)
    assert a.sync("ta").version == won["version"] + 1
    for t, p in dirs.items():
        assert _catalog(a, t) == [os.path.join(p, f"f{i}.parquet")
                                  for i in (0, 1)]
        assert a.diff(t).empty


def test_registry_threaded_land_and_sync_equals_serial_model(tmp_path):
    """Spark-free: 4 threads x 2 tables x 5 rounds of land-and-sync,
    each sync retried on CommitConflict or a busy lock.  The final
    catalog holds exactly the landed files, and every catalog version
    after a sync that returned still holds that sync's file — no
    publish was silently overwritten."""
    meta = str(tmp_path / "meta")
    reg = Registry(None, meta)
    dirs = {}
    for j in range(2):
        dirs[f"t{j}"] = str(tmp_path / f"t{j}")
        os.makedirs(dirs[f"t{j}"])
        reg.register(f"t{j}", dirs[f"t{j}"])
    errors, synced = [], []

    def worker(i):
        r = Registry(None, meta)
        try:
            for rnd in range(5):
                for name, p in dirs.items():
                    _land(p, f"w{i}-r{rnd}.parquet", i + rnd + 1)
                    for _ in range(500):
                        try:
                            v = r.sync(name).version
                            synced.append((v, name, f"w{i}-r{rnd}.parquet"))
                            break
                        except (CommitConflict, RuntimeError):
                            time.sleep(0.002)
                    else:
                        raise AssertionError("sync never committed")
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    live = {v: {(s["table_name"], os.path.basename(s["path"]))
                for s in reg.shards(version=v)} for v in reg.versions()}
    lost = [(f, v, later) for v, name, f in synced
            for later in live if later >= v and (name, f) not in live[later]]
    assert not lost, lost[:5]
    for name, p in dirs.items():
        assert _catalog(reg, name) == sorted(
            os.path.join(p, f"w{i}-r{rnd}.parquet")
            for i in range(4) for rnd in range(5)
        )
        assert reg.diff(name).empty


# -------------------------------------------------------------- CI guard

#: ``os.replace`` sites that move a Spark part file into place — data
#: files, not version files: (file, enclosing function)
REPLACE_ALLOWED = {
    ("io.py", "write_parquet"),
    ("registry.py", "_apply_compaction"),
}
_FORBIDDEN = {"rename", "O_EXCL", "link", "fsync", "replace"}


def _os_uses(node, fn=None):
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _os_uses(child, child.name)
            continue
        if (isinstance(child, ast.Attribute)
                and isinstance(child.value, ast.Name)
                and child.value.id == "os" and child.attr in _FORBIDDEN):
            yield child, child.attr, fn
        if isinstance(child, ast.ImportFrom) and child.module == "os":
            for alias in child.names:
                if alias.name in _FORBIDDEN:
                    yield child, alias.name, fn
        yield from _os_uses(child, fn)


def test_version_files_commit_only_through_commit_module():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "commit.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node, attr, fn in _os_uses(tree):
            if attr == "replace" and (path.name, fn) in REPLACE_ALLOWED:
                continue
            bad.append(f"{path.relative_to(PACKAGE.parent)}:"
                       f"{node.lineno} os.{attr} in {fn}()")
    assert not bad, (
        "write version files through hadoop_sync_spark.commit "
        "(put_if_absent / replace_file): " + ", ".join(bad))
