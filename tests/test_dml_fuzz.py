"""Model-checking fuzz of the round-11 DML/MERGE/CDC faces.

The unit suites pin each face's contract pairwise; what they cannot
cover is the INTERACTION space — a deletion vector grown by delete,
grown again by an update whose copies are then matched by a merge,
an add_column landing mid-sequence so later predicates hit null-filled
pre-DDL files, everything compacted away and read back through a
checkpoint seed.  This harness runs seeded random op sequences
(append / delete_where / update_where / merge_upsert / add_column /
compact / checkpoint) against BOTH format twins (DeltaLog +
IcebergTable) and checks, after EVERY op, that both tables read back
exactly a pure-Python model's rows — and therefore also agree with
each other.  At sequence end it replays Delta's log-derived change
feed (read_changes) from version 0 and asserts the composed
inserts/deletes reproduce the final state with no negative multiset
at any commit (read_changes pins the END snapshot's schema, so
pre-DDL rows null-fill consistently on both sides of the replay),
drains the ``delta_cdc`` stream over the same log and asserts it
equals read_changes over the same range as a multiset, and
it time-travels both formats to sampled historical versions/snapshots
against the model's recorded states, projected to the columns that
existed at that point.

Sequence legality mirrors the documented refusal contracts so every
emitted op must SUCCEED on both twins (refusal paths are unit-tested
elsewhere): first op is an append (empty-table reads are pinned by
their own tests), and once a merge lands no more updates are emitted
— Iceberg's update_rows refuses while equality deletes are live, by
design.  NULLs enter the tables only the organic way (pre-DDL files
null-filling an added column); appends and merge sources stay
non-null, and SQL NULL semantics are modeled (a NULL never matches a
range predicate, NULL + x stays NULL).  Failures reproduce from the
printed seed alone.

The first run of the first version of this fuzzer caught a real bug:
a protocol committed without minWriterVersion round-tripped through
the parquet checkpoint's nullable struct as an explicit None and
crashed every later DV-writing face on checkpoint-seeded snapshots
(fixed in delta_log._strip_checkpoint_nulls).
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hadoop_sync_spark.cdc_source import DeltaCDCStreamSource
from hadoop_sync_spark.delta_log import DeltaLog
from hadoop_sync_spark.iceberg_meta import (
    DataFile,
    IcebergTable,
    parquet_column_bounds,
)

K_MAX = 30
V_MAX = 400


def _nsort(rows):
    """None-safe multiset sort: tuples mixing None (null-filled pre-DDL
    cells) and ints crash plain sorted() on ties."""
    return sorted(
        rows,
        key=lambda r: tuple(
            (v is None, 0 if v is None else v) for v in r
        ),
    )


P_MAX = 3


def _delta_schema_json(mapped: bool, partitioned: bool) -> str:
    def fld(name, fid, pn, typ="long"):
        md = (
            {"delta.columnMapping.id": fid,
             "delta.columnMapping.physicalName": pn}
            if mapped
            else {}
        )
        return {"name": name, "type": typ, "nullable": True,
                "metadata": md}

    fields = [fld("k", 1, "col-kkk"), fld("v", 2, "col-vvv")]
    if partitioned:
        fields.append(fld("p", 3, "col-ppp"))
    return json.dumps({"type": "struct", "fields": fields})


class DeltaHarness:
    """Drives a (possibly name-mapped, possibly identity-partitioned
    on ``p``) Delta table.  Partition values live in the logged
    ``add.partitionValues`` only — data files never carry ``p``,
    the protocol's own layout."""

    def __init__(self, spark, table_dir: str, mapped: bool,
                 partitioned: bool = False, cdf: bool = False):
        self.spark = spark
        self.d = table_dir
        self.mapped = mapped
        self.partitioned = partitioned
        os.makedirs(table_dir)
        self.log = DeltaLog(table_dir)
        conf = (
            {"delta.columnMapping.mode": "name",
             "delta.columnMapping.maxColumnId": "3"}
            if mapped
            else {}
        )
        if cdf:
            # round 12: the DML faces then WRITE _change_data files and
            # the end-of-run CDF replay consumes them instead of
            # deriving — running the same model check over both paths
            conf = dict(conf)
            conf["delta.enableChangeDataFeed"] = "true"
        # legacy version-number forms on purpose (feature lists exist
        # only at reader 3 / writer 7): the DV faces must upgrade them
        proto = (
            {"minReaderVersion": 2, "minWriterVersion": 5}
            if mapped
            else {"minReaderVersion": 1}
        )
        self.log.commit(0, [
            {"protocol": proto},
            {"metaData": {
                "id": "fz", "format": {"provider": "parquet",
                                       "options": {}},
                "schemaString": _delta_schema_json(mapped, partitioned),
                "partitionColumns": ["p"] if partitioned else [],
                "configuration": conf,
            }},
        ])
        self.n_files = 0

    def _phys(self) -> dict[str, str]:
        fields = json.loads(self.log.snapshot().schema_json)["fields"]
        return {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in fields
        }

    def append(self, rows, cols, now):
        phys = self._phys()
        data_cols = [c for c in cols if c != "p"]
        groups: dict[object, list] = {}
        if self.partitioned:
            jp = cols.index("p")
            for r in rows:
                groups.setdefault(r[jp], []).append(r)
        else:
            groups[None] = list(rows)
        actions = [
            {"commitInfo": {"timestamp": now, "operation": "WRITE"}}
        ]
        for pv in sorted(groups):
            rel = f"fz-{self.n_files:04d}.parquet"
            self.n_files += 1
            grp = groups[pv]
            pq.write_table(
                pa.table({
                    phys[c]: pa.array(
                        [r[cols.index(c)] for r in grp], pa.int64()
                    )
                    for c in data_cols
                }),
                os.path.join(self.d, rel),
            )
            extra = {}
            if self.partitioned:
                # partitionValues keys are PHYSICAL names under mapping
                extra["partitionValues"] = {phys["p"]: str(pv)}
            actions.append(self.log.add_action_for(rel, **extra))
        self.log.commit(self.log.latest_version() + 1, actions)

    def delete(self, col, lo, hi, now):
        self.log.delete_where(self.spark, {col: (lo, hi)}, now_ms=now)

    def update(self, col, lo, hi, set_col, set_expr, now):
        self.log.update_where(
            self.spark, {col: (lo, hi)}, {set_col: set_expr},
            now_ms=now,
        )

    def merge(self, batch, cols, now):
        schema = ", ".join(f"{c} long" for c in cols)
        src = self.spark.createDataFrame(batch, schema)
        self.log.merge_upsert(self.spark, src, "k", now_ms=now)

    def add_column(self, name, now):
        self.log.add_column(name, "long", now_ms=now)

    def rename_column(self, old, new, now):
        self.log.rename_column(old, new, now_ms=now)

    def drop_column(self, name, now):
        self.log.drop_column(name, now_ms=now)

    def compact(self, now):
        self.log.compact(self.spark)

    def maintain(self, now):
        # full production maintenance: checkpoint the head, expire the
        # commit JSONs it captures, reclaim unreferenced data/DV files.
        # Time travel below the checkpoint is gone BY DESIGN after this.
        self.log.write_checkpoint()
        self.log.expire_log()
        self.log.vacuum()

    def checkpoint(self, kind="v1", sidecars=1):
        if kind == "v2":
            # commits the v2Checkpoint protocol upgrade at head when
            # missing (one protocol-only commit), then seeds every
            # later read through the v2 layout
            self.log.write_checkpoint_v2(sidecars=sidecars)
        else:
            self.log.write_checkpoint()

    def version(self) -> int:
        return self.log.latest_version()

    def rows(self, cols, version=None):
        df = self.log.read(self.spark, version).select(*cols)
        return _nsort(tuple(r[c] for c in cols)
                      for r in df.collect())


class IcebergHarness:
    """Drives an Iceberg v2 table, optionally identity-partitioned on
    ``p`` (bounds stamped on appends so delete_rows' manifest pruning
    layer is live; partition values live in the manifests only — data
    files never carry ``p``, production Iceberg's own layout)."""

    def __init__(self, spark, table_dir: str, partitioned: bool = False,
                 bucket: bool = False):
        self.spark = spark
        self.d = table_dir
        self.partitioned = partitioned
        os.makedirs(os.path.join(table_dir, "data"))
        fields = [("k", "bigint"), ("v", "bigint")]
        if partitioned:
            fields.append(("p", "bigint"))
        #: bucket twin (round 13): the DEFAULT spec is bucket[2](p) —
        #: ``p`` stays a DATA column (transforms are lossy), appends
        #: stamp the murmur3 bucket into the manifest tuple, and the
        #: merge/stream write faces re-derive it per source row
        self.bucket_n = 2 if bucket else None
        part_by = None
        if bucket:
            assert partitioned, "bucket twin needs the p column"
            part_by = [("p", "int", f"bucket[{self.bucket_n}]")]
        elif partitioned:
            part_by = [("p", "long")]
        self.t = IcebergTable.create(
            table_dir, fields, partition_by=part_by, now_ms=1,
        )
        #: the identity column appends currently record in METADATA
        #: (and exclude from data files) — "p" from creation, or the
        #: evolve op's column once a spec evolution lands
        self.part_key = "p" if (partitioned and not bucket) else None
        self.n_files = 0

    def _fields(self):
        meta = self.t.metadata()
        sid = meta.get("current-schema-id", 0)
        return next(
            s for s in meta["schemas"] if s.get("schema-id") == sid
        )["fields"]

    def append(self, rows, cols, now):
        if self.bucket_n:
            return self._append_bucket(rows, cols, now)
        data_cols = [c for c in cols if c != self.part_key]
        groups: dict[object, list] = {}
        if self.part_key is not None:
            jp = cols.index(self.part_key)
            for r in rows:
                groups.setdefault(r[jp], []).append(r)
        else:
            groups[None] = list(rows)
        files = []
        for pv in sorted(groups):
            name = f"data/fz-{self.n_files:04d}.parquet"
            self.n_files += 1
            p = os.path.join(self.d, name)
            grp = groups[pv]
            pq.write_table(
                pa.table({
                    c: pa.array(
                        [r[cols.index(c)] for r in grp], pa.int64()
                    )
                    for c in data_cols
                }),
                p,
            )
            lb, ub = parquet_column_bounds(p, self._fields())
            files.append(
                DataFile(name,
                         {self.part_key: pv}
                         if self.part_key is not None else {},
                         len(grp), os.path.getsize(p),
                         lower_bounds=lb, upper_bounds=ub)
            )
        self.t.append(files, now_ms=now)

    def _append_bucket(self, rows, cols, now):
        """External-writer append under the bucket spec: one file per
        occupied murmur3 bucket, ALL columns in the data (the source
        column included), tuple stamped with the transform value — what
        a conforming bucket-partitioned writer produces."""
        from hadoop_sync_spark.iceberg_meta import transform_value

        jp = cols.index("p")
        tr = f"bucket[{self.bucket_n}]"
        groups: dict[object, list] = {}
        for r in rows:
            groups.setdefault(transform_value(tr, r[jp]), []).append(r)
        files = []
        for bv in sorted(groups, key=lambda x: (x is None, x or 0)):
            name = f"data/fz-{self.n_files:04d}.parquet"
            self.n_files += 1
            p = os.path.join(self.d, name)
            grp = groups[bv]
            pq.write_table(
                pa.table({
                    c: pa.array(
                        [r[cols.index(c)] for r in grp], pa.int64()
                    )
                    for c in cols
                }),
                p,
            )
            lb, ub = parquet_column_bounds(p, self._fields())
            files.append(
                DataFile(name, {"p_bucket": bv}, len(grp),
                         os.path.getsize(p),
                         lower_bounds=lb, upper_bounds=ub)
            )
        self.t.append(files, now_ms=now)

    def evolve(self, col, now):
        """Spec evolution: appends from here on record ``col`` in
        metadata and stop writing it into the data files — existing
        files keep it in data, the read composes both eras."""
        self.t.update_spec([(col, "long")], now_ms=now)
        self.part_key = col

    def delete(self, col, lo, hi, now):
        self.t.delete_rows(self.spark, {col: (lo, hi)}, now_ms=now)

    def update(self, col, lo, hi, set_col, set_expr, now):
        self.t.update_rows(
            self.spark, {col: (lo, hi)}, {set_col: set_expr},
            now_ms=now,
        )

    def merge(self, batch, cols, now):
        schema = ", ".join(f"{c} long" for c in cols)
        src = self.spark.createDataFrame(batch, schema)
        self.t.merge_upsert(self.spark, src, "k", now_ms=now)

    def add_column(self, name, now):
        self.t.add_column(name, "bigint", now_ms=now)

    def compact(self, now):
        self.t.compact(self.spark, now_ms=now)

    def maintain(self, now):
        # snapshot expiration + vacuum: only the current snapshot
        # survives; files referenced by no surviving snapshot reclaim
        self.t.expire_snapshots(keep_last=1, now_ms=now)
        self.t.vacuum()

    def rename_column(self, old, new, now):
        self.t.rename_column(old, new, now_ms=now)

    def drop_column(self, name, now):
        self.t.drop_column(name, now_ms=now)

    def checkpoint(self):
        pass  # no Delta-checkpoint analog in the op set

    def snapshot_id(self):
        return self.t.metadata().get("current-snapshot-id", -1)

    def rows(self, cols, snapshot_id=None):
        df = self.t.read(
            self.spark, snapshot_id=snapshot_id
        ).select(*cols)
        return _nsort(tuple(r[c] for c in cols)
                      for r in df.collect())


# ------------------------------------------------------------- the model
#
# Rows are tuples aligned with the sequence's current column list
# (always starting ["k", "v"]); add_column extends every existing row
# with None, exactly the null-fill pre-DDL files get on read.


def _matches(row, cols, col, lo, hi):
    x = row[cols.index(col)]
    if x is None:
        return False  # SQL: NULL fails every range predicate
    return (lo is None or x >= lo) and (hi is None or x <= hi)


def _model_delete(model, cols, col, lo, hi):
    return [r for r in model if not _matches(r, cols, col, lo, hi)]


def _model_update(model, cols, col, lo, hi, set_col, fn):
    j = cols.index(set_col)
    out = []
    for r in model:
        if _matches(r, cols, col, lo, hi):
            r = list(r)
            r[j] = fn(r)
            out.append(tuple(r))
        else:
            out.append(r)
    return out


def _model_merge(model, batch):
    keys = {b[0] for b in batch}
    return [r for r in model if r[0] not in keys] + [
        tuple(b) for b in batch
    ]


def _gen_sequence(rng: random.Random, n_ops: int, with_ddl: bool,
                  partitioned: bool = False,
                  with_rollback: bool = False,
                  partitioned_merge: bool = False,
                  with_stream: bool = False):
    """A legal op sequence over a growing column list.  Updates stop
    after the first merge (Iceberg's live-equality-delete refusal);
    at most two columns are added; appends and merge sources carry
    non-null values for every current column.  Partitioned sequences
    emit no merges unless ``partitioned_merge`` (round 12 lifted both
    formats' partitioned-merge refusal; the flag rather than the base
    layout keeps the CI-pinned partitioned seeds' sequences intact)
    and never put ``p`` in a predicate or SET (both formats guard
    partition columns).

    ``with_rollback`` adds a restore/rollback op drawn from its OWN
    probability slot (the base layout is untouched so the CI-pinned
    seeds keep their documented sequences): the runner restores both
    twins to a sampled earlier recorded state with the SAME column
    arity (Delta RESTORE re-commits old metaData, Iceberg rollback
    is pointer-only — cross-arity targets would make the twins
    legally diverge on schema) recorded since the last maintenance
    (expired history is not restorable, by design)."""
    cols = ["k", "v"] + (["p"] if partitioned else [])

    def span(col):
        if col == "k":
            return K_MAX
        return P_MAX if col == "p" else V_MAX

    def fresh_rows(n):
        return [tuple(rng.randrange(span(c)) for c in cols)
                for _ in range(n)]

    ops = [{"op": "append", "rows": fresh_rows(rng.randint(2, 6)),
            "cols": list(cols)}]
    merged = False
    n_added = 0
    while len(ops) < n_ops:
        roll = rng.random()
        if roll < 0.28:
            ops.append({"op": "append",
                        "rows": fresh_rows(rng.randint(1, 5)),
                        "cols": list(cols)})
        elif roll < 0.46:
            col = rng.choice([c for c in cols if c != "p"])
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 3)
            if rng.random() < 0.15:
                lo = None
            elif rng.random() < 0.15:
                hi = None
            ops.append({"op": "delete", "col": col, "lo": lo, "hi": hi,
                        "cols": list(cols)})
        elif roll < 0.62 and not merged:
            col = rng.choice([c for c in cols if c != "p"])
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 2)
            settable = [c for c in cols if c != col and c != "p"]
            set_col = rng.choice(settable or [col])
            kind = "lit" if rng.random() < 0.5 else "add"
            val = (rng.randrange(V_MAX) if kind == "lit"
                   else rng.randint(1, 50))
            ops.append({"op": "update", "col": col, "lo": lo, "hi": hi,
                        "set_col": set_col, "kind": kind, "val": val,
                        "cols": list(cols)})
        elif roll < 0.77 and (not partitioned or partitioned_merge):
            n = rng.randint(1, 5)
            ks = rng.sample(range(K_MAX), n)
            batch = [
                (k, *(rng.randrange(span(c)) for c in cols[1:]))
                for k in ks
            ]
            if rng.random() < 0.2:
                batch.append(
                    (batch[0][0],
                     *(rng.randrange(span(c)) for c in cols[1:]))
                )
            ops.append({"op": "merge", "batch": batch,
                        "cols": list(cols)})
            merged = True
        elif with_stream and roll < 0.80:
            # streaming micro-batch append (round 12): its own slot,
            # consumed only under the flag so every CI-pinned seed's
            # sequence stays byte-identical.  Epochs are assigned
            # monotonically by the runner; ``replay`` re-delivers the
            # SAME epoch immediately (Spark's failure-replay contract)
            # and both formats must skip — never a cross-op replay,
            # because a rollback between commit and replay would make
            # the twins legally diverge (Delta restore preserves txn
            # watermarks, Iceberg ancestry-walk forgets them)
            ops.append({"op": "stream_append",
                        "rows": fresh_rows(rng.randint(1, 5)),
                        "replay": rng.random() < 0.4,
                        "cols": list(cols)})
        elif roll < (0.84 if with_rollback else 0.85) and with_ddl \
                and n_added < 2:
            n_added += 1
            name = f"c{n_added}"
            cols.append(name)
            ops.append({"op": "add_column", "name": name,
                        "cols": list(cols)})
        elif with_rollback and roll < 0.89:
            ops.append({"op": "rollback", "frac": rng.random(),
                        "cols": list(cols)})
        elif roll < (0.93 if with_rollback else 0.92):
            ops.append({"op": "compact", "cols": list(cols)})
        elif roll < 0.96:
            ops.append({"op": "maintain", "cols": list(cols)})
        else:
            kind = "v2" if rng.random() < 0.5 else "v1"
            ops.append({"op": "checkpoint", "kind": kind,
                        "sidecars": rng.randint(0, 1),
                        "cols": list(cols)})
    return ops


def _run_sequence(spark, tmp_path, seed: int, n_ops: int,
                  mapped: bool, with_ddl: bool = True,
                  partitioned: bool = False,
                  with_rollback: bool = False,
                  drop_ops: tuple = (),
                  partitioned_merge: bool = False,
                  cdf_enabled: bool = False,
                  with_stream: bool = False,
                  ice_bucket: bool = False):
    rng = random.Random(seed)
    ops = _gen_sequence(rng, n_ops, with_ddl, partitioned,
                        with_rollback, partitioned_merge, with_stream)
    if drop_ops:
        # dropping whole ops preserves sequence legality (nothing
        # becomes illegal by NOT updating/merging) — used by the
        # executor-tier variants whose refusal contracts exclude an op
        ops = [op for op in ops if op["op"] not in drop_ops]
    delta = DeltaHarness(spark, str(tmp_path / f"d{seed}"), mapped,
                         partitioned, cdf=cdf_enabled)
    ice = IcebergHarness(spark, str(tmp_path / f"i{seed}"),
                         partitioned, bucket=ice_bucket)
    model: list[tuple] = []
    delta_states: dict[int, tuple] = {}
    ice_states: dict[int, tuple] = {}
    #: per-step (delta version, iceberg snapshot, cols, model) records —
    #: the rollback op's target pool; cleared on maintain (expired
    #: history is not restorable)
    timeline: list[dict] = []
    #: snapshot id -> column arity at snapshot CREATION (never cleared;
    #: ids are unique).  Rollback targets must match on THIS too: an
    #: Iceberg snapshot created pre-DDL pins its own schema under time
    #: travel by design, so rolling back to a timeline entry whose sid
    #: predates its cols (a DDL landed between the snapshot and the
    #: entry) would re-tag the sid with arity its pinned schema lacks
    sid_cols: dict[int, list] = {}
    n_rollbacks = 0
    last_sid = None
    cdf_seed: Counter = Counter()
    cdf_from = 0
    #: Iceberg changelog replay cursor (round 12): the snapshot id the
    #: end-of-run changelog_scan starts from, plus the model multiset
    #: at that moment.  Re-seeds on add_column (changelog refuses
    #: schema changes mid-range), maintain (expired history) and
    #: rollback (the range restarts at the restored snapshot).
    clog_from = None
    clog_seed: Counter = Counter()
    now = 1000
    next_epoch = 0

    for i, op in enumerate(ops):
        now += 1000
        cols = op["cols"]
        sid_before = ice.snapshot_id() if i else None
        if op["op"] == "append":
            delta.append(op["rows"], cols, now)
            ice.append(op["rows"], cols, now)
            model = model + op["rows"]
        elif op["op"] == "delete":
            delta.delete(op["col"], op["lo"], op["hi"], now)
            ice.delete(op["col"], op["lo"], op["hi"], now)
            model = _model_delete(model, cols, op["col"],
                                  op["lo"], op["hi"])
        elif op["op"] == "update":
            j = cols.index(op["set_col"])
            if op["kind"] == "lit":
                expr, fn = op["val"], (lambda r, v=op["val"]: v)
            else:
                expr = F.col(op["set_col"]) + op["val"]
                # SQL: NULL + x stays NULL
                fn = (lambda r, d=op["val"], jj=j:
                      None if r[jj] is None else r[jj] + d)
            delta.update(op["col"], op["lo"], op["hi"],
                         op["set_col"], expr, now)
            ice.update(op["col"], op["lo"], op["hi"],
                       op["set_col"], expr, now)
            model = _model_update(model, cols, op["col"], op["lo"],
                                  op["hi"], op["set_col"], fn)
        elif op["op"] == "merge":
            delta.merge(op["batch"], cols, now)
            ice.merge(op["batch"], cols, now)
            model = _model_merge(model, op["batch"])
        elif op["op"] == "stream_append":
            epoch = next_epoch
            next_epoch += 1
            ddl = ", ".join(f"{c} long" for c in cols)
            df = spark.createDataFrame(op["rows"], ddl)
            assert delta.log.append_stream_batch(
                df, "fuzz-app", epoch, now_ms=now) is not None
            assert ice.t.append_stream_batch(
                df, "fuzz-app", epoch, now_ms=now) is not None
            if op["replay"]:
                # failure replay: same epoch, identical contents —
                # BOTH formats must skip (txn watermark / summary
                # ancestry), leaving log heads untouched
                dv0, sid0 = delta.version(), ice.snapshot_id()
                assert delta.log.append_stream_batch(
                    df, "fuzz-app", epoch, now_ms=now) is None
                assert ice.t.append_stream_batch(
                    df, "fuzz-app", epoch, now_ms=now) is None
                assert (delta.version(), ice.snapshot_id()) == (
                    dv0, sid0)
            model = model + op["rows"]
        elif op["op"] == "add_column":
            delta.add_column(op["name"], now)
            ice.add_column(op["name"], now)
            model = [(*r, None) for r in model]
            # the CDF replay seed lives in final-schema arity too
            cdf_seed = Counter(
                {(*k, None): v for k, v in cdf_seed.items()}
            )
            clog_from = None  # changelog refuses schema changes
        elif op["op"] == "compact":
            delta.compact(now)
            ice.compact(now)
        elif op["op"] == "maintain":
            delta.maintain(now)
            ice.maintain(now)
            # maintenance erases history BY DESIGN: expired snapshots /
            # commit JSONs below the checkpoint are no longer
            # time-travelable, and the CDF replay re-seeds from the
            # live state at this point
            delta_states.clear()
            ice_states.clear()
            timeline.clear()
            cdf_seed = Counter(tuple(r) for r in model)
            cdf_from = delta.version() + 1
            clog_from = None  # expired history is not replayable
        elif op["op"] == "rollback":
            cur_sid = ice.snapshot_id()
            eligible = [e for e in timeline
                        if e["cols"] == cols and e["sid"] != cur_sid
                        and sid_cols.get(e["sid"]) == cols]
            if eligible:
                tgt = eligible[int(op["frac"] * len(eligible))
                               % len(eligible)]
                delta.log.restore(tgt["dv"], now_ms=now)
                ice.t.rollback_to(tgt["sid"], now_ms=now)
                model = list(tgt["model"])
                n_rollbacks += 1
                clog_from = None  # range restarts at the restored id
        elif op["op"] == "checkpoint":
            delta.checkpoint(op.get("kind", "v1"),
                             op.get("sidecars", 1))

        want = _nsort(model)
        ctx = f"seed={seed} mapped={mapped} step={i} op={op}"
        assert delta.rows(cols) == want, f"delta diverged: {ctx}"
        assert ice.rows(cols) == want, f"iceberg diverged: {ctx}"
        delta_states[delta.version()] = (list(cols), want)
        # Iceberg DDL/no-op/maintenance steps commit no snapshot; time
        # travel to a snapshot pins ITS schema, so record a snapshot id
        # only when a commit CREATED it (re-recording the unchanged id
        # after a DDL would retag a pre-DDL state with post-DDL arity —
        # setdefault alone wasn't enough once maintain cleared the dict)
        sid_now = ice.snapshot_id()
        sid_cols.setdefault(sid_now, list(cols))
        if sid_now != last_sid:
            ice_states[sid_now] = (list(cols), want)
            last_sid = sid_now
        timeline.append({"dv": delta.version(), "sid": sid_now,
                         "cols": list(cols), "model": list(model)})
        if clog_from is None and sid_now != sid_before:
            # re-seed only once a NEW snapshot exists: after a DDL the
            # current snapshot still pins the pre-DDL schema, and a
            # range starting there would trip changelog_scan's
            # schema-change refusal by design
            clog_from = sid_now
            clog_seed = Counter(tuple(r) for r in model)

    # time travel: sampled historical versions must match the model's
    # recorded state, projected to the columns that existed then
    for ver in rng.sample(sorted(delta_states),
                          min(2, len(delta_states))):
        c, want = delta_states[ver]
        assert delta.rows(c, version=ver) == want, (
            f"delta time travel diverged: seed={seed} version={ver}"
        )
    for sid in rng.sample(sorted(ice_states), min(2, len(ice_states))):
        c, want = ice_states[sid]
        assert ice.rows(c, snapshot_id=sid) == want, (
            f"iceberg time travel diverged: seed={seed} snapshot={sid}"
        )

    # CDF replay: composing read_changes' insert/delete rows version by
    # version from 0 must land exactly on the final state, with no
    # commit deleting a row the running state doesn't hold.
    # read_changes pins the END snapshot's schema, so every event row
    # carries the final column list (pre-DDL files null-fill).
    final_cols = ops[-1]["cols"]
    state: Counter = Counter(cdf_seed)
    if cdf_from > delta.version():
        cdf = []  # maintenance was the last commit: nothing to replay
    else:
        cdf = delta.log.read_changes(spark, cdf_from).select(
            *final_cols, "_change_type", "_commit_version"
        ).collect()
    by_ver: dict[int, list] = {}
    for r in cdf:
        by_ver.setdefault(r._commit_version, []).append(r)
    for ver in sorted(by_ver):
        for r in by_ver[ver]:
            kv = tuple(r[c] for c in final_cols)
            # CDF convention: update_preimage is the removed old row
            state[kv] += (-1 if r._change_type
                          in ("delete", "update_preimage") else 1)
        bad = {kv: c for kv, c in state.items() if c < 0}
        assert not bad, (
            f"CDF replay went negative at version {ver}: seed={seed} "
            f"{bad}"
        )
    replayed = _nsort(kv for kv, c in state.items()
                      for _ in range(c))
    assert replayed == _nsort(model), (
        f"CDF replay != final state: seed={seed}"
    )

    # the delta_cdc stream executes read_changes' plan: its drain must
    # equal the batch feed as a multiset.  The stream pins the final
    # schema, so it drains from the first version after the last
    # commit that set another one (a DDL, or a restore rolling one
    # back).
    head = delta.version()
    pinned = delta.log.snapshot().schema_json
    stream_from = max([cdf_from] + [
        v + 1 for v in range(cdf_from, head + 1)
        if any(a["metaData"].get("schemaString", pinned) != pinned
               for a in delta.log._commit_actions(v) if "metaData" in a)
    ])
    if stream_from <= head:
        out = (*final_cols, "_change_type", "_commit_version")
        spark.dataSource.register(DeltaCDCStreamSource)
        streamed: list = []
        (spark.readStream.format("delta_cdc").option("path", delta.d)
         .option("startingVersion", stream_from).load()
         .writeStream.foreachBatch(lambda b, _i: streamed.extend(
             tuple(r) for r in b.select(*out).collect()))
         .option("checkpointLocation", str(tmp_path / f"ck{seed}"))
         .trigger(availableNow=True).start().awaitTermination())
        batch = delta.log.read_changes(spark, stream_from).select(*out)
        assert Counter(streamed) == Counter(
            tuple(r) for r in batch.collect()
        ), f"delta_cdc stream != read_changes: seed={seed}"

    # Iceberg changelog replay (round 12): composing changelog_scan's
    # insert/delete events snapshot by snapshot from the cursor state
    # must land exactly on the final state, with no snapshot deleting a
    # row the running state doesn't hold — the Iceberg twin of the CDF
    # replay above (compaction 'replace' snapshots must contribute
    # nothing, which the skip encodes).
    if clog_from is None:
        # a trailing DDL/maintain left no post-reset snapshot: nothing
        # to replay (and the current snapshot still pins the pre-DDL
        # schema, so even an empty-range scan could not select the
        # final column list)
        return {"rollbacks": n_rollbacks}
    istate: Counter = Counter(clog_seed)
    iev = ice.t.changelog_scan(spark, clog_from).select(
        *final_cols, "_change_type", "_snapshot_id"
    ).collect()
    by_snap: dict[int, list] = {}
    for r in iev:
        by_snap.setdefault(r._snapshot_id, []).append(r)
    order = [s["snapshot-id"] for s in ice.t.snapshots()]
    for sid in sorted(by_snap, key=order.index):
        for r in by_snap[sid]:
            kv = tuple(r[c] for c in final_cols)
            istate[kv] += -1 if r._change_type == "delete" else 1
        bad = {kv: c for kv, c in istate.items() if c < 0}
        assert not bad, (
            f"changelog replay went negative at snapshot {sid}: "
            f"seed={seed} {bad}"
        )
    ireplayed = _nsort(kv for kv, c in istate.items()
                       for _ in range(c))
    assert ireplayed == _nsort(model), (
        f"changelog replay != final state: seed={seed}"
    )
    return {"rollbacks": n_rollbacks}



def _slow(*vals):
    """Extra fuzz seeds beyond the first of a default-tier sequence
    flavor ride the slow tier (round 14 —
    conftest.pytest_collection_modifyitems): the default run keeps ONE
    seed of such a flavor, the full sweep runs under
    SPARK_GRAFT_FULL_TESTS=1.  A flavor that is slow as a whole carries
    the outer ``@pytest.mark.slow`` instead and lists plain seeds."""
    return [pytest.param(v, marks=pytest.mark.slow) for v in vals]

@pytest.mark.parametrize("seed", [11, *_slow(12, 13)])
def test_dml_sequence_matches_model(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed, n_ops=9, mapped=False)


@pytest.mark.parametrize("seed", [21])
def test_dml_sequence_matches_model_mapped(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed, n_ops=9, mapped=True)


@pytest.mark.slow
def test_dml_sequence_long(spark, tmp_path):
    _run_sequence(spark, tmp_path, seed=31, n_ops=14, mapped=False)


@pytest.mark.parametrize("seed", [41, *_slow(42)])
def test_dml_sequence_partitioned(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed, n_ops=10, mapped=False,
                  partitioned=True)


@pytest.mark.parametrize("seed", [707, *_slow(721, 745)])
def test_dml_sequence_with_rollback(spark, tmp_path, seed):
    # restore/rollback composed into the op mix (round 11): seed 707
    # rolls back twice through grown deletion vectors (the
    # restore-shrinks-a-DV path) with updates/deletes between; 721
    # rolls back across an add_column + a landed merge (live equality
    # deletes in the restored snapshot); 745 rolls back twice around
    # add_columns and v1/v2 checkpoints, exercising the same-arity
    # target filter.  Every step still reads back the model on BOTH
    # twins, and the CDF replay composes the restore's delete+insert
    # events like any other commit.
    res = _run_sequence(spark, tmp_path, seed, n_ops=12, mapped=False,
                        with_rollback=True)
    assert res["rollbacks"] >= 1


@pytest.mark.slow
@pytest.mark.parametrize("seed", [815, 829])
def test_dml_sequence_rollback_partitioned_mapped(spark, tmp_path,
                                                  seed):
    # partitioned twins + mapped Delta: seed 815 rolls back
    # mid-sequence then lands DDL and updates ON TOP of the restored
    # state; seed 829 draws maintenance BETWEEN the DDL and the
    # rollback, so the target pool is the post-expiry timeline only.
    # Partition values ride restore's value-less removes through the
    # CDF replay, and the snapshot-creation-arity filter keeps targets
    # to snapshots whose pinned schema matches the current column list
    # (rolling back to a pre-DDL snapshot id would re-tag it with
    # arity its time-travel schema lacks — seed 813's lesson)
    res = _run_sequence(spark, tmp_path, seed=seed, n_ops=11,
                        mapped=True, partitioned=True,
                        with_rollback=True)
    assert res["rollbacks"] >= 1


@pytest.mark.slow
@pytest.mark.parametrize("seed", [11, 41])
def test_dml_sequence_cdf_written_feed(spark, tmp_path, seed):
    # round 12: delta.enableChangeDataFeed makes the Delta faces WRITE
    # _change_data files (update_pre/postimage included) and the
    # end-of-run CDF replay consumes those instead of deriving — the
    # SAME seeds as the derived-feed tests (11 plain, 41 partitioned),
    # so written-CDC and derived-CDC are proven equivalent on
    # identical op sequences
    _run_sequence(spark, tmp_path, seed, n_ops=9 if seed == 11 else 10,
                  mapped=False, partitioned=(seed == 41),
                  cdf_enabled=True)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [1401, 1431])
def test_dml_sequence_partitioned_merge(spark, tmp_path, seed):
    # round 12 lifted the partitioned-merge refusal on BOTH formats:
    # merges land in partitioned sequences (per-tuple source split,
    # Delta string-encoded partitionValues / Iceberg identity tuples)
    # and every step still reads back the shared model on both twins.
    # seed 1401 merges over its own output and across a compact and a
    # checkpoint; 1431 lands updates BEFORE its merges plus a
    # maintain + add_column tail after them.
    _run_sequence(spark, tmp_path, seed, n_ops=10, mapped=False,
                  partitioned=True, partitioned_merge=True)


@pytest.mark.parametrize("seed", [1201, *_slow(1217)])
def test_dml_sequence_delta_executor_tier(spark, tmp_path, seed,
                                          monkeypatch):
    # round 12: force EVERY Delta delete/update/merge through the
    # over-cap EXECUTOR tier (cap 0 — bitmaps union/serialize/write on
    # workers, updated copies join the distributed matched frame, merge
    # keys semi-join) while Iceberg stays on its driver tier; every
    # step must still read back the shared model on BOTH twins, so the
    # two tiers are proven equivalent on the same op sequence
    monkeypatch.setattr(DeltaLog, "DELETE_WHERE_ROW_LIMIT", 0)
    _run_sequence(spark, tmp_path, seed, n_ops=9, mapped=False)


@pytest.mark.parametrize("seed", [1303, *_slow(1306)])
def test_dml_sequence_iceberg_executor_tier(spark, tmp_path, seed,
                                            monkeypatch):
    # the Iceberg twin's executor tier: cap 0 routes delete_rows
    # through the distributed position-delete write, update_rows
    # through the distributed rewrite (round 12 lifted its refusal
    # last) and merge_upsert through the distributed equality-delete
    # write — full op mix, both twins at cap 0, model-checked.
    monkeypatch.setattr(IcebergTable, "DELETE_ROWS_LIMIT", 0)
    monkeypatch.setattr(DeltaLog, "DELETE_WHERE_ROW_LIMIT", 0)
    _run_sequence(spark, tmp_path, seed, n_ops=10, mapped=False)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [2119, 2137])
def test_dml_sequence_bucket_partitioned_iceberg(spark, tmp_path, seed):
    """Round 13: the Iceberg twin runs under a bucket[2](p) DEFAULT
    spec (p stays a data column; the Delta twin keeps its identity
    layout) — external appends stamp murmur3 tuples, the merge and
    stream write faces RE-DERIVE the bucket per source row through
    transform_column, and delete/update/compact/maintain carry tuples
    untouched.  Seed 2119: update → stream → merges → maintain; seed
    2137: checkpoint + stream + update + deletes + merge."""
    _run_sequence(spark, tmp_path, seed, 10, mapped=False,
                  partitioned=True, partitioned_merge=True,
                  with_stream=True, ice_bucket=True)


@pytest.mark.slow
def test_dml_sequence_stream_append_rollback(spark, tmp_path):
    # round 12: streaming micro-batch appends composed into the op mix
    # (Delta txn watermark / Iceberg summary-epoch watermark).  seed
    # 1618 replays an epoch (both formats must skip, heads untouched),
    # rolls back OVER a streamed batch, then streams twice more on the
    # restored state — fresh monotone epochs land on both twins even
    # though Delta's watermark SURVIVES the restore while Iceberg's
    # ancestry walk forgets the abandoned branch
    _run_sequence(spark, tmp_path, seed=1618, n_ops=12, mapped=False,
                  with_rollback=True, with_stream=True)


@pytest.mark.parametrize("mapped", [False, *_slow(True)])
def test_dml_sequence_stream_append_ddl_maintenance(spark, tmp_path,
                                                    mapped):
    # seed 1688 streams, evolves the schema twice, draws MAINTENANCE
    # (checkpoint + expire_log + vacuum) between the DDLs, then
    # streams again on the evolved schema — the second epoch's skip
    # watermark must come through the CHECKPOINT's txn carry on Delta
    # (the pre-checkpoint commits holding the txn action are expired)
    # and through surviving snapshot summaries on Iceberg.  The mapped
    # variant runs the SAME sequence on a column-mapped Delta twin:
    # streamed batches land under physical names (round-12 late lift)
    _run_sequence(spark, tmp_path, seed=1688, n_ops=12, mapped=mapped,
                  with_stream=True)


@pytest.mark.slow
def test_dml_sequence_stream_append_partitioned(spark, tmp_path):
    # round 12 (late): both sinks accept partitioned targets via the
    # per-tuple split.  seed 1894 streams into identity-partitioned
    # twins around maintenance, updates, merges and deletes — streamed
    # per-tuple files must compose with partition-aware DML exactly
    # like appended ones, and the replayed epoch skips on both
    _run_sequence(spark, tmp_path, seed=1894, n_ops=13, mapped=False,
                  partitioned=True, partitioned_merge=True,
                  with_stream=True)


@pytest.mark.slow
def test_dml_sequence_with_maintenance(spark, tmp_path):
    # seed 602 draws maintenance (checkpoint + expire_log + vacuum /
    # expire_snapshots + vacuum) at step 3, followed by deletes, an
    # update, a merge, and an add_column — so the post-maintenance
    # live face, the re-seeded CDF replay, AND the seed's arity
    # padding all execute in CI (the other seeds never roll maintain)
    _run_sequence(spark, tmp_path, seed=602, n_ops=11, mapped=False)


# ------------------------------------- mapped-Delta DDL-heavy sequences
#
# rename_column / drop_column are column-mapped-Delta-only faces (the
# mapping exists precisely to make them metadata-only), and Iceberg's
# DML faces refuse renamed histories by contract — so this variant runs
# the Delta twin alone against the model, with the full DDL triple in
# the op mix and no post-merge update restriction (that was Iceberg's
# refusal).  Renames keep the key column stable; drops never take k.


def _gen_ddl_sequence(rng: random.Random, n_ops: int):
    cols = ["k", "v"]

    def span(col):
        return K_MAX if col == "k" else V_MAX

    def fresh_rows(n):
        return [tuple(rng.randrange(span(c)) for c in cols)
                for _ in range(n)]

    ops = [{"op": "append", "rows": fresh_rows(rng.randint(2, 6)),
            "cols": list(cols)}]
    n_added = n_renamed = n_dropped = 0
    while len(ops) < n_ops:
        roll = rng.random()
        if roll < 0.25:
            ops.append({"op": "append",
                        "rows": fresh_rows(rng.randint(1, 5)),
                        "cols": list(cols)})
        elif roll < 0.43:
            col = rng.choice(cols)
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 3)
            ops.append({"op": "delete", "col": col, "lo": lo, "hi": hi,
                        "cols": list(cols)})
        elif roll < 0.58:
            col = rng.choice(cols)
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 2)
            set_col = rng.choice([c for c in cols if c != col] or cols)
            kind = "lit" if rng.random() < 0.5 else "add"
            val = (rng.randrange(V_MAX) if kind == "lit"
                   else rng.randint(1, 50))
            ops.append({"op": "update", "col": col, "lo": lo, "hi": hi,
                        "set_col": set_col, "kind": kind, "val": val,
                        "cols": list(cols)})
        elif roll < 0.70:
            n = rng.randint(1, 4)
            ks = rng.sample(range(K_MAX), n)
            batch = [
                (k, *(rng.randrange(span(c)) for c in cols[1:]))
                for k in ks
            ]
            ops.append({"op": "merge", "batch": batch,
                        "cols": list(cols)})
        elif roll < 0.80 and n_added < 3:
            n_added += 1
            name = f"c{n_added}"
            cols.append(name)
            ops.append({"op": "add_column", "name": name,
                        "cols": list(cols)})
        elif roll < 0.88 and n_renamed < 2:
            old = rng.choice([c for c in cols if c != "k"])
            n_renamed += 1
            new = f"r{n_renamed}"
            cols[cols.index(old)] = new
            ops.append({"op": "rename_column", "old": old, "new": new,
                        "cols": list(cols)})
        elif roll < 0.93 and n_dropped < 1 and len(cols) > 2:
            name = rng.choice([c for c in cols if c != "k"])
            n_dropped += 1
            j = cols.index(name)
            cols.pop(j)
            ops.append({"op": "drop_column", "name": name, "idx": j,
                        "cols": list(cols)})
        elif roll < 0.97:
            ops.append({"op": "compact", "cols": list(cols)})
        else:
            kind = "v2" if rng.random() < 0.5 else "v1"
            ops.append({"op": "checkpoint", "kind": kind,
                        "sidecars": rng.randint(0, 1),
                        "cols": list(cols)})
    return ops


def _run_delta_ddl_sequence(spark, tmp_path, seed: int, n_ops: int):
    rng = random.Random(seed)
    ops = _gen_ddl_sequence(rng, n_ops)
    delta = DeltaHarness(spark, str(tmp_path / f"dd{seed}"),
                         mapped=True)
    model: list[tuple] = []
    states: dict[int, tuple] = {}
    now = 1000

    for i, op in enumerate(ops):
        now += 1000
        cols = op["cols"]
        if op["op"] == "append":
            delta.append(op["rows"], cols, now)
            model = model + op["rows"]
        elif op["op"] == "delete":
            delta.delete(op["col"], op["lo"], op["hi"], now)
            model = _model_delete(model, cols, op["col"],
                                  op["lo"], op["hi"])
        elif op["op"] == "update":
            j = cols.index(op["set_col"])
            if op["kind"] == "lit":
                expr, fn = op["val"], (lambda r, v=op["val"]: v)
            else:
                expr = F.col(op["set_col"]) + op["val"]
                fn = (lambda r, d=op["val"], jj=j:
                      None if r[jj] is None else r[jj] + d)
            delta.update(op["col"], op["lo"], op["hi"],
                         op["set_col"], expr, now)
            model = _model_update(model, cols, op["col"], op["lo"],
                                  op["hi"], op["set_col"], fn)
        elif op["op"] == "merge":
            delta.merge(op["batch"], cols, now)
            model = _model_merge(model, op["batch"])
        elif op["op"] == "add_column":
            delta.add_column(op["name"], now)
            model = [(*r, None) for r in model]
        elif op["op"] == "rename_column":
            delta.rename_column(op["old"], op["new"], now)
            # metadata-only: values untouched, the column list moved
        elif op["op"] == "drop_column":
            delta.drop_column(op["name"], now)
            j = op["idx"]
            model = [(*r[:j], *r[j + 1:]) for r in model]
        elif op["op"] == "compact":
            delta.compact(now)
        elif op["op"] == "checkpoint":
            delta.checkpoint(op.get("kind", "v1"),
                             op.get("sidecars", 1))

        want = _nsort(model)
        ctx = f"seed={seed} step={i} op={op}"
        assert delta.rows(cols) == want, f"delta diverged: {ctx}"
        states[delta.version()] = (list(cols), want)

    # time travel reads each version with ITS schema: pre-rename
    # versions answer to the old names, pre-drop versions still carry
    # the dropped column's values (the drop is metadata-only)
    for ver in rng.sample(sorted(states), min(3, len(states))):
        c, want = states[ver]
        assert delta.rows(c, version=ver) == want, (
            f"delta ddl time travel diverged: seed={seed} version={ver}"
        )

    # CDF replay under the END schema: renamed columns resolve through
    # their unchanged physical names, dropped columns vanish from
    # every event row exactly as they did from the model
    final_cols = ops[-1]["cols"]
    cdf = delta.log.read_changes(spark, 0).select(
        *final_cols, "_change_type", "_commit_version"
    ).collect()
    state: Counter = Counter()
    for r in sorted(cdf, key=lambda r: r._commit_version):
        kv = tuple(r[c] for c in final_cols)
        state[kv] += -1 if r._change_type == "delete" else 1
    replayed = _nsort(kv for kv, c in state.items()
                      for _ in range(c))
    assert replayed == _nsort(model), (
        f"ddl CDF replay != final state: seed={seed}"
    )


@pytest.mark.slow
@pytest.mark.parametrize("seed", [51, 52])
def test_dml_sequence_mapped_ddl_triple(spark, tmp_path, seed):
    _run_delta_ddl_sequence(spark, tmp_path, seed, n_ops=12)


# --------------------------------- Iceberg DDL-triple sequences
#
# The Iceberg twin of the mapped-Delta DDL variant: rename/drop are
# metadata-only id-stable faces whose READS resolve by name variant
# and coalesce, but the row-level delete/update faces refuse renamed
# histories by contract — so after the first rename the generator
# emits only appends/merges/compactions (merge resolves its equality
# delete by field id, rename-proof), and updates additionally stop at
# the first merge (live equality deletes).


def _gen_ice_ddl_sequence(rng: random.Random, n_ops: int,
                          with_evolve: bool = False,
                          with_rollback: bool = False,
                          renamed_dml: bool = False):
    """``with_evolve`` carves a spec-evolution op out of the merge
    slot (base seeds stay byte-identical).  Post-evolution legality
    mirrors the faces' contracts: the evolved column ("v") leaves the
    predicate/SET/rename/drop pools (partition source), updates stop
    (update_rows refuses live non-default specs), merges stop
    (merge_upsert refuses partitioned tables), and update_spec itself
    never fires on a renamed history.  ``renamed_dml`` keeps emitting
    deletes/updates AFTER a rename (round 12 lifted the faces' rename
    refusal via name-variant scans; the flag rather than the base
    layout keeps the CI-pinned seeds' sequences intact)."""
    cols = ["k", "v"]

    def span(col):
        return K_MAX if col == "k" else V_MAX

    def fresh_rows(n):
        return [tuple(rng.randrange(span(c)) for c in cols)
                for _ in range(n)]

    ops = [{"op": "append", "rows": fresh_rows(rng.randint(2, 6)),
            "cols": list(cols)}]
    merged = renamed = evolved = False
    evolved_col = None
    n_added = n_renamed = n_dropped = 0
    while len(ops) < n_ops:
        roll = rng.random()
        if roll < 0.25:
            ops.append({"op": "append",
                        "rows": fresh_rows(rng.randint(1, 5)),
                        "cols": list(cols)})
        elif roll < 0.40 and (not renamed or renamed_dml):
            col = rng.choice([c for c in cols if c != evolved_col])
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 3)
            ops.append({"op": "delete", "col": col, "lo": lo, "hi": hi,
                        "cols": list(cols)})
        elif roll < 0.52 and (not renamed or renamed_dml) \
                and not merged and not evolved:
            col = rng.choice(cols)
            lo = rng.randrange(span(col))
            hi = lo + rng.randint(0, span(col) // 2)
            set_col = rng.choice([c for c in cols if c != col] or cols)
            kind = "lit" if rng.random() < 0.5 else "add"
            val = (rng.randrange(V_MAX) if kind == "lit"
                   else rng.randint(1, 50))
            ops.append({"op": "update", "col": col, "lo": lo, "hi": hi,
                        "set_col": set_col, "kind": kind, "val": val,
                        "cols": list(cols)})
        elif roll < (0.60 if with_evolve else 0.67) and not evolved:
            n = rng.randint(1, 4)
            ks = rng.sample(range(K_MAX), n)
            batch = [
                (k, *(rng.randrange(span(c)) for c in cols[1:]))
                for k in ks
            ]
            ops.append({"op": "merge", "batch": batch,
                        "cols": list(cols)})
            merged = True
        elif (with_evolve and roll < 0.67 and not evolved
                and not renamed):
            # deterministic column pick (no rng draw — the CI seeds'
            # sequences must not shift): "v" unless a drop took it
            cand = [c for c in cols if c != "k"]
            if not cand:
                continue
            evolved = True
            evolved_col = "v" if "v" in cand else cand[0]
            ops.append({"op": "evolve", "col": evolved_col,
                        "cols": list(cols)})
        elif roll < 0.77 and n_added < 3:
            n_added += 1
            name = f"c{n_added}"
            cols.append(name)
            ops.append({"op": "add_column", "name": name,
                        "cols": list(cols)})
        elif roll < 0.85 and n_renamed < 2:
            cand = [c for c in cols
                    if c != "k" and c != evolved_col]
            if not cand:
                continue
            old = rng.choice(cand)
            n_renamed += 1
            new = f"r{n_renamed}"
            cols[cols.index(old)] = new
            renamed = True
            ops.append({"op": "rename_column", "old": old, "new": new,
                        "cols": list(cols)})
        elif roll < 0.90 and n_dropped < 1 and len(cols) > 2:
            cand = [c for c in cols
                    if c != "k" and c != evolved_col]
            if not cand:
                continue
            name = rng.choice(cand)
            n_dropped += 1
            j = cols.index(name)
            cols.pop(j)
            ops.append({"op": "drop_column", "name": name, "idx": j,
                        "cols": list(cols)})
        elif with_rollback and roll < 0.93:
            # pointer rollback composed with evolution: the default
            # spec stays evolved while the live set reverts to an
            # older era's files — the read must keep composing
            ops.append({"op": "rollback", "frac": rng.random(),
                        "cols": list(cols)})
        elif roll < 0.95:
            ops.append({"op": "compact", "cols": list(cols)})
        else:
            ops.append({"op": "maintain", "cols": list(cols)})
    return ops


def _run_iceberg_ddl_sequence(spark, tmp_path, seed: int, n_ops: int,
                              with_evolve: bool = False,
                              with_rollback: bool = False,
                              renamed_dml: bool = False):
    rng = random.Random(seed)
    ops = _gen_ice_ddl_sequence(rng, n_ops, with_evolve, with_rollback,
                                renamed_dml)
    ice = IcebergHarness(spark, str(tmp_path / f"id{seed}"))
    model: list[tuple] = []
    states: dict[int, tuple] = {}
    #: rollback target pool (cleared on maintain) + snapshot-creation
    #: arity map (never cleared) — same discipline as the twin runner:
    #: time travel pins a snapshot's own schema, so targets must have
    #: been CREATED at the current arity
    timeline: list[dict] = []
    sid_cols: dict[int, list] = {}
    n_rollbacks = 0
    last_sid = None
    evolved_col = None
    now = 1000

    for i, op in enumerate(ops):
        now += 1000
        cols = op["cols"]
        if op["op"] == "append":
            ice.append(op["rows"], cols, now)
            model = model + op["rows"]
        elif op["op"] == "delete":
            ice.delete(op["col"], op["lo"], op["hi"], now)
            model = _model_delete(model, cols, op["col"],
                                  op["lo"], op["hi"])
        elif op["op"] == "update":
            j = cols.index(op["set_col"])
            if op["kind"] == "lit":
                expr, fn = op["val"], (lambda r, v=op["val"]: v)
            else:
                expr = F.col(op["set_col"]) + op["val"]
                fn = (lambda r, d=op["val"], jj=j:
                      None if r[jj] is None else r[jj] + d)
            ice.update(op["col"], op["lo"], op["hi"],
                       op["set_col"], expr, now)
            model = _model_update(model, cols, op["col"], op["lo"],
                                  op["hi"], op["set_col"], fn)
        elif op["op"] == "merge":
            ice.merge(op["batch"], cols, now)
            model = _model_merge(model, op["batch"])
        elif op["op"] == "add_column":
            ice.add_column(op["name"], now)
            model = [(*r, None) for r in model]
        elif op["op"] == "rename_column":
            ice.rename_column(op["old"], op["new"], now)
        elif op["op"] == "drop_column":
            ice.drop_column(op["name"], now)
            j = op["idx"]
            model = [(*r[:j], *r[j + 1:]) for r in model]
        elif op["op"] == "evolve":
            ice.evolve(op["col"], now)
            evolved_col = op["col"]
            # the model is untouched: evolution moves where the value
            # is RECORDED, never what it is
        elif op["op"] == "rollback":
            cur_sid = ice.snapshot_id()
            eligible = [e for e in timeline
                        if e["cols"] == cols and e["sid"] != cur_sid
                        and sid_cols.get(e["sid"]) == cols]
            if eligible:
                tgt = eligible[int(op["frac"] * len(eligible))
                               % len(eligible)]
                ice.t.rollback_to(tgt["sid"], now_ms=now)
                model = list(tgt["model"])
                n_rollbacks += 1
        elif op["op"] == "compact":
            ice.compact(now)
        elif op["op"] == "maintain":
            ice.maintain(now)
            states.clear()
            timeline.clear()

        want = _nsort(model)
        ctx = f"seed={seed} step={i} op={op}"
        assert ice.rows(cols) == want, f"iceberg ddl diverged: {ctx}"
        if evolved_col is not None and model:
            # partition-filter probe across BOTH eras every step: a
            # value present in the model must return exactly its rows
            # (pre-evolution files row-filter, post-evolution files
            # prune at file level).  NULL values never probe — `= NULL`
            # matches nothing in SQL, deliberately (a null partition
            # value is reachable when the evolved column postdates an
            # add_column, e.g. seed 957's evolve-on-c1)
            jc = cols.index(evolved_col)
            vals = [r[jc] for r in model if r[jc] is not None]
            if vals:
                probe = vals[i % len(vals)]
                got = _nsort(
                    tuple(r[c] for c in cols)
                    for r in ice.t.read(
                        spark, partition_filter={evolved_col: probe}
                    ).select(*cols).collect()
                )
                assert got == _nsort(
                    r for r in model if r[jc] == probe
                ), (f"evolved partition filter diverged: {ctx} "
                    f"probe={probe}")
        sid_now = ice.snapshot_id()
        sid_cols.setdefault(sid_now, list(cols))
        if sid_now != last_sid:
            states[sid_now] = (list(cols), want)
            last_sid = sid_now
        timeline.append({"sid": sid_now, "cols": list(cols),
                         "model": list(model)})

    # time travel pins each snapshot's own schema: pre-rename names,
    # pre-drop values, all through the name-variant coalesce read
    for sid in rng.sample(sorted(states), min(3, len(states))):
        c, want = states[sid]
        assert ice.rows(c, snapshot_id=sid) == want, (
            f"iceberg ddl time travel diverged: seed={seed} "
            f"snapshot={sid}"
        )
    return {"rollbacks": n_rollbacks}


@pytest.mark.slow
# seeds chosen for op richness: 709 = add, merge, drop, rename, three
# more merges ON the renamed history, compact after the rename; 713 =
# update before the rename, two adds, maintenance, merges after it
@pytest.mark.parametrize("seed", [709, 713])
def test_dml_sequence_iceberg_ddl_triple(spark, tmp_path, seed):
    _run_iceberg_ddl_sequence(spark, tmp_path, seed, n_ops=12)


@pytest.mark.slow
# round 12 lifted the rename refusal on delete_rows/update_rows (the
# predicate and rewrite scans resolve by name variant), so deletes and
# updates keep firing AFTER renames: 1507 renames early then updates
# and deletes across a compact and an add_column; 1554 deletes on both
# sides of the rename and updates through two compacts (rewritten
# copies re-entering under current names, then scanned again)
@pytest.mark.parametrize("seed", [1507, 1554])
def test_dml_sequence_iceberg_renamed_dml(spark, tmp_path, seed):
    _run_iceberg_ddl_sequence(spark, tmp_path, seed, n_ops=12,
                              renamed_dml=True)


@pytest.mark.slow
# spec evolution in the op mix (round 11), with a partition-filter
# probe against the model EVERY post-evolution step: 947 = deletes on
# both sides of the evolve + compacts (mixed-spec bins); 964 = evolve
# ON TOP of live equality deletes from two merges, then maintenance,
# drop_column and a delete; 926 = compact→evolve→delete then three
# add_columns and a rename (multi-schema × multi-spec reads); 911 =
# update before the evolve, maintenance after (expire+vacuum over
# mixed specs), then drop_column
@pytest.mark.parametrize("seed", [947, 964, 926, 911])
def test_dml_sequence_iceberg_spec_evolution(spark, tmp_path, seed):
    _run_iceberg_ddl_sequence(spark, tmp_path, seed, n_ops=12,
                              with_evolve=True)


# ---------------------------------------------- crash injection at commit

class _Crash(RuntimeError):
    pass


def _crash_delta(log, op):
    """Run one DML face with the final log commit replaced by a crash:
    every file the face staged becomes unreferenced debris."""
    orig = log.commit
    log.commit = lambda *a, **k: (_ for _ in ()).throw(_Crash())
    try:
        with pytest.raises(_Crash):
            op()
    finally:
        log.commit = orig


def _crash_iceberg(t, op):
    orig = t._write_metadata
    t._write_metadata = lambda *a, **k: (_ for _ in ()).throw(_Crash())
    try:
        with pytest.raises(_Crash):
            op()
    finally:
        t._write_metadata = orig


@pytest.mark.slow
def test_crash_at_commit_swap_preserves_snapshots(spark, tmp_path):
    """Each DML face stages data/DV/delete files BEFORE its single
    atomic commit; a crash exactly there must leave every committed
    snapshot intact, the retry must succeed against the unchanged
    table, and vacuum must reclaim the orphaned staging debris."""
    cols = ["k", "v"]
    delta = DeltaHarness(spark, str(tmp_path / "dc"), mapped=False)
    ice = IcebergHarness(spark, str(tmp_path / "ic"))
    rows = [(1, 10), (2, 20), (3, 30), (4, 40)]
    delta.append(rows, cols, 1000)
    ice.append(rows, cols, 1000)
    model = list(rows)

    faces = [
        ("delete", lambda h, now: h.delete("k", 2, 2, now),
         lambda m: _model_delete(m, cols, "k", 2, 2)),
        ("update", lambda h, now: h.update("k", 3, 3, "v", 99, now),
         lambda m: _model_update(m, cols, "k", 3, 3, "v",
                                 lambda r: 99)),
        ("merge", lambda h, now: h.merge([(4, 44), (5, 55)], cols, now),
         lambda m: _model_merge(m, [(4, 44), (5, 55)])),
    ]
    now = 2000
    for name, run, advance in faces:
        now += 1000
        _crash_delta(delta.log, lambda: run(delta, now))
        _crash_iceberg(ice.t, lambda: run(ice, now))
        want = _nsort(model)
        assert delta.rows(cols) == want, (
            f"delta changed after {name} crash"
        )
        assert ice.rows(cols) == want, (
            f"iceberg changed after {name} crash"
        )
        # staged-but-unreferenced debris reclaims without touching rows
        # — and there must BE debris: every face stages files before
        # its commit, so an empty reclaim list means the crash landed
        # after the commit (not the contract under test)
        assert delta.log.vacuum(), f"no delta debris after {name} crash"
        assert ice.t.vacuum(), f"no iceberg debris after {name} crash"
        assert delta.rows(cols) == want and ice.rows(cols) == want
        # the retry lands the op for real
        now += 1000
        run(delta, now)
        run(ice, now)
        model = advance(model)
        want = _nsort(model)
        assert delta.rows(cols) == want, f"delta retry diverged: {name}"
        assert ice.rows(cols) == want, (
            f"iceberg retry diverged: {name}"
        )


# --------------------------------------------- optimistic-concurrency race

def test_commit_race_loses_cleanly_and_retry_wins(spark, tmp_path):
    """Both committers are put-if-absent (O_EXCL): when a concurrent
    writer lands the exact version/metadata file a DML face is about
    to claim, the face must FAIL loudly (FileExistsError), leave the
    winner's commit as the table state with only vacuumable staging
    debris, and a plain retry — which re-reads the now-current
    snapshot — must succeed on top of the winner's commit."""
    cols = ["k", "v"]
    delta = DeltaHarness(spark, str(tmp_path / "dr"), mapped=False)
    ice = IcebergHarness(spark, str(tmp_path / "ir"))
    rows = [(1, 10), (2, 20), (3, 30)]
    delta.append(rows, cols, 1000)
    ice.append(rows, cols, 1000)

    # -- delta: the "other writer" pre-claims the next commit version
    orig_commit = delta.log.commit

    def racing_commit(version, actions):
        delta.log.commit = orig_commit  # the winner commits unpatched
        delta.append([(9, 90)], cols, 1500)  # winner lands `version`
        return orig_commit(version, actions)

    delta.log.commit = racing_commit
    try:
        with pytest.raises(FileExistsError):
            delta.delete(  # loser: computes version before the winner
                "k", 2, 2, 2000
            )
    finally:
        delta.log.commit = orig_commit
    want = _nsort(rows + [(9, 90)])
    assert delta.rows(cols) == want  # winner's state, loser invisible
    delta.log.vacuum()
    assert delta.rows(cols) == want
    delta.delete("k", 2, 2, 3000)  # retry re-reads the snapshot
    assert delta.rows(cols) == _nsort([(1, 10), (3, 30), (9, 90)])

    # -- iceberg: the winner pre-claims the next metadata version
    orig_write = ice.t._write_metadata

    def racing_write(version, meta):
        ice.t._write_metadata = orig_write
        ice.append([(9, 90)], cols, 1500)  # winner takes `version`
        ice.t._write_metadata = racing_write
        return orig_write(version, meta)

    ice.t._write_metadata = racing_write
    try:
        with pytest.raises(FileExistsError):
            ice.delete("k", 2, 2, 2000)
    finally:
        ice.t._write_metadata = orig_write
    assert ice.rows(cols) == want
    ice.t.vacuum()
    assert ice.rows(cols) == want
    ice.delete("k", 2, 2, 3000)
    assert ice.rows(cols) == _nsort([(1, 10), (3, 30), (9, 90)])


@pytest.mark.slow
# rollback composed WITH spec evolution on the Iceberg twin: the
# pointer reverts to an older era's live set while the default spec
# stays evolved — seed 1286 rolls between mixed-era states with
# deletes on both sides of the evolve and maintenance after; 1348
# rolls back mid-sequence then lands DDL and MORE deletes on the
# restored state; 1393 merges (live equality deletes) before the
# evolve, rolls back right after it, then runs the full DDL triple
@pytest.mark.parametrize("seed", [1286, 1348, 1393])
def test_dml_sequence_iceberg_evolve_rollback(spark, tmp_path, seed):
    res = _run_iceberg_ddl_sequence(spark, tmp_path, seed, n_ops=13,
                                    with_evolve=True,
                                    with_rollback=True)
    assert res["rollbacks"] >= 1


def test_crash_at_commit_swap_restore_rollback_evolve(spark, tmp_path):
    """The round-11 metadata faces under the same crash contract: a
    crash at the single atomic swap leaves the table state byte-
    untouched (these faces stage NO data files — metadata-only or
    log-append-only), and a plain retry lands the op."""
    cols = ["k", "v"]
    delta = DeltaHarness(spark, str(tmp_path / "dcr"), mapped=False)
    ice = IcebergHarness(spark, str(tmp_path / "icr"))
    rows = [(1, 10), (2, 20)]
    delta.append(rows, cols, 1000)
    ice.append(rows, cols, 1000)
    delta.append([(3, 30)], cols, 2000)
    ice.append([(3, 30)], cols, 2000)
    want3 = _nsort([(1, 10), (2, 20), (3, 30)])
    v_tgt = 1  # the first append's delta version
    sid_tgt = 1001  # the first append's snapshot (seq-derived)

    # delta restore: crash at commit -> state unchanged, retry wins
    _crash_delta(delta.log, lambda: delta.log.restore(v_tgt,
                                                      now_ms=3000))
    assert delta.rows(cols) == want3
    delta.log.restore(v_tgt, now_ms=3000)
    assert delta.rows(cols) == _nsort(rows)

    # iceberg rollback: crash at metadata swap -> unchanged, retry wins
    _crash_iceberg(ice.t, lambda: ice.t.rollback_to(sid_tgt,
                                                    now_ms=3000))
    assert ice.rows(cols) == want3
    ice.t.rollback_to(sid_tgt, now_ms=3000)
    assert ice.rows(cols) == _nsort(rows)

    # update_spec: crash at metadata swap -> spec list unchanged
    specs_before = ice.t.metadata()["partition-specs"]
    _crash_iceberg(ice.t, lambda: ice.t.update_spec([("v", "long")],
                                                    now_ms=4000))
    assert ice.t.metadata()["partition-specs"] == specs_before
    assert ice.rows(cols) == _nsort(rows)
    ice.t.update_spec([("v", "long")], now_ms=4000)
    assert ice.t.metadata()["default-spec-id"] == 1
    ice.part_key = "v"
    ice.append([(4, 40)], cols, 5000)
    assert ice.rows(cols) == _nsort(rows + [(4, 40)])
