"""The benchmark's workloads: ``relational``, ``curation`` and ``ingest``.

Each is a closed loop with one client: the next operation starts when
the previous one returns.  A run does a fixed amount of work derived
from ``--seconds`` (whole passes over a query mix, or whole rounds of
the ingest loop), so every run of a workload takes the same number of
samples and the exact counters of the traced mode repeat run to run.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
import tracing

#: query mixes, by registry name
MIXES = {
    "relational": [
        "q01_pricing_summary", "q03_top_unshipped_orders",
        "q05_order_count_distribution", "q08_late_shipments",
        "q09_distinct_counts", "q12_top_orders_per_customer",
        "q21_regional_revenue", "q40_tumbling_window",
        "q42_session_windows", "q73_stratified_sample",
        "q75_gap_fill_locf", "q84_disjunctive_join_revenue",
    ],
    "curation": [
        "q55_tfidf", "q57_bpe_pretokens", "q59_repetition_signals",
        "q64_simhash_signatures", "q67_chargram_jaccard_pairs",
        "q70_cosine_topk", "q86_pii_redaction",
        "q108_edit_distance_pairs",
    ],
}

#: fixture sizes of the query workloads (lineitem = 6e6 x SF rows)
SF = 0.01
N_DOCS = 500
N_VECS = 500

#: warm-up passes over a query mix before measuring.  The first measured
#: pass still runs 5-20% slower than later ones (the JIT is not done); the
#: per-query median over three passes drops most of that, and a second
#: warm-up pass would not fit the run-time budget.
WARMUP_PASSES = 1

#: nominal seconds of one unit of work (a pass over a mix, a round of the
#: ingest loop) on a 4-core host; ``--seconds`` buys that many units
NOMINAL_UNIT_S = {"relational": 7.0, "curation": 4.0, "ingest": 6.0}

#: operations of a few milliseconds with no Spark work (a replayed batch id,
#: catalog and log garbage collection).  Their timer-level jitter would
#: dominate a geometric mean of per-kind medians, so they count in the
#: throughput and the tail but not in ``op_p50_gmean_s``.
BOOKKEEPING = frozenset({"dml.replay", "maint.vacuum", "maint.delta_vacuum"})

# ingest sizes
INIT_SHARDS = 160         # directory-table shards before the loop
SHARD_ROWS = 400          # rows per landed shard
LAND_PER_CYCLE = 16       # shards landed per cycle
RETIRE_PER_CYCLE = 4      # oldest shards removed per cycle
PRUNE_DAYS = 14           # width of the read_pruned date window
DELTA_INIT_ROWS = 30_000
APPEND_ROWS = 6_000
DELETE_ROWS = 1_500
MERGE_ROWS = 1_500        # half updates of live keys, half inserts
CYCLES_PER_ROUND = 3      # append, delete, merge; maintenance at the end
DAY0 = np.datetime64("2020-01-01", "D")


class Recorder:
    """Latencies, attempts and failures of the timed operations, plus the
    exact Spark counts of each operation in traced mode."""

    def __init__(self, spark, traced: bool):
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.traced = traced
        self.tracer = tracing.Tracer() if traced else None
        self.counter = (tracing.JobCounter(spark, self.tracer)
                        if traced else None)
        self.counts: dict[str, dict[str, int]] = defaultdict(
            lambda: defaultdict(int))
        self.op_id = 0

    def begin(self) -> int:
        self.op_id += 1
        if self.traced:
            self.tracer.set_op(self.op_id)
            self.counter.start(f"op{self.op_id}")
        return self.op_id

    def end(self, kind: str, seconds: float, groups=None) -> None:
        self.attempted += 1
        self.lat[kind].append(seconds)
        if self.traced:
            self.counter.stop()
            self.tracer.set_op(None)
            for g in groups or [f"op{self.op_id}"]:
                self.add_counts(kind, self.counter.counts(g))

    def add_counts(self, kind: str, counts: dict[str, int]) -> None:
        for k, v in counts.items():
            self.counts[kind][k] += v

    def timed(self, kind: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.begin()
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # a failed operation is a measured outcome
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return None
        finally:
            self.end(kind, time.perf_counter() - t0)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def all_latencies(self) -> list[float]:
        return [x for v in self.lat.values() for x in v]


def tail(values: list[float]) -> float:
    """The 90th percentile, nearest rank."""
    s = sorted(values)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def op_p50_gmean(lat: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency."""
    return gmean([median(v) for k, v in lat.items() if k not in BOOKKEEPING])


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def gmean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


def units_for(workload: str, seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_UNIT_S[workload]))


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it launched, in MB."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        pids.append(gw.proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cache_sizes() -> tuple[int, int]:
    """Entries of the table-plan cache and the expression memo."""
    from hadoop_sync_spark import io, memoize

    return len(io._PLAN_CACHE), len(memoize._CACHE)


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two listings."""
    return sum(sz for p, (sz, mt) in after.items()
               if before.get(p) != (sz, mt))


def dir_bytes(root: str) -> int:
    return sum(sz for sz, _ in dir_files(root).values())


# ==================================================================== queries
class QueryWorkload:
    """A seeded order of registry queries, each call ``fn()`` then
    ``collect()``, checked against its DuckDB oracle fingerprint."""

    def __init__(self, name: str, ctx):
        self.name = name
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "data")

    def prepare(self) -> None:
        from hadoop_sync_spark.io import TABLES
        from hadoop_sync_spark.queries import load_all

        datagen.generate_fixtures(self.data_dir, self.ctx.seed, SF,
                                  N_DOCS, N_VECS)
        reg = load_all()
        self.queries = [reg[n] for n in MIXES[self.name]]
        self.expected = oracle.oracle_fingerprints(
            self.data_dir, TABLES, self.queries, self.ctx.cpus)

    def setup(self, spark, rec: Recorder) -> None:
        """Warm-up passes (JIT, codegen, plan caches), checked."""
        self.spark = spark
        for _ in range(WARMUP_PASSES):
            for q in self.queries:
                df = q.fn(spark, self.data_dir)
                self._check(rec, q, df, df.collect(), counted=False)

    def _check(self, rec, q, df, rows, counted=True) -> None:
        got = oracle.fingerprint(df.columns, rows)
        if got != self.expected[q.name]:
            msg = (f"{q.name}: rows/digest {got} != oracle "
                   f"{self.expected[q.name]}")
            if counted:
                rec.fail(msg)
            else:
                raise RuntimeError("warm-up " + msg)

    def measure(self, rec: Recorder, units: int) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        self.extra = defaultdict(list)
        for _ in range(units):
            for i in rng.permutation(len(self.queries)):
                self._one(rec, self.queries[i])

    def _one(self, rec: Recorder, q) -> None:
        op = rec.begin()
        groups = [f"op{op}", f"op{op}-act"]
        t0 = time.perf_counter()
        try:
            if rec.traced:
                df = rec.tracer.span("queries.fn", q.fn, self.spark,
                                     self.data_dir)
                t1 = time.perf_counter()
                rec.counter.start(groups[1])
                rows = df.collect()
            else:
                df = q.fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                rows = df.collect()
        except Exception as e:  # a failed query is a measured outcome
            rec.end(q.name, time.perf_counter() - t0, groups)
            rec.fail(f"{q.name}: {type(e).__name__}: {e}")
            return
        t2 = time.perf_counter()
        rec.end(q.name, t2 - t0, groups)
        if rec.traced:
            self.extra["fn_s"].append(t1 - t0)
            self.extra["collect_s"].append(t2 - t1)
            self.extra["rows_out"].append(len(rows))
            self.extra["jobs_in_fn"].append(
                rec.counter.counts(groups[0])["jobs"])
            t3 = time.perf_counter()
            self.extra["exchanges"].append(tracing.plan_exchanges(df))
            rec.tracer.overhead_s += time.perf_counter() - t3
        self._check(rec, q, df, rows)

    def layer_metrics(self, rec: Recorder) -> dict[str, float]:
        ex = self.extra
        return {
            "queries.fn_s": median(ex["fn_s"]),
            "queries.collect_s": median(ex["collect_s"]),
            "queries.rows_out": mean(ex["rows_out"]),
            "spark.jobs_in_fn": mean(ex["jobs_in_fn"]),
            "plan.exchanges": mean(ex["exchanges"]),
        }


# ===================================================================== ingest
class IngestWorkload:
    """The hadoop-sync loop over a directory table of small parquet
    shards and a Delta table, both registered in one ``Registry``."""

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.src_dir = os.path.join(w, "inputs", "shards")
        self.delta_src = os.path.join(w, "inputs", "delta")
        self.table_dir = os.path.join(w, "tables", "li")
        self.delta_dir = os.path.join(w, "tables", "dt")
        self.meta_dir = os.path.join(w, "meta")

    # ------------------------------------------------------------- inputs
    def prepare(self, units: int) -> None:
        """Generate every input before timing: all shards the loop will
        land and every Delta batch it will apply."""
        rng = np.random.default_rng(self.ctx.seed)
        # one warm-up round, then ``units`` measured rounds
        n_cycles = (units + 1) * CYCLES_PER_ROUND
        n_shards = INIT_SHARDS + n_cycles * LAND_PER_CYCLE
        os.makedirs(self.src_dir)
        os.makedirs(self.delta_src)
        for k in range(n_shards):
            cols = datagen.lineitem_columns(
                rng, SHARD_ROWS, 150_000, 20_000, 1_000,
                first_key=k * 150_000)
            cols["l_shipdate"] = np.full(
                SHARD_ROWS, DAY0 + k, dtype="datetime64[us]")
            pq.write_table(pa.table(cols), self._src(k))

        def delta_batch(path, ids):
            n = len(ids)
            pq.write_table(pa.table({
                "id": np.asarray(ids, dtype=np.int64),
                "grp": rng.integers(0, 100, n).astype(np.int32),
                "val": np.round(rng.uniform(0, 1000, n), 2),
                "note": rng.choice(datagen.VOCAB, n),
            }), path)

        delta_batch(self._dsrc("init"), np.arange(DELTA_INIT_ROWS))
        self.plan = []  # (kind, arg) per cycle, applied in order
        next_id = DELTA_INIT_ROWS
        live_hi = DELTA_INIT_ROWS
        for c in range(n_cycles):
            kind = ("append", "delete", "merge")[c % CYCLES_PER_ROUND]
            if kind == "append":
                path = self._dsrc(f"append-{c}")
                delta_batch(path, np.arange(next_id, next_id + APPEND_ROWS))
                next_id += APPEND_ROWS
                live_hi = next_id
                self.plan.append((kind, path))
            elif kind == "delete":
                lo = int(rng.integers(0, live_hi - DELETE_ROWS))
                self.plan.append((kind, (lo, lo + DELETE_ROWS - 1)))
            else:
                upd = rng.choice(live_hi, MERGE_ROWS // 2, replace=False)
                ins = np.arange(next_id, next_id + MERGE_ROWS // 2)
                next_id += MERGE_ROWS // 2
                path = self._dsrc(f"merge-{c}")
                delta_batch(path, np.concatenate([upd, ins]))
                self.plan.append((kind, path))
        self.windows = rng.random(n_cycles)
        self.last_cycle = n_cycles

    def _src(self, k: int) -> str:
        return os.path.join(self.src_dir, f"day-{k:06d}.parquet")

    def _dsrc(self, name: str) -> str:
        return os.path.join(self.delta_src, f"{name}.parquet")

    # -------------------------------------------------------------- setup
    def setup(self, spark, rec: Recorder) -> None:
        """Build the catalog (initial min/max sync over ``INIT_SHARDS``
        shards, Delta table creation and sync), then one warm-up round."""
        from hadoop_sync_spark.delta_log import DeltaLog
        from hadoop_sync_spark.registry import Registry

        self.spark = spark
        os.makedirs(self.table_dir)
        self.live_shards: list[int] = []
        for k in range(INIT_SHARDS):
            os.link(self._src(k), self._dst(k))
            self.live_shards.append(k)
        self.next_shard = INIT_SHARDS
        self.reg = Registry(spark, self.meta_dir)
        self.reg.register("li", self.table_dir, partition_column="l_shipdate")
        self.reg.sync("li", fetch_min_max=True)
        self.log = DeltaLog(self.delta_dir)
        init = spark.read.parquet(self._dsrc("init"))
        self.log.append_stream_batch(init, "bench", 0)
        self.live_keys = set(range(DELTA_INIT_ROWS))
        self.batch_id = 0
        self.reg.register_delta("dt", self.delta_dir)
        self.reg.sync("dt")
        self.cycle = 0
        self.acct = defaultdict(float)
        self.keep_fracs = []
        self.delta_files = []
        warm = Recorder(spark, traced=False)
        self._round(warm)
        if warm.failed:
            raise RuntimeError("warm-up round failed: " + "; ".join(
                warm.errors[:3]))

    def _dst(self, k: int) -> str:
        return os.path.join(self.table_dir, f"day-{k:06d}.parquet")

    # --------------------------------------------------------------- loop
    def measure(self, rec: Recorder, units: int) -> None:
        self.acct = defaultdict(float)
        self.keep_fracs: list[float] = []
        self.delta_files: list[tuple[int, int]] = []  # (live, with a DV)
        for _ in range(units):
            self._round(rec)

    def _round(self, rec: Recorder) -> None:
        for _ in range(CYCLES_PER_ROUND):
            self._cycle(rec)
        self._maintain(rec)

    def _io(self, rec: Recorder, kind: str, fn, user_bytes: float = 0.0):
        """A timed operation with storage accounting around it."""
        before_m = dir_files(self.meta_dir)
        before_d = dir_files(self.delta_dir)
        out = rec.timed(kind, fn)
        wm = bytes_written(before_m, dir_files(self.meta_dir))
        wd = bytes_written(before_d, dir_files(self.delta_dir))
        self.acct["written"] += wm + wd
        self.acct["user"] += user_bytes
        self.acct[f"meta_written.{kind}"] += wm
        self.acct[f"delta_written.{kind}"] += wd
        self.acct[f"n.{kind}"] += 1
        return out

    def _cycle(self, rec: Recorder) -> None:
        from pyspark.sql import functions as F

        c = self.cycle
        self.cycle += 1
        reg = self.reg
        # land a batch by hard link and retire the oldest shards
        landed = 0
        for k in range(self.next_shard, self.next_shard + LAND_PER_CYCLE):
            os.link(self._src(k), self._dst(k))
            self.live_shards.append(k)
            landed += os.path.getsize(self._dst(k))
        self.next_shard += LAND_PER_CYCLE
        for k in self.live_shards[:RETIRE_PER_CYCLE]:
            os.unlink(self._dst(k))
        del self.live_shards[:RETIRE_PER_CYCLE]

        res = self._io(rec, "sync.li", lambda: reg.sync("li", fetch_min_max=True),
                       landed)
        self.acct["rows_synced"] += LAND_PER_CYCLE * SHARD_ROWS
        rec.check(res is not None and not res.noop and res.added
                  == LAND_PER_CYCLE and res.removed == RETIRE_PER_CYCLE,
                  f"cycle {c}: sync li returned {res}")
        rec.check(reg.diff("li").empty, f"cycle {c}: diff li not empty")
        res = self._io(rec, "noop_sync.li",
                       lambda: reg.sync("li", fetch_min_max=True))
        rec.check(res is not None and res.noop,
                  f"cycle {c}: re-sync li not a no-op: {res}")

        # pruned range count over the directory table
        first, last = self.live_shards[0], self.live_shards[-1]
        lo_day = first + int(self.windows[c] * (last - first - PRUNE_DAYS))
        hi_day = lo_day + PRUNE_DAYS - 1
        lo = str(DAY0 + lo_day) + " 00:00:00"
        hi = str(DAY0 + hi_day) + " 00:00:00"
        col = F.col("l_shipdate")
        rng_pred = (col >= F.lit(lo).cast("timestamp_ntz")) & (
            col <= F.lit(hi).cast("timestamp_ntz"))
        got = rec.timed("scan.pruned", lambda: reg.read_pruned("li", lo, hi)
                        .filter(rng_pred).count())
        if rec.traced:
            kept = len(reg.prune_files("li", lo, hi))
            self.keep_fracs.append(kept / len(self.live_shards))
        want = SHARD_ROWS * sum(1 for k in self.live_shards
                                if lo_day <= k <= hi_day)
        rec.check(got == want, f"cycle {c}: read_pruned count {got} != "
                  f"model {want}")
        if self.cycle == self.last_cycle:
            # a full scan of every shard costs more than the cycle itself,
            # so the pruned count meets it once per run, on the last cycle
            full = reg.read("li").filter(rng_pred).count()
            rec.check(got == full, f"cycle {c}: read_pruned count {got} "
                      f"!= full read {full}")

        # one Delta DML, rotating append / delete / merge
        kind, arg = self.plan[c]
        live_bytes = self._live_row_bytes()
        if kind == "append":
            df = self.spark.read.parquet(arg)
            self.batch_id += 1
            bid = self.batch_id
            ids = self._keys(arg)
            out = self._io(rec, "dml.append", lambda: self.log.append_stream_batch(
                df, "bench", bid), os.path.getsize(arg))
            rec.check(out is not None, f"cycle {c}: append returned None")
            if out is not None:
                self.live_keys |= ids
                self.acct["rows_synced"] += len(ids)
            out = self._io(rec, "dml.replay",
                           lambda: self.log.append_stream_batch(
                               df, "bench", bid - 1))
            rec.check(out is None,
                      f"cycle {c}: replayed batch {bid - 1} was applied")
        elif kind == "delete":
            lo_id, hi_id = arg
            gone = {k for k in self.live_keys if lo_id <= k <= hi_id}
            out = self._io(rec, "dml.delete", lambda: self.log.delete_where(
                self.spark, {"id": (lo_id, hi_id)}), len(gone) * live_bytes)
            rec.check(out is not None and out["rows_deleted"] == len(gone),
                      f"cycle {c}: delete_where {out} != model {len(gone)}")
            self.live_keys -= gone
        else:
            src = self.spark.read.parquet(arg)
            keys = self._keys(arg)
            out = self._io(rec, "dml.merge", lambda: self.log.merge_upsert(
                self.spark, src, "id"), os.path.getsize(arg))
            rec.check(out is not None, f"cycle {c}: merge_upsert failed")
            self.live_keys |= keys
            self.acct["rows_synced"] += len(keys)

        res = self._io(rec, "sync.dt", lambda: reg.sync("dt"))
        rec.check(res is not None and not res.noop,
                  f"cycle {c}: sync dt returned {res}")
        rec.check(reg.diff("dt").empty, f"cycle {c}: diff dt not empty")
        got = rec.timed("scan.delta", lambda: reg.read("dt").count())
        if rec.traced:
            live = self.log.snapshot().live.values()
            self.delta_files.append(
                (len(live), sum(1 for a in live if a.get("deletionVector"))))
        rec.check(got == len(self.live_keys),
                  f"cycle {c}: Delta read count {got} != model "
                  f"{len(self.live_keys)}")

    def _maintain(self, rec: Recorder) -> None:
        self._io(rec, "maint.vacuum", lambda: self.reg.vacuum(keep_last=3))
        res = self._io(rec, "maint.compact", lambda: self.reg.compact("dt"))
        rec.check(res is not None, "compact dt failed")
        if res is not None:
            self.acct["compact_bytes_in"] += res.bytes_in
            self.acct["compacts"] += 1
        self._io(rec, "maint.delta_vacuum", lambda: self.log.vacuum())
        rec.check(self.reg.diff("dt").empty, "diff dt not empty after compact")

    def _keys(self, path: str) -> set[int]:
        return set(pq.read_table(path, columns=["id"])["id"].to_pylist())

    def _live_row_bytes(self) -> float:
        snap = self.log.snapshot()
        size = sum(a.get("size", 0) for a in snap.live.values())
        rows = len(self.live_keys)
        return size / rows if rows else 0.0

    # ------------------------------------------------------------ metrics
    def live_data_bytes(self) -> int:
        snap = self.log.snapshot()
        delta = sum(os.path.getsize(os.path.join(self.delta_dir, f))
                    for f in snap.files)
        return delta + sum(os.path.getsize(self._dst(k))
                           for k in self.live_shards)

    def storage(self) -> dict[str, float]:
        on_disk = (dir_bytes(self.table_dir) + dir_bytes(self.delta_dir)
                   + dir_bytes(self.meta_dir))
        return {
            "bytes_written_per_byte":
                self.acct["written"] / max(self.acct["user"], 1.0),
            "space_per_live_byte": on_disk / max(self.live_data_bytes(), 1),
        }

    def layer_metrics(self, rec: Recorder) -> dict[str, float]:
        t = rec.tracer
        a = self.acct
        syncs = ("sync.li", "sync.dt")
        dmls = ("dml.append", "dml.replay", "dml.delete", "dml.merge")
        n_sync = sum(a[f"n.{k}"] for k in syncs) or 1
        meta_synced = sum(a[f"meta_written.{k}"] for k in syncs)
        dml_written = sum(a[f"delta_written.{k}"] for k in dmls)
        n_dml = sum(a[f"n.{k}"] for k in dmls) or 1
        return {
            "registry.sync_s": median(t.durations("registry.sync")),
            "registry.diff_s": median(t.durations("registry.diff",
                                                  "registry.sync")),
            "registry.sync_self_s": median(t.self_times("registry.sync")),
            "registry.noop_sync_s": median(rec.lat["noop_sync.li"]),
            "registry.shards": len(self.reg.shards()),
            "registry.meta_bytes_per_sync": meta_synced / n_sync,
            "registry.prune_s": median(t.durations("registry.prune")),
            "registry.prune_keep_frac": mean(self.keep_fracs),
            "registry.read_s": median(t.durations("registry.read")),
            "registry.vacuum_s": median(t.durations("registry.vacuum")),
            "registry.compact_s": median(t.durations("registry.compact")),
            "registry.compact_bytes_rewritten":
                a["compact_bytes_in"] / (a["compacts"] or 1),
            "delta.append_s": median(t.durations("delta.append")),
            "delta.delete_s": median(t.durations("delta.delete")),
            "delta.merge_s": median(t.durations("delta.merge")),
            "delta.read_s": median(t.durations("delta.read")),
            "delta.snapshot_s": median(t.durations("delta.snapshot")),
            "delta.compact_s": median(t.durations("delta.compact")),
            "delta.dv_files": mean([dv for _, dv in self.delta_files]),
            "delta.live_files": mean([n for n, _ in self.delta_files]),
            "delta.log_versions": len(self.log.versions()),
            "delta.bytes_written_per_op": dml_written / n_dml,
        }
