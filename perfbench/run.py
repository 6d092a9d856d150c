#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine's
session from ``hadoop_sync_spark.session.get_spark`` on ``local[N]``
(N = the usable cores, at most 2, also exported as ``SPARK_GRAFT_CPUS``),
warms it up, runs about ``--seconds`` of work, checks every result and
prints one JSON line: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1``.  Exits 1 if any result is wrong,
2 if the program is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "curation", "ingest")
#: two task slots leave the rest of a 4-core host to the driver, the
#: JVM's JIT and GC threads and the Python workers (see README.md)
MAX_CPUS = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_gmean_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.fn_s": "s",
    "queries.collect_s": "s",
    "queries.rows_out": "rows",
    "spark.jobs_in_fn": "count",
    "io.plan_cache_entries": "count",
    "io.plan_cache_growth": "count",
    "memoize.entries": "count",
    "memoize.growth": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "plan.exchanges": "count",
    "registry.sync_s": "s",
    "registry.diff_s": "s",
    "registry.sync_self_s": "s",
    "registry.noop_sync_s": "s",
    "registry.shards": "count",
    "registry.meta_bytes_per_sync": "bytes",
    "registry.prune_s": "s",
    "registry.prune_keep_frac": "ratio",
    "registry.read_s": "s",
    "registry.vacuum_s": "s",
    "registry.compact_s": "s",
    "registry.compact_bytes_rewritten": "bytes",
    "delta.append_s": "s",
    "delta.delete_s": "s",
    "delta.merge_s": "s",
    "delta.read_s": "s",
    "delta.snapshot_s": "s",
    "delta.compact_s": "s",
    "delta.dv_files": "count",
    "delta.live_files": "count",
    "delta.log_versions": "count",
    "delta.bytes_written_per_op": "bytes",
    "ingest.sync_p50_s": "s",
    "ingest.sync_tail_s": "s",
    "ingest.dml_p50_s": "s",
    "ingest.scan_p50_s": "s",
    "ingest.rows_per_s": "rows/s",
    "ingest.bytes_written_per_byte": "ratio",
    "ingest.space_per_live_byte": "ratio",
    "trace.overhead_frac": "ratio",
}


class Context:
    def __init__(self, seed: int, cpus: int, work: str):
        self.seed = seed
        self.cpus = cpus
        self.work = work


def _environment(work: str, cpus: int) -> None:
    """Everything the session and its workers inherit; set before the
    JVM starts.  Temporary files stay inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import workloads as W

    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, cpus)
    sys.path.insert(0, ROOT)
    from hadoop_sync_spark.compat.protobuf_shim import ensure_protobuf

    ensure_protobuf()
    ctx = Context(args.seed, cpus, work)
    units = W.units_for(args.workload, args.seconds)
    spark = None
    try:
        if args.workload == "ingest":
            wl = W.IngestWorkload(ctx)
            wl.prepare(units)
        else:
            wl = W.QueryWorkload(args.workload, ctx)
            wl.prepare()

        from hadoop_sync_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        rec = W.Recorder(spark, traced=bool(args.trace))
        wl.setup(spark, rec)
        setup_s = time.perf_counter() - t0
        caches_warm = W.cache_sizes()

        if rec.traced:
            rec.tracer.install()
        t_loop = time.perf_counter()
        wl.measure(rec, units)
        loop_s = time.perf_counter() - t_loop
        if rec.traced:
            rec.tracer.uninstall()

        lat = rec.all_latencies()
        metrics = {
            "setup_s": setup_s,
            "op_p50_gmean_s": W.op_p50_gmean(rec.lat),
            "op_tail_s": W.tail(lat),
            "ops_per_s": len(lat) / loop_s,
        }
        if rec.traced:
            metrics = _layer_metrics(W, wl, rec, start_s, loop_s,
                                     caches_warm, args)
        units_of = PER_LAYER if rec.traced else END_TO_END
        for err in rec.errors[:20]:
            print("FAILED:", err, file=sys.stderr)
        print("latencies:", json.dumps(rec.lat), file=sys.stderr)
        return {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units_of.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(W, wl, rec, start_s, loop_s, caches_warm, args) -> dict:
    import tracing

    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = start_s
    out["session.peak_rss_mb"] = W.peak_rss_mb()
    plan_end, memo_end = W.cache_sizes()
    out["io.plan_cache_entries"] = plan_end
    out["io.plan_cache_growth"] = plan_end - caches_warm[0]
    out["memoize.entries"] = memo_end
    out["memoize.growth"] = memo_end - caches_warm[1]
    n_ops = rec.attempted or 1
    for key in ("jobs", "stages", "tasks", "tasks_failed"):
        total = sum(c[key] for c in rec.counts.values())
        out[f"spark.{key}"] = total / n_ops
    out.update(wl.layer_metrics(rec))
    if args.workload == "ingest":
        out.update({f"ingest.{k}": v for k, v in wl.storage().items()})

        def lat(*kinds):
            return [x for k in kinds for x in rec.lat[k]]

        def p50(*kinds):
            return W.op_p50_gmean({k: rec.lat[k] for k in kinds})

        out["ingest.sync_p50_s"] = p50("sync.li", "sync.dt")
        out["ingest.sync_tail_s"] = max(lat("sync.li", "sync.dt"))
        out["ingest.dml_p50_s"] = p50("dml.append", "dml.delete", "dml.merge")
        out["ingest.scan_p50_s"] = p50("scan.pruned", "scan.delta")
        out["ingest.rows_per_s"] = wl.acct["rows_synced"] / loop_s
    spans = len(rec.tracer.spans)
    cost = spans * tracing.span_cost_s() + rec.tracer.overhead_s
    out["trace.overhead_frac"] = cost / loop_s
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rec.tracer.write(os.path.join(
        out_dir, f"spans-{args.workload}-{args.seed}.json"))
    return out


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed str hashing, so set and dict orders repeat run to run in
        # the driver and in the Python workers that inherit the variable
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_sync_spark")):
        print(f"perfbench: no hadoop_sync_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
