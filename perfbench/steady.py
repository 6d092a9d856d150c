#!/usr/bin/env python3
"""Steadiness runner: runs each workload of ``BENCHMARK.json`` repeatedly
and prints, for every end-to-end metric, the median, the quartiles and
the spread (interquartile distance as a share of the median) beside the
metric's bound.

    python3 perfbench/steady.py --runs 10 --seed 100
    python3 perfbench/steady.py --runs 5 --workloads curation
    python3 perfbench/steady.py --repeat-trace --seed 7

Run from the root of a checkout.  Rounds alternate the workload order so
that no workload always runs first.  A spread is marked ``ok`` when it is
below a third of the bound (``setup_s`` is exempt from the spread rule).
With ``--repeat-trace`` it instead runs each workload traced twice with
the same seed and lists every exact count that differs between the two.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metrics that are exact counts for a fixed seed.  Not
#: ``registry.meta_bytes_per_sync``: the catalog stores each file's mtime,
#: and the compressed size of those values differs by a few bytes.
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
         "spark.jobs_in_fn", "plan.exchanges", "queries.rows_out",
         "registry.shards", "delta.live_files", "delta.dv_files",
         "delta.log_versions", "delta.bytes_written_per_op",
         "registry.compact_bytes_rewritten", "io.plan_cache_growth",
         "memoize.growth")


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def spread_table(bench: dict, results: dict[str, list[dict]]) -> bool:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    steady = True
    for w, runs in results.items():
        walls = [r["wall_s"] for r in runs]
        print(f"\n{w}: {len(runs)} runs, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
              f"all correct: {all(r['correct'] for r in runs)}")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            ok = name == "setup_s" or spread < bound / 3
            steady &= ok
            print(f"  {name:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {bound:6.2f} {'ok' if ok else 'WIDE'}")
    return steady


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--repeat-trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]

    if args.repeat_trace:
        same = True
        for w in names:
            a, b = (run_once(bench, w, args.seed, 1) for _ in range(2))
            diff = [k for k in EXACT if a["metrics"][k]["value"]
                    != b["metrics"][k]["value"]]
            same &= not diff
            print(f"{w}: exact counts {'repeat' if not diff else 'DIFFER'}"
                  + "".join(f"\n  {k}: {a['metrics'][k]['value']} vs "
                            f"{b['metrics'][k]['value']}" for k in diff))
            for k, v in a["metrics"].items():
                print(f"  {k:36s} {v['value']:14.6g} "
                      f"{b['metrics'][k]['value']:14.6g} {v['unit']}")
        return 0 if same else 1

    results: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        order = names if i % 2 == 0 else names[::-1]
        for w in order:
            r = run_once(bench, w, args.seed + i, 0)
            results[w].append(r)
            print(f"run {i} {w}: {r['wall_s']:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in r["metrics"].items()), flush=True)
    return 0 if spread_table(bench, results) else 1


if __name__ == "__main__":
    sys.exit(main())
