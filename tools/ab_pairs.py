#!/usr/bin/env python3
"""Paired A/B runs of the benchmark in two checkouts.

    python3 tools/ab_pairs.py --parent <dir> --change <dir> \
        --workload lake_ingest_read [--workload ...] --pairs 10 \
        [--seeds 12] [--seconds 10] [--trace 0] [--out runs.json]

For each workload, runs `perfbench/run.py` once in each checkout per pair,
switching which side runs first from one pair to the next (pair 0: parent
first). Pair i uses seed seeds[i % len(seeds)] on both sides. Prints, per
workload and metric: each side's median and IQR/median, how many pairs the
change won (ties count for neither side; the direction comes from
BENCHMARK.json), the change's median relative to the parent's, and whether
the gain rule holds (wins >= 9/10 of the pairs and the medians differ by
more than the parent's IQR). Then failed/attempted per side and every
run's host_steal_pct. `--out` keeps every run's full result as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    details = json.loads(lines[-2]) if len(lines) > 1 else {}
    return {"checkout": checkout, "workload": workload, "seed": seed,
            "exit": p.returncode, "wall_s": round(time.time() - t0, 1),
            "result": result, "details": details,
            "stderr_tail": p.stderr.splitlines()[-5:] if p.returncode else []}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def better_of(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"]
            for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def report(workload, pairs, better):
    print(f"\n== {workload}: {len(pairs)} pairs")
    names = sorted({k for a, b in pairs
                    for k in a["result"].get("metrics", {})
                    if k in b["result"].get("metrics", {})})
    print(f"{'metric':36} {'parent':>10} {'iqr/med':>8} {'change':>10} "
          f"{'iqr/med':>8} {'rel':>7} {'wins':>6}  gain")
    for m in names:
        pa = [a["result"]["metrics"][m]["value"] for a, _ in pairs]
        ch = [b["result"]["metrics"][m]["value"] for _, b in pairs]
        if any(x is None for x in pa + ch):
            continue
        lower = better.get(m, "lower") == "lower"
        wins = sum(1 for x, y in zip(pa, ch)
                   if (y < x if lower else y > x))
        mp, mc = statistics.median(pa), statistics.median(ch)
        q1, q3 = quartiles(pa)
        c1, c3 = quartiles(ch)
        rel = (mc - mp) / mp if mp else float("nan")
        gain = (wins >= 0.9 * len(pairs) and
                ((mp - mc) if lower else (mc - mp)) > (q3 - q1))
        print(f"{m:36} {mp:10.4g} {(q3 - q1) / mp if mp else 0:8.3f} "
              f"{mc:10.4g} {(c3 - c1) / mc if mc else 0:8.3f} "
              f"{rel:+7.1%} {wins:3d}/{len(pairs):<2d}  "
              f"{'yes' if gain else 'no'}")
    for side, idx in (("parent", 0), ("change", 1)):
        runs = [p[idx] for p in pairs]
        failed = sum(r["result"].get("failed", 0) for r in runs)
        attempted = sum(r["result"].get("attempted", 0) for r in runs)
        steal = [r["details"].get("host_steal_pct") for r in runs]
        walls = [r["wall_s"] for r in runs]
        print(f"{side}: failed/attempted {failed}/{attempted}; "
              f"exit codes {[r['exit'] for r in runs]}")
        print(f"  host_steal_pct {steal}")
        print(f"  wall_s {walls}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="12")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    better = better_of(a.change)
    every = []
    for w in a.workload:
        pairs = []
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = [a.parent, a.change] if i % 2 == 0 else \
                [a.change, a.parent]
            got = {c: run_once(c, w, seed, a.seconds, a.trace) for c in order}
            pair = (got[a.parent], got[a.change])
            pairs.append(pair)
            every.extend(pair)
            print(f"[ab] {w} pair {i} seed {seed} first="
                  f"{'parent' if order[0] == a.parent else 'change'}: " +
                  ", ".join(f"{s}=" + json.dumps(
                      {k: v["value"] for k, v in
                       r["result"].get("metrics", {}).items()})
                      for s, r in zip(("parent", "change"), pair)),
                  file=sys.stderr, flush=True)
        report(w, pairs, better)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(every, f, indent=1)


if __name__ == "__main__":
    main()
