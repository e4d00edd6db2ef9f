#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout. It builds the system and the harness
from source (perfbench/build.sbt, cached by a content stamp under
.bench_build/), runs the workload, checks every output, and prints one
JSON line last:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. The line before it carries the details
(per-workload meaning of each number, flags, raw counts). The workloads
and their parameters are in perfbench/workloads.json. The exit code is
non-zero when any check failed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
SUT_HEAP, LOADGEN_HEAP = "3g", "768m"
# a run must end within 180 s; the processes get what is left of this
DEADLINE_S = 170
# loadgen.late_p99_ms above this flags the run: the generator, not the
# system, set its latencies
LATE_BOUND_MS = 10.0
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---- build ----------------------------------------------------------------------

def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile the system and the harness; return the runtime classpath."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the system and the harness from source")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---- processes ----------------------------------------------------------------------

class Procs:
    """Every child process, stopped and waited for on exit."""

    def __init__(self):
        self.ps = []

    def start(self, cmd, **kw):
        p = subprocess.Popen(cmd, **kw)
        self.ps.append(p)
        return p

    def stop(self):
        for p in self.ps:
            if p.poll() is None:
                p.terminate()
        for p in self.ps:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def java(cp, main, heap, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", *JVM_OPENS, "-cp", cp, main]
            + [str(a) for a in args])


def run_workload(cp, wl, cfg, args, run_dir, deadline):
    """Run one workload to completion; returns the harness's sut.json."""
    procs = Procs()
    sut_log = open(os.path.join(run_dir, "sut.log"), "w")
    try:
        sut_args = ["--run_dir", run_dir, "--workload", wl,
                    "--seed", args.seed, "--seconds", args.seconds,
                    "--trace", args.trace]
        for k in ("rate", "warm_s", "burst_s", "burst_n", "min_passes"):
            if k in cfg:
                sut_args += [f"--{k}", cfg[k]]
        if wl == "query_suite":
            data = os.path.join(run_dir, "data")
            sys.path.insert(0, HERE)
            import gen_data
            gen_data.generate(data, int(args.seed), cfg["scale"])
            sut_args += ["--data", data, "--entries", ",".join(cfg["entries"])]
        else:
            lg = procs.start(
                java(cp, "perfbench.LoadGen", LOADGEN_HEAP, run_dir,
                     [run_dir, wl, args.seed]),
                stdout=subprocess.PIPE, stderr=sut_log, text=True)
            line = lg.stdout.readline().split()
            if len(line) != 2 or line[0] != "STUB":
                raise RuntimeError("load generator did not start")
            sut_args += ["--stub", line[1], "--ctl", line[1]]
        sut = procs.start(java(cp, "perfbench.Sut", SUT_HEAP, run_dir,
                               sut_args),
                          stdout=sut_log, stderr=sut_log)
        sut.wait(timeout=max(1, deadline - time.time()))
        for p in procs.ps:
            p.wait(timeout=max(1, deadline - time.time()))
        with open(os.path.join(run_dir, "sut.json")) as f:
            return json.load(f)
    finally:
        procs.stop()
        sut_log.close()


# ---- reduction ------------------------------------------------------------------------

def cpu_ticks():
    """The host's (total, steal) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def longs(path, ncols):
    a = np.fromfile(path, dtype="<i8")
    return a.reshape(-1, ncols)


REQ_COLS = ["due", "sent", "ack", "late", "status", "first", "rows", "uri"]


def reqs(run_dir, phase):
    p = os.path.join(run_dir, f"req_{phase}.bin")
    if not os.path.exists(p):
        return None
    a = longs(p, len(REQ_COLS))
    return {c: a[:, i] for i, c in enumerate(REQ_COLS)}


def q(xs, p):
    """Nearest-rank percentile."""
    xs = np.sort(np.asarray(xs, dtype=np.float64))
    if len(xs) == 0:
        return float("nan")
    return float(xs[min(len(xs) - 1, max(0, math.ceil(p * len(xs)) - 1))])


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def count(self, attempted, failed, what):
        self.attempted += int(attempted)
        self.failed += int(failed)
        if failed:
            self.notes.append(f"{what}: {int(failed)} of {int(attempted)}")
            log("check failed:", self.notes[-1])


def ingest_delivery(run_dir, wl, phases, sut, chk, details):
    """Per request of each phase: when its last row became visible
    downstream (µs, 0 = never). Also runs the delivery checks."""
    out = {}
    if wl == "proxy_ingest":
        details["duplicate_rows_by_phase"] = {}
        rows = longs(os.path.join(run_dir, "stub_rows.bin"), 2)
        arrival, count = rows[:, 0], rows[:, 1]
        with open(os.path.join(run_dir, "stub.json")) as f:
            stub = json.load(f)
        chk.count(stub["posts"], stub["bad"], "stub rows unmatched or on a wrong uri")
        fmt_rows = np.zeros(3, dtype=np.int64)
        ok_rows = np.zeros(len(count), dtype=bool)
        uri_of_row = np.full(len(count), -1, dtype=np.int64)
        for name in phases:
            r = reqs(run_dir, name)
            acked = r["status"] == 200
            for f in range(3):
                fmt_rows[f] += int(r["rows"][acked & (r["uri"] % 3 == f)].sum())
            # a request's rows are contiguous ids [first, first + rows)
            idx = np.repeat(r["first"][acked], r["rows"][acked]) + (
                np.arange(int(r["rows"][acked].sum()))
                - np.repeat(np.cumsum(r["rows"][acked]) - r["rows"][acked],
                            r["rows"][acked]))
            ok_rows[idx] = True
            uri_of_row[idx] = np.repeat(r["uri"][acked] % 3, r["rows"][acked])
            starts = np.concatenate([[0], np.cumsum(r["rows"][acked])[:-1]])
            last = np.maximum.reduceat(arrival[idx], starts) if len(idx) else idx
            seen = np.minimum.reduceat(count[idx] >= 1, starts) if len(idx) else idx
            vis = np.zeros(len(acked), dtype=np.int64)
            vis[acked] = np.where(seen.astype(bool), last, 0)
            out[name] = vis
            details["duplicate_rows_by_phase"][name] = int(
                np.maximum(count[idx].astype(np.int64) - 1, 0).sum())
        chk.count(len(count), int(((count != 0) & ~ok_rows).sum()),
                  "rows delivered that were never acked")
        # the multiset of delivered ids: each acked row exactly once. The
        # pipeline may send a group again only in a batch with a failed
        # send (its counters record those) or after a restart (the harness
        # never restarts the stream); any other repeat fails the run
        dup = count[ok_rows] > 1
        dups = int((count[ok_rows][dup] - 1).sum())
        details["duplicate_rows"] = dups
        details["send_errors"] = sut.get("send_errors", 0)
        # rows the pipeline's own counters say it sent; fewer than the stub
        # received means sends that the pipeline did not account for
        details["rows_sent"] = sut.get("rows_sent", 0)
        details["sends"] = sut.get("sends", 0)
        details["stub_posts"] = stub["posts"]
        if dups and details["send_errors"]:
            details["flags"].append(
                f"{dups} rows repeated after {details['send_errors']} failed sends")
            log(details["flags"][-1])
        else:
            chk.count(int(ok_rows.sum()), int(dup.sum()),
                      f"acked rows delivered more than once ({dups} repeats) "
                      "with no failed send and no restart")
        # the stub's per-format row counts, net of repeats (counted above)
        got = np.array(stub["format_rows"], dtype=np.int64)
        for f in range(3):
            got[f] -= int(np.maximum(count[uri_of_row == f] - 1, 0).sum())
        chk.count(3, int((got != fmt_rows).sum()),
                  f"per-format row counts (acked {fmt_rows.tolist()}, "
                  f"delivered {got.tolist()})")
    else:
        v = longs(os.path.join(run_dir, "visible.bin"), 2)
        vis_of = dict(zip(v[:, 0].tolist(), v[:, 1].tolist()))
        n = s = 0
        for name in phases:
            r = reqs(run_dir, name)
            acked = r["status"] == 200
            n += int(acked.sum())
            s += int(r["first"][acked].sum())
            out[name] = np.array([vis_of.get(int(i), 0) if a else 0
                                  for i, a in zip(r["first"], acked)],
                                 dtype=np.int64)
        lake = sut.get("lake", {})
        chk.count(2, (lake.get("count") != n) + (lake.get("id_sum") != s),
                  f"final snapshot parity (count {lake.get('count')} vs {n}, "
                  f"id-sum {lake.get('id_sum')} vs {s})")
    for name in phases:
        r = reqs(run_dir, name)
        # the closed-loop burst runs the edge past what the spool drains:
        # its 503 refusals are the backpressure contract, not failures
        ok = (r["status"] == 200) | ((r["status"] == 503) & (name == "burst"))
        chk.count(len(r["status"]), int((~ok).sum()),
                  f"{name}: non-200 responses")
        chk.count(int((r["status"] == 200).sum()),
                  int(((r["status"] == 200) & (out[name] == 0)).sum()),
                  f"{name}: acked requests not delivered")
    return out


def roll_lag_ms(run_dir, r):
    """Ack → drop file rolled, for the requests of one phase (p50, ms)."""
    first_to_ack = dict(zip(r["first"].tolist(), r["ack"].tolist()))
    lags = []
    drop = os.path.join(run_dir, "drop")
    for name in os.listdir(drop):
        if not name.startswith("req-"):
            continue
        rolled_us = int(name.split("-")[1]) * 1000
        with open(os.path.join(drop, name)) as f:
            for line in f:
                body = json.loads(line)["body"]
                head = body.lstrip("(")
                i = 0
                while i < len(head) and head[i].isdigit():
                    i += 1
                ack = first_to_ack.get(int(head[:i]))
                if ack:
                    lags.append((rolled_us - ack) / 1000.0)
    return q(lags, 0.5) if lags else 0.0


def reduce_ingest(run_dir, wl, cfg, sut, args, chk, e2e, layer, details):
    trace = args.trace == "1"
    names = ["warm"] + (["main_untraced", "main_traced"] if trace else ["main"])
    if wl == "proxy_ingest":
        names.append("burst")
    vis = ingest_delivery(run_dir, wl, names, sut, chk, details)
    ph = {p["name"]: p for p in sut["phases"]}

    def fresh(name):
        r = reqs(run_dir, name)
        ok = vis[name] > 0
        return (vis[name][ok] - r["due"][ok]) / 1000.0, r

    def phase_metrics(name):
        f, r = fresh(name)
        ack = (r["ack"] - r["due"])[r["status"] == 200] / 1000.0
        return {"latency_p50_ms": q(f, 0.5), "latency_p90_ms": q(f, 0.9),
                "late_p99_ms": q(r["late"], 0.99) / 1000.0,
                "ack_p50_ms": q(ack, 0.5), "ack_p90_ms": q(ack, 0.9),
                "ack_p99_ms": q(ack, 0.99)}

    # [kind, due, start, resolved, end, ok] per read, in µs
    reads = sut.get("reads", [])
    chk.count(len(reads), sum(1 for x in reads if not x[5]), "reads failed")

    def read_metrics(p):
        """Reads due in the phase, timed from their due time."""
        a, b = p["start_us"], p["drained_us"]
        rs = [x for x in reads if a <= x[1] < b and x[5]]
        lat = [(x[4] - x[1]) / 1000.0 for x in rs]
        return {"read_p50_ms": q(lat, 0.5), "read_p90_ms": q(lat, 0.9),
                "read_late_p50_ms": q([(x[2] - x[1]) / 1000.0 for x in rs], 0.5),
                # start to end of each read, by kind: what a read costs
                # apart from the queue in front of it
                "read_run_p50_ms": {k: q([(x[4] - x[2]) / 1000.0 for x in rs
                                          if x[0] == k], 0.5)
                                    for k in sorted({x[0] for x in rs})},
                "reads": len(rs)}

    def burst_rate():
        """Accepted req/s in the closed-loop burst: the median over three
        equal sub-windows, so one scheduling hiccup does not set it."""
        r = reqs(run_dir, "burst")
        chk.count(1, len(r["sent"]) >= int(cfg["burst_n"]),
                  "burst ran out of pre-built requests (raise burst_n)")
        t0, w = r["sent"].min(), float(cfg["burst_s"]) * 1e6 / 3
        acked = r["ack"][r["status"] == 200]
        return statistics.median(
            ((acked >= t0 + k * w) & (acked < t0 + (k + 1) * w)).sum()
            / (w / 1e6) for k in range(3))

    main = "main_traced" if trace else "main"
    m = phase_metrics(main)
    p = ph[main]
    if wl == "lake_ingest_read":
        m.update(read_metrics(p))
    else:
        m["accept_rps"] = burst_rate()
    m["cpu_ms_per_unit"] = p["cpu_ms"] / max(1, p["rows"]) * 1000.0
    if m["late_p99_ms"] > LATE_BOUND_MS:
        details["flags"].append(
            f"loadgen late: p99 {m['late_p99_ms']:.2f} ms > {LATE_BOUND_MS} ms; "
            "latencies of this run reflect a starved generator")
        log(details["flags"][-1])
    details["phase"] = m
    e2e["latency_ms"] = m["latency_p50_ms"]
    e2e["completion_ms"] = m["latency_p90_ms"]
    e2e["cpu_ms_per_unit"] = m["cpu_ms_per_unit"]
    if trace:
        u = phase_metrics("main_untraced")
        if wl == "lake_ingest_read":
            u.update(read_metrics(ph["main_untraced"]))
            layer["client.read_p50_ms"] = m["read_p50_ms"]
            layer["client.read_p90_ms"] = m["read_p90_ms"]
        else:
            layer["client.accept_rps"] = m["accept_rps"]
            layer["IngestPipeline.duplicate_rows"] = details["duplicate_rows"]
        details["untraced_half"] = u
        layer["trace.overhead_pct"] = (
            m["latency_p50_ms"] / u["latency_p50_ms"] - 1.0) * 100.0
        layer["client.ack_p50_ms"] = m["ack_p50_ms"]
        layer["client.ack_p99_ms"] = m["ack_p99_ms"]
        layer["loadgen.late_p99_ms"] = m["late_p99_ms"]
        layer["DropSpool.roll_lag_p50_ms"] = roll_lag_ms(run_dir, reqs(run_dir, main))


def reduce_queries(run_dir, cfg, sut, args, chk, e2e, layer, details):
    names = cfg["entries"]
    passes = sut.get("passes", [])
    execs = [(n, t) for p in passes for n, t in p["entries"].items()]
    cold = sut.get("cold_ms", {})
    chk.count(len(names), sum(1 for n in names if not cold.get(n)),
              "cold-pass query errors")
    chk.count(len(execs), sum(1 for _, t in execs if not t), "query errors")
    chk.count(*oracle_check(run_dir, names), "oracle mismatches")
    timed = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    use = traced if args.trace == "1" else timed
    ent = [t for p in use for t in p["entries"].values() if t]
    walls = [p["wall_ms"] for p in use]
    per_entry = {n: statistics.median([p["entries"][n] for p in use])
                 for n in names}
    e2e["latency_ms"] = math.exp(statistics.fmean(
        math.log(max(v, 1e-3)) for v in per_entry.values()))
    e2e["completion_ms"] = statistics.median(walls)
    e2e["cpu_ms_per_unit"] = sut["cpu_ms"] / max(1, len(execs))
    details["passes"] = len(use)
    details["pass_ms"] = [round(w, 1) for w in walls]
    details["entries_per_s"] = len(ent) / (sum(walls) / 1000.0)
    details["entry_p50_ms"] = q(ent, 0.5)
    details["entry_p90_ms"] = q(ent, 0.9)
    details["entry_median_ms"] = {n: round(v, 1) for n, v in per_entry.items()}
    if args.trace == "1":
        layer["client.pass_ms"] = statistics.median(walls)
        layer["trace.overhead_pct"] = (
            statistics.median(walls) /
            statistics.median([p["wall_ms"] for p in timed]) - 1.0) * 100.0


def oracle_check(run_dir, names):
    """Every entry's cold-pass result against its DuckDB oracle, with the
    multiset and float-tolerance rules of tools/check.py."""
    import duckdb
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    data = os.path.join(run_dir, "data")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for n in names:
        if n not in oracle:
            continue
        try:
            got = con.sql(
                f"SELECT * FROM '{run_dir}/results/{n}.parquet/*.parquet'").df()
            exp = con.sql(oracle[n]).df()
            ok, msg = compare(got, exp)
        except Exception as e:  # a missing result or a failing oracle
            ok, msg = False, str(e)
        if not ok:
            bad += 1
            log(f"oracle mismatch {n}: {msg[:300]}")
    return len(names), bad


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def compare(got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} vs {len(exp)}"
    g, e = _norm(got), _norm(exp)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if str(gc.dtype).startswith("float") or str(ec.dtype).startswith("float"):
            diff = (gc.astype(float) - ec.astype(float)).abs()
            tol = ec.astype(float).abs().clip(lower=1.0) * 1e-12
            if (diff > tol).any():
                return False, f"col {c}: float diffs"
        elif (gc.astype(str) != ec.astype(str)).any():
            return False, f"col {c}: value diffs"
    return True, ""


# ---- main --------------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true",
                    help="tiny rates, two queries, one pass")
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log("no system sources next to the benchmark: run from a checkout")
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in conf["workloads"]:
        log(f"unknown workload {args.workload}")
        return 2
    cfg = dict(conf["workloads"][args.workload])
    if args.smoke:
        cfg.update(conf["smoke"][args.workload])
    cp = build()
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    chk = Checks()
    e2e, layer = {}, {}
    details = {"workload": args.workload, "seed": int(args.seed), "flags": []}
    try:
        ticks0 = cpu_ticks()
        sut = run_workload(cp, args.workload, cfg, args, run_dir,
                           t0 + DEADLINE_S)
        # CPU time the hypervisor gave to other guests during the run: a
        # slow run with a high share is a loaded host, not a slow program
        ticks1 = cpu_ticks()
        details["host_steal_pct"] = round(
            100.0 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]), 2)
        for err in sut.get("errors", []):
            chk.count(1, 1, err)
        if args.workload == "query_suite":
            reduce_queries(run_dir, cfg, sut, args, chk, e2e, layer, details)
        else:
            reduce_ingest(run_dir, args.workload, cfg, sut, args, chk, e2e,
                          layer, details)
        e2e["setup_s"] = sut["setup_s"]
        e2e["live_heap_mb"] = sut["live_heap_mb"]
        details["peak_rss_mb"] = sut["peak_rss_mb"]
        layer["jvm.peak_rss_mb"] = sut["peak_rss_mb"]
        layer["host.calib_s"] = details["calib_s"] = sut["calib_s"]
        layer.update(sut.get("layers", {}))
        for k, v in sut.get("self_ms", {}).items():
            layer[f"self_ms.{k}"] = v
    except Exception as e:
        log(f"run failed: {e!r}")
        chk.count(1, 1, f"run: {e!r}")
    finally:
        if chk.failed:  # the system's own log, for the checks that failed
            p = os.path.join(run_dir, "sut.log")
            if os.path.exists(p):
                with open(p, errors="replace") as f:
                    sys.stderr.write("".join(f.readlines()[-80:]))
        shutil.rmtree(run_dir, ignore_errors=True)
    key = "per_layer" if args.trace == "1" else "end_to_end"
    metrics, missing = {}, []
    for m in bench[key]:
        v = (layer if args.trace == "1" else e2e).get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            if args.trace == "1":  # a layer this workload does not load
                v = 0.0
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    if missing:
        chk.count(len(missing), len(missing), f"metrics not measured {missing}")
    details["checks"] = chk.notes
    details["wall_s"] = round(time.time() - t0, 1)
    correct = chk.failed == 0 and not missing
    if not correct:  # last on stderr, after the system's log tail
        log("checks failed:", "; ".join(chk.notes))
    print(json.dumps(details))
    print(json.dumps({"correct": correct, "attempted": max(1, chk.attempted),
                      "failed": chk.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
