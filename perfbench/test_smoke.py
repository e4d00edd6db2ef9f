"""Smoke test of the benchmark: every workload at tiny rates (two queries,
one pass for query_suite), untraced and traced, must finish, pass its own
correctness checks and report every metric of BENCHMARK.json.

Run from the root of a checkout: python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(workload, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    # the harness's own messages name the checks that failed
    notes = "\n".join(ln for ln in r.stderr.splitlines()
                      if ln.startswith("[perfbench]"))
    details = lines[-2] if len(lines) > 1 else ""
    return (r.returncode, json.loads(lines[-1]) if lines else None,
            r.stderr[-1500:] + "\n" + notes + "\n" + details)


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        code, out, err = bench(workload, trace)
        self.assertIsNotNone(out, err)
        self.assertEqual(code, 0, err)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        if not trace:
            for m in want:
                self.assertGreater(out["metrics"][m["name"]]["value"], 0, m)
        return out["metrics"]

    def test_proxy_ingest(self):
        self.check("proxy_ingest", 0)

    def test_lake_ingest_read(self):
        self.check("lake_ingest_read", 0)

    def test_query_suite(self):
        self.check("query_suite", 0)

    def test_traced_runs_report_their_layers(self):
        m = self.check("proxy_ingest", 1)
        self.assertGreater(m["IngestPipeline.add_batch_ms"]["value"], 0)
        self.assertGreater(m["ClickHouseSink.sends"]["value"], 0)
        self.assertEqual(m["CommitLogWrite.versions"]["value"], 0)
        m = self.check("lake_ingest_read", 1)
        self.assertGreater(m["CommitLogWrite.versions"]["value"], 0)
        self.assertGreater(m["CommitLogTable.scan_ms_p50"]["value"], 0)
        self.assertEqual(m["IngestPipeline.add_batch_ms"]["value"], 0)
        m = self.check("query_suite", 1)
        self.assertGreater(m["ProxyQueries.jobs"]["value"], 0)
        self.assertGreater(m["sources.jobs"]["value"], 0)

    def test_refuses_to_run_without_the_system(self):
        # a directory holding only the benchmark: no result, non-zero exit
        import shutil
        import tempfile
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "proxy_ingest", "--seed", "1", "--seconds", "1", "--trace",
                 "0"], cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
