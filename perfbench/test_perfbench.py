"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # everything (~10 min)
    python3 perfbench/test_perfbench.py Catalogue  # one class

Run from the repository root. The workload tests run the tiny input size
of every workload through run.py, so they also build the engine on first
use.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("edgar-ingest", "minhash-stream")


def run(workload, seed, trace, cwd=ROOT, script=None, seconds=60):
    p = subprocess.run(
        [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


class Catalogue(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertEqual({w["name"] for w in b["workloads"]}, set(WORKLOADS))


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory(dir=BENCH) as d:
            a = inputs.edgar_mirror(5, 800, 20, os.path.join(d, "a"))
            b = inputs.edgar_mirror(5, 800, 20, os.path.join(d, "b"))
            c = inputs.edgar_mirror(6, 800, 20, os.path.join(d, "c"))
        self.assertEqual(a, b)
        self.assertNotEqual(a["files"], c["files"])
        self.assertEqual(a["kept"], c["kept"])  # every seed keeps as many filings
        self.assertGreater(a["form4_txns"], 0)
        self.assertGreater(a["kept"], a["meta_files"] * 0.9)
        self.assertEqual(inputs.make_documents(3, 300), inputs.make_documents(3, 300))

    def test_reference_is_not_trivial(self):
        with tempfile.TemporaryDirectory(dir=BENCH) as d:
            inputs.minhash_inputs(2, 300, d, 0.4)
            with open(os.path.join(d, "minhash_ref.tsv")) as f:
                pairs = f.readlines()
        self.assertGreater(len(pairs), 10)


class Workloads(unittest.TestCase):
    def check_line(self, p, names):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, names)
        return res

    def spans(self, workload, seed):
        with open(os.path.join(BENCH, ".out", f"{workload}-s{seed}.spans.jsonl")) as f:
            return [(s["name"], s["jobs"], s["stages"]) for s in map(json.loads, f)]

    def test_end_to_end_metrics_present_and_checked(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = self.check_line(run(w, 7, 0), dict(metrics.END_TO_END))
                for k, v in res["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_traced_metrics_present_and_counts_repeat(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                names = dict(metrics.PER_LAYER)
                self.check_line(run(w, 8, 1), names)
                first = self.spans(w, 8)
                self.check_line(run(w, 8, 1), names)
                self.assertEqual(first, self.spans(w, 8))
                self.assertTrue(any(jobs > 0 for _, jobs, _ in first))

    def test_seconds_is_a_ceiling_not_a_length(self):
        p = run("minhash-stream", 7, 0, seconds=0.01)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)
        self.assertIn("ceiling", p.stderr)


class BareDirectory(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        bare = os.path.join(BENCH, ".runs", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns(".runs", ".out", "target",
                                                          "__pycache__"))
            p = run("edgar-ingest", 1, 0, cwd=bare,
                    script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
