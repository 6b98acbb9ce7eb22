"""Smoke tests: every workload at tiny size, untraced and traced, through the
benchmark command (builds the engine on first use; ~4 min in all).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS, END_TO_END, PER_LAYER = run.load_spec()
LAYERS = sorted({name.split(".")[0] for name, unit in PER_LAYER if name.endswith(".self_s")})


def bench(workload, trace, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, lines, p.stderr


def spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


class SmokeTest(unittest.TestCase):
    def check_result(self, workload, trace, expected):
        rc, lines, err = bench(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], lines)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual([(k, v["unit"]) for k, v in res["metrics"].items()], expected)
        return {k: v["value"] for k, v in res["metrics"].items()}

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                m = self.check_result(w, 0, END_TO_END)
                self.assertTrue(all(v > 0 for v in m.values()), m)

    def test_traced_recrawl(self):
        m = self.check_result("recrawl", 1, PER_LAYER)
        self.assertGreater(m["seenset.probe_s"], 0)
        self.assertGreater(m["snapshots.compact_s"], 0)
        self.assertGreater(m["crawler.scaling_eff"], 0)
        trace = os.path.join(ROOT, ".bench_build", "traces", "recrawl-seed7.jsonl")
        names = {s["name"].split(".")[0] for s in spans(trace) if s["type"] == "span"}
        self.assertLessEqual(set(LAYERS) - {"sparkentry"}, names)

    def test_traced_curate(self):
        m = self.check_result("curate", 1, PER_LAYER)
        self.assertEqual(m["seenset.probe_s"], 0)
        self.assertEqual(m["snapshots.compact_s"], 0)
        warm = {k: v for k, v in m.items() if k.startswith("query.") and k.endswith(".warm_s")}
        self.assertEqual(len(warm), 20)
        self.assertTrue(all(v > 0 for v in warm.values()), warm)
        recs = spans(os.path.join(ROOT, ".bench_build", "traces", "curate-seed7.jsonl"))
        self.assertEqual(recs[-1]["type"], "summary")
        self.assertIn("overhead_s", recs[-1])
        self.assertEqual(sum(1 for s in recs if s.get("name", "").startswith("sparkentry.")), 20)

    def test_fails_without_engine_sources(self):
        """In a tree holding only BENCHMARK.json and perfbench/, the command
        exits non-zero and prints no result."""
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            rc, lines, _ = bench("curate", 0, cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))


if __name__ == "__main__":
    unittest.main()
