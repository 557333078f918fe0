"""The benchmark's own test: a tiny sf0.001 pass of every workload prints
every named metric with its unit, and a corrupted expected hash makes
the output check fail.

Usage (from the repository root; builds the engine on first use):
  python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402


def load(path):
    with open(path) as fh:
        return json.load(fh)


BENCH = load(os.path.join(ROOT, "BENCHMARK.json"))


def smoke(workload, trace, keep=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd + (["--keep"] if keep else []), cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, lines, result, names):
        printed = {}
        for line in lines:
            parts = line.split()
            if parts and parts[0] in ("metric", "layer"):
                printed[parts[1]] = parts[3]
        for name, unit in names:
            self.assertEqual(printed.get(name), unit, f"{name} not printed with {unit}")
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float))
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines[-2:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)

    def test_every_workload_prints_every_metric(self):
        e2e = [(m["name"], m["unit"]) for m in BENCH["end_to_end"]]
        layers = [(m["name"], m["unit"]) for m in BENCH["per_layer"]]
        for w in sorted(workloads.WORKLOADS):
            with self.subTest(workload=w, trace=0):
                self.check_metrics(*smoke(w, 0), e2e)
            with self.subTest(workload=w, trace=1):
                self.check_metrics(*smoke(w, 1), layers)

    def test_corrupted_expected_hash_fails_the_check(self):
        lines, result = smoke("federated_read", 0, keep=True)
        self.assertTrue(result["correct"])
        prov = json.loads(lines[0][len("provenance "):])
        run_dir = prov["run_dir"]
        try:
            out = os.path.join(run_dir, "out")
            stmts = load(os.path.join(out, "stmts.json"))
            summary = load(os.path.join(out, "summary.json"))
            _, twins, extra = workloads.build("federated_read", 7, prov["rows"])
            expected, actual, notes = verify.verify_run(
                ROOT, out, os.path.join(run_dir, "data"), stmts, twins, summary, extra)
            self.assertEqual(notes, [])
            self.assertEqual(verify.compare(expected, actual), [])
            victim = sorted(expected)[0]
            expected[victim] = "0" * 16
            self.assertEqual(verify.compare(expected, actual), [victim])
            # the failed statement counts every operation that ran it
            text = next(s["text"] for s in stmts if s["id"] == victim)
            with open(os.path.join(out, "ops.jsonl")) as fh:
                ops = [json.loads(x) for x in fh]
            e2e, _ = run.compute("federated_read", ops, stmts, summary, {text}, set(), 0)
            self.assertGreater(e2e["failed"], 0)
            self.assertGreater(e2e["fail_frac"], 0)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
