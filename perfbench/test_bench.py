#!/usr/bin/env python3
"""The benchmark's own tests.

Usage (from the repository root): python3 perfbench/test_bench.py [-k name]

The first two tests are instant. The others run the benchmark (about a
minute per run on 4 cores):
  - a run with a deliberately failing op (a lookup against a store path
    that does not exist) exits non-zero, names the op, counts it as
    failed and keeps it out of the latency samples;
  - the listener counters of every op (jobs, tasks, input records,
    shuffle read and write bytes, output records and bytes) repeat
    exactly across two traced runs of the same seed, so count-based
    claims rest on a stable counter. Task run time is a time, not a
    count, and is not compared.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402
import metrics as M  # noqa: E402

RESULTS = os.path.join(ROOT, ".bench_build", "results")
COUNTERS = ["jobs", "tasks", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
            "output_records", "output_bytes"]


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


class StaticChecks(unittest.TestCase):
    def test_benchmark_json_matches_metric_lists(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], M.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], M.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, u) for n, u, _ in M.PER_LAYER])

    def test_compare_refuses_other_cpu_count(self):
        base = {"conditions": {"nproc": 4, "workload": "lookup", "seconds": 10, "trace": False},
                "metrics": {}, "per_layer": {}}
        other = json.loads(json.dumps(base))
        other["conditions"]["nproc"] = 32
        self.assertEqual(compare.comparable(base, base), [])
        self.assertEqual(compare.comparable(base, other), ["nproc"])
        os.makedirs(RESULTS, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=RESULTS) as d:
            a, b = os.path.join(d, "a.json"), os.path.join(d, "b.json")
            for path, res in ((a, base), (b, other)):
                with open(path, "w") as fh:
                    json.dump(res, fh)
            p = subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), a, b],
                               capture_output=True, text=True)
            self.assertEqual(p.returncode, 2)
            self.assertIn("nproc", p.stdout)


class Runs(unittest.TestCase):
    def test_failing_op_fails_the_run(self):
        code, line, err = run("--workload", "lookup", "--seed", "1", "--seconds", "3",
                              "--trace", "0", "--fail-op", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(line["correct"])
        self.assertGreaterEqual(line["failed"], 1)
        self.assertIn("op 1 (lookup", err)
        with open(os.path.join(RESULTS, "lookup-s1-t0.json")) as fh:
            res = json.load(fh)
        op1 = [o for o in res["ops"] if o["id"] == 1][0]
        self.assertFalse(op1["ok"])
        self.assertEqual(line["failed"], sum(1 for o in res["ops"] if not o["ok"]))

    def test_counters_repeat_at_one_seed(self):
        traces = []
        for _ in range(2):
            code, line, err = run("--workload", "lookup", "--seed", "7", "--seconds", "5",
                                  "--trace", "1")
            self.assertEqual(code, 0, err[-3000:])
            with open(os.path.join(RESULTS, "lookup-s7-t1.trace.json")) as fh:
                traces.append(json.load(fh)["ops"])
        # the k-th op of each kind is the same request in both runs; how
        # many fit in the run depends on the clock
        compared = 0
        for kind in ("lookup", "batch", "append"):
            a, b = ([o for o in t if o["kind"] == kind] for t in traces)
            for x, y in zip(a, b):
                self.assertEqual(x["tier"], y["tier"])
                for c in COUNTERS:
                    self.assertEqual(x[c], y[c], f"{kind} op {x['id']}/{y['id']} ({x['tier']}) {c}")
                compared += 1
        self.assertGreaterEqual(compared, 10)


if __name__ == "__main__":
    unittest.main()
