"""The benchmark's own tests, at the tiny input size.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each case runs perfbench/run.py --tiny (one JVM each, about a minute on
four cores; the first also builds).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace):
    """(record, result) printed by one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--tiny"], cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.splitlines()
    record = json.loads(next(l for l in lines if l.startswith("perfbench: {"))
                        [len("perfbench: "):])
    return proc.returncode, record, json.loads(lines[-1])


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        # the graph workload writes all three generated tables
        cls.a = run("graph_3d_k500", 1, 0)
        cls.b = run("graph_3d_k500", 1, 1)
        cls.c = run("graph_3d_k500", 2, 0)

    def test_runs_are_correct(self):
        for rc, record, result in (self.a, self.b, self.c):
            self.assertEqual(rc, 0, record["problems"])
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], 1)

    def test_generator_is_deterministic(self):
        same = [r["digests"]["input"] for _, r, _ in (self.a, self.b)]
        self.assertEqual(same[0], same[1])
        self.assertNotEqual(same[0], self.c[1]["digests"]["input"])
        self.assertEqual(self.a[1]["digests"]["output"],
                         self.b[1]["digests"]["output"])

    def test_metric_names_match_benchmark_json(self):
        for key, result in (("end_to_end", self.a[2]),
                            ("per_layer", self.b[2])):
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            self.assertEqual(got, want)
            for m in result["metrics"].values():
                self.assertIsInstance(m["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
