#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/tests/test_bench.py

- the same seed gives the same corpus digest, another seed another one;
- an operation made to throw is counted as failed, not timed;
- BENCHMARK.json names exactly the metrics run.py prints.
"""
import importlib.util
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
spec = importlib.util.spec_from_file_location("bench_run", HERE / "run.py")
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def classes():
    jars = bench.spark_jars()
    srcs = bench.sources()
    out, _ = bench.build(jars, srcs, bench.source_digest(srcs))
    return jars, out


class BenchTest(unittest.TestCase):
    def digest(self, seed, docs=800):
        jars, out = classes()
        r = subprocess.run([bench.java_bin(), "-XX:-UsePerfData", "-cp", f"{out}:{jars}/*", "graftbench.CorpusDigest",
                            str(seed), str(docs)], capture_output=True, text=True, check=True)
        return r.stdout.split()

    def test_same_seed_same_digest(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertEqual(a[1], "800")
        self.assertGreater(int(a[2]), 0)

    def test_throwing_operation_is_failed(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "neardup_dedup",
                            "--seed", "3", "--seconds", "1", "--trace", "0", "--fail-op", "0"],
                           capture_output=True, text=True, cwd=ROOT)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        self.assertGreater(last["attempted"], last["failed"] - 1)

    def test_benchmark_json_matches(self):
        b = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], bench.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], bench.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(bench.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
