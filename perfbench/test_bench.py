"""Tests of the benchmark itself, on the tiny smoke inputs.

    python3 perfbench/test_bench.py        (from the root of a checkout)

They check that every metric of BENCHMARK.json is printed by name with
its unit, that a deliberately corrupted result trips its correctness
gate, that the generator is deterministic, and that the command fails
without printing a result when the library sources are absent.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def run(workload, trace=0, corrupt=None, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "smoke"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(p):
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricsPrinted(unittest.TestCase):
    def test_every_metric_by_name_and_unit(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run(w["name"], trace)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    res = result(p)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC[key]})
                    for m in SPEC[key]:
                        self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                        line = [l for l in p.stdout.splitlines() if l.split()[:1] == [m["name"]]]
                        self.assertTrue(line and line[0].split()[-1] == m["unit"], m["name"])


class GatesTrip(unittest.TestCase):
    def test_corrupted_result_fails_the_run(self):
        for workload, corrupt in (("ann_serve", "ta"), ("ann_serve", "recall"),
                                  ("ingest_serve", "durability"), ("dedup_pipeline", "dedup")):
            with self.subTest(workload=workload, corrupt=corrupt):
                p = run(workload, corrupt=corrupt)
                self.assertNotEqual(p.returncode, 0)
                res = result(p)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertIn("FAIL", p.stdout)


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        def digest(seed):
            d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
            try:
                gen.generate("dedup_pipeline", seed, "smoke", d)
                h = hashlib.sha256()
                for f in sorted(os.listdir(d)):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
                return h.hexdigest()
            finally:
                shutil.rmtree(d)
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        self.assertEqual(digest(3), digest(3))
        self.assertNotEqual(digest(3), digest(4))


class BareDirectory(unittest.TestCase):
    def test_no_library_no_result(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target"))
            p = run("ann_serve", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip().startswith("{"))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main(verbosity=2)
