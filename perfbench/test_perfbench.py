#!/usr/bin/env python3
"""The benchmark's own tests: every workload end to end in smoke mode,
traced and untraced, printing every metric of BENCHMARK.json with its
unit; seeded inputs; refusal outside a graft checkout.

    python3 perfbench/test_perfbench.py          # about 5 minutes on 4 cores
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def smoke(self, workload, trace):
        out = run("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return result

    def test_analytics(self):
        self.smoke("analytics", 0)
        layers = self.smoke("analytics", 1)["metrics"]
        self.assertGreater(layers["spark.jobs"]["value"], 0)
        self.assertGreater(layers["q121_pagerank.wall_s"]["value"], 0)
        self.assertGreater(layers["similarity.task_cpu_s"]["value"], 0)

    def test_live(self):
        self.smoke("live", 0)
        layers = self.smoke("live", 1)["metrics"]
        self.assertGreater(layers["streaming.jobs_per_batch"]["value"], 0)
        self.assertGreater(layers["convert.quads_per_doc"]["value"], 0)
        self.assertGreater(layers["enrich.stays.quads_out"]["value"], 0)
        self.assertGreater(layers["rdf.jobs_per_request"]["value"], 0)
        # the durability check ran on the one drop's write-back
        with open(os.path.join(HERE, ".work", "results", "live-seed7-trace1.json")) as f:
            self.assertEqual(json.load(f)["metrics"]["writebacks_checked"], 1)


class InputsTest(unittest.TestCase):
    def digest(self, d):
        h = hashlib.sha1()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        return h.hexdigest()

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as t:
            for name in ("a", "b"):
                gen.tables(os.path.join(t, name, "tables"), 0.001, 3)
                gen.drops(os.path.join(t, name, "drops"), 2, 3, 3)
            gen.tables(os.path.join(t, "c", "tables"), 0.001, 4)
            self.assertEqual(self.digest(os.path.join(t, "a")), self.digest(os.path.join(t, "b")))
            self.assertNotEqual(self.digest(os.path.join(t, "a", "tables")),
                                self.digest(os.path.join(t, "c", "tables")))


class RefusalTest(unittest.TestCase):
    def test_refuses_outside_a_checkout(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(HERE, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            out = run("--workload", "live", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=t)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")


if __name__ == "__main__":
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    unittest.main()
