"""Tests of the benchmark itself. From the checkout root:

    python3 -m unittest vdbbench/test_bench.py

They build the harness (build.py) when it is stale and start short
local-mode JVMs, so they take about a minute.
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree(root):
    """{relative path: bytes} of every file below root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def scratch():
    base = os.path.join(run.ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_same_bytes(self):
        for w in run.WORKLOADS:
            with scratch() as a, scratch() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                ta, tb = tree(a), tree(b)
                self.assertTrue(ta, w)
                self.assertEqual(sorted(ta), sorted(tb), w)
                for k in ta:
                    self.assertEqual(ta[k], tb[k], "%s: %s differs" % (w, k))

    def test_seed_changes_build_inputs(self):
        with scratch() as a, scratch() as b:
            gen.generate("build_daily", 1, a)
            gen.generate("build_daily", 2, b)
            self.assertNotEqual(tree(a), tree(b))

    def test_daily_layout_has_one_tracker_file_per_cve(self):
        with scratch() as a:
            gen.generate("build_daily", 1, a)
            files = sum(len(os.listdir(os.path.join(a, "ubuntu", s)))
                        for s in ("active", "retired"))
            self.assertEqual(files, gen.FEEDS["ubuntu"])


class InputsTest(unittest.TestCase):

    def test_every_generated_input_yields_rows(self):
        for w in run.WORKLOADS:
            rows = run.run_one(w, 1, 1, 0, check_inputs=True)
            self.assertIsNotNone(rows, w)
            for name, n in rows.items():
                self.assertGreater(n, 0, "%s: %s parsed to no rows" % (w, name))


class MetricNamesTest(unittest.TestCase):

    def test_printed_metrics_are_the_benchmark_json_metrics(self):
        classpath, jars = build.ensure()
        out = subprocess.run(
            ["java", "-cp", classpath + os.pathsep + os.path.join(jars, "*"),
             "vdbbench.Main", "--list-metrics"],
            check=True, capture_output=True, text=True).stdout
        printed = json.loads(out.strip().splitlines()[-1])
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for key in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in printed[key]],
                             [(m["name"], m["unit"]) for m in bench[key]], key)
        self.assertEqual(sorted(run.WORKLOADS), sorted(w["name"] for w in bench["workloads"]))


if __name__ == "__main__":
    unittest.main()
