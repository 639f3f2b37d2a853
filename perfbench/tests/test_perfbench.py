"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

From the root of a checkout. The JVM test compiles the benchmark first
(as a benchmark run does) and takes about half a minute.
"""

import copy
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def scala_layer_metrics():
    """(name, unit) of Main.LayerMetrics, in order."""
    with open(os.path.join(BENCH, "src", "Main.scala")) as f:
        src = f.read()
    block = src[src.index("val LayerMetrics"):src.index("val Workloads")]
    return re.findall(r'"([A-Za-z0-9_.]+)" -> "([^"]+)"', block)


class SpecTest(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_spec()

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = []
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
            names.append(w["name"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m)
            names.append(m["name"])
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            names.append(m["name"])
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)), "names are used once")
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_workloads_match_the_runner(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_per_layer_matches_the_jvm(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]], scala_layer_metrics())


class ResultFormatTest(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_spec()

    def valid(self, trace):
        ms = self.spec["per_layer" if trace else "end_to_end"]
        return {"correct": True, "attempted": 12, "failed": 0,
                "metrics": {m["name"]: {"value": 1.25, "unit": m["unit"]} for m in ms}}

    def rejects(self, res, trace=0):
        with self.assertRaises(ValueError):
            run.check_result(res, self.spec, trace)

    def test_accepts_both_modes(self):
        run.check_result(self.valid(0), self.spec, 0)
        run.check_result(self.valid(1), self.spec, 1)

    def test_rejects_the_other_mode(self):
        self.rejects(self.valid(1), trace=0)

    def test_rejects_bad_fields(self):
        for mutate in (
            lambda r: r.pop("failed"),
            lambda r: r.update(extra=1),
            lambda r: r.update(correct="yes"),
            lambda r: r.update(attempted=0),
            lambda r: r.update(failed=True),
            lambda r: r.update(attempted=1.5),
            lambda r: r["metrics"].pop("setup_s"),
            lambda r: r["metrics"].update(other={"value": 1, "unit": "s"}),
            lambda r: r["metrics"]["setup_s"].update(unit="ms"),
            lambda r: r["metrics"]["setup_s"].update(value=float("nan")),
            lambda r: r["metrics"]["setup_s"].update(value="1"),
        ):
            res = copy.deepcopy(self.valid(0))
            mutate(res)
            self.rejects(res)


class JvmSelfTest(unittest.TestCase):
    def test_generator_stats_and_result_object(self):
        cp = build.build()
        work = os.path.join(build.OUT, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            p = subprocess.run(run.jvm_command(cp, work, "perfbench.SelfTest", [work]),
                               cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertNotIn("FAIL", p.stdout)
        line = [x for x in p.stdout.splitlines() if x.startswith("RESULT ")][0]
        res = json.loads(line[len("RESULT "):])
        self.assertEqual(res, {"correct": False, "attempted": 2, "failed": 1, "metrics": {
            "read_p50_ms": {"value": 1.0 / 3, "unit": "ms"},
            "setup_s": {"value": 12, "unit": "s"}}})


if __name__ == "__main__":
    unittest.main()
