"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

Runs every workload briefly (about four minutes in all on four cores): the
output must carry every metric BENCHMARK.json declares, with its unit, and
pass its correctness checks. The `selftest` workload checks the generators
(same seed, same inputs; other seed, other inputs; planted counts match the
generated files) and the tail-percentile sample rule.
"""
import json
import os
import re
import shutil
import subprocess
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
_runs = {}


def run(workload, seed, trace, seconds="1"):
    key = (workload, seed, trace)
    if key not in _runs:
        p = subprocess.run(
            ["python3", os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        _runs[key] = p
    return _runs[key]


def result(p):
    return json.loads(p.stdout.strip().splitlines()[-1])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)

    def test_refuses_without_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for f in ("run.py", "build.sbt"):
            shutil.copy(os.path.join(BENCH, f), os.path.join(bare, "perfbench"))
        shutil.copytree(os.path.join(BENCH, "src"), os.path.join(bare, "perfbench", "src"))
        p = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                              "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


class SelfTest(unittest.TestCase):
    def test_generators_and_rules(self):
        p = run("selftest", 7, 0)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        r = result(p)
        self.assertEqual(r["failed"], 0, p.stdout)
        self.assertGreaterEqual(r["attempted"], 10)


class WorkloadTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run(workload, 5, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        r = result(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stdout)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"]
                for m in SPEC["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        self.assertEqual(got, want)
        if not trace:
            for k, v in r["metrics"].items():
                self.assertGreater(v["value"], 0, k)
        return p

    def test_jx_service(self):
        self.check("jx_service", 0)

    def test_jx_service_traced(self):
        p = self.check("jx_service", 1)
        self.assertIn("blocking time", p.stdout)

    def test_etl_ingest(self):
        self.check("etl_ingest", 0)

    def test_etl_ingest_traced(self):
        p = self.check("etl_ingest", 1)
        self.assertIn("blocking time", p.stdout)

    def test_corpus_curate(self):
        self.check("corpus_curate", 0)

    def test_corpus_curate_traced(self):
        p = self.check("corpus_curate", 1)
        self.assertIn("blocking time", p.stdout)

    def test_corpus_digest_repeats_across_runs(self):
        def digest(p):
            return re.search(r"final_md5 digest (\w+)", p.stdout).group(1)
        first = digest(run("corpus_curate", 5, 0))
        again = digest(run("corpus_curate", 5, 0, seconds="2"))
        other = digest(run("corpus_curate", 6, 0))
        self.assertEqual(first, again)
        self.assertNotEqual(first, other)


if __name__ == "__main__":
    unittest.main()
