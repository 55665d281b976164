"""Tests of the benchmark itself. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests -v

They build the engine (perfbench/build.py) and start a few short JVMs, so
the whole file takes about two minutes on 4 cores.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

SPEC = run.load("../BENCHMARK.json")
WORKLOADS = run.load("workloads.json")
# a query's build, plan, execute and sweep spans must cover its wall time to
# within this share; they are taken back to back on the driver thread, so
# only the clock reads between them are uncovered
SPAN_TOLERANCE_PCT = 1.0


def bench(workload, trace, seed=1, seconds=1):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    return json.loads(r.stdout.strip().splitlines()[-1]), r


class SmallestWorkload:
    """The traced and untraced results of one short run of the smallest
    workload, shared by the tests that read printed metrics or spans."""
    name = min(WORKLOADS, key=lambda w: sum(WORKLOADS[w]["nominal_s"].values()))
    _runs = {}

    @classmethod
    def result(cls, trace):
        if trace not in cls._runs:
            cls._runs[trace] = bench(cls.name, trace)[0]
        return cls._runs[trace]


class RegistryKeysTest(unittest.TestCase):
    def test_every_workload_key_is_a_registry_key(self):
        cp = run.build.build()
        os.makedirs(run.WORK, exist_ok=True)
        run.jvm(cp, "graftbench.Runner", ["--mode", "keys"], "keys.log")
        with open(os.path.join(run.WORK, "keys.log")) as fh:
            registry = {line.strip() for line in fh}
        for name, w in WORKLOADS.items():
            missing = set(w["keys"]) - registry
            self.assertFalse(missing, f"{name}: not in Registry.queries: {sorted(missing)}")

    def test_every_workload_key_has_a_digest(self):
        digests = run.load("digests.json")
        for name, w in WORKLOADS.items():
            have = digests[w["fixtures"]["tag"]]
            self.assertFalse(set(w["keys"]) - set(have), name)

    def test_benchmark_json_names_the_workloads(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(WORKLOADS))


class PrintedMetricsTest(unittest.TestCase):
    def check_printed(self, trace, section):
        out = SmallestWorkload.result(trace)
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 2 * len(WORKLOADS[SmallestWorkload.name]["keys"]))
        for m in SPEC[section]:
            self.assertIn(m["name"], out["metrics"])
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in SPEC[section]})

    def test_untraced_run_prints_every_end_to_end_metric(self):
        self.check_printed(0, "end_to_end")

    def test_traced_run_prints_every_per_layer_metric(self):
        self.check_printed(1, "per_layer")

    def test_spans_cover_each_query_wall_time(self):
        SmallestWorkload.result(1)
        path = os.path.join(run.WORK, f"trace-{SmallestWorkload.name}-1.json")
        with open(path) as fh:
            spans = json.load(fh)["spans"]
        queries = [s for s in spans if s["name"] == "query"]
        self.assertEqual(len(queries), len({s["trace"] for s in spans}))
        for q in queries:
            kids = [s for s in spans if s["parent"] == q["id"]]
            self.assertEqual({s["name"] for s in kids} & {"build", "plan", "execute", "sweep"},
                             {"build", "plan", "execute", "sweep"}, q["id"])
            self.assertTrue(all(s["trace"] == q["trace"] for s in kids))
        self.assertLessEqual(run.span_gap_pct(spans), SPAN_TOLERANCE_PCT)


class MaterialiseTest(unittest.TestCase):
    def test_timed_action_keeps_the_udf_columns_count_prunes(self):
        cp = run.build.build()
        os.makedirs(run.WORK, exist_ok=True)
        run.jvm(cp, "graftbench.Runner",
                ["--mode", "explain", "--key", "ml_feature_pipeline",
                 "--fixtures", os.path.join(BENCH, "fixtures", "sf0.01")], "explain.log")
        with open(os.path.join(run.WORK, "explain.log")) as fh:
            text = fh.read()
        timed = text.split("== timed ==")[1].split("== count ==")[0]
        counted = text.split("== count ==")[1]
        for column in ("nnz", "norm"):
            self.assertRegex(timed, r"UDF\([^\n]*\) AS " + column)
            self.assertNotRegex(counted, r"AS " + column + "#")


class FailureTest(unittest.TestCase):
    def test_a_query_that_throws_or_mismatches_fails_its_check(self):
        rec = {"key": "k", "pass": "warm", "rep": 0, "error": None, "rows": 3,
               "hash": "a", "ordered_hash": "b", "build_s": 1.0, "plan_s": 0.0, "exec_s": 0.0}
        self.assertIsNotNone(run.check(rec, {"mode": "unordered", "rows": 3, "hash": "x"}))
        self.assertIsNotNone(run.check(rec, {"mode": "rows", "rows": 4, "hash": None}))
        self.assertIsNone(run.check(rec, {"mode": "rows", "rows": 3, "hash": None}))
        self.assertIsNotNone(run.check(dict(rec, error="boom"), {"mode": "rows", "rows": 3}))


if __name__ == "__main__":
    unittest.main()
