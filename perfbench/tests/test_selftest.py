"""Self-test of the benchmark on tiny inputs (sf0.001 gates, 10k flights).

    python3 -m unittest discover -s perfbench/tests -v     (from the repo root)

Checks that every metric of BENCHMARK.json is printed with its unit, that
traced spans nest (child inside parent, one run id), that an unknown gate
and a failing app call count as failures and lengthen `pass_s`, and that
the benchmark refuses to run without the program's sources. Takes a few minutes: it builds once and starts one JVM
per case.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seconds", "1",
                        *args], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, (json.loads(last) if last.startswith("{") else None), p


class SelfTest(unittest.TestCase):

    def assert_metrics(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        got = res["metrics"]
        self.assertEqual(set(got), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float))

    def assert_spans_nest(self, workload, seed):
        with open(os.path.join(ROOT, ".bench_out",
                               f"trace-{workload}-{seed}.json")) as f:
            spans = json.load(f)["spans"]
        self.assertTrue(spans)
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(len({s["run"] for s in spans}), 1)
        roots = [s for s in spans if s["parent"] < 0]
        self.assertEqual([s["name"] for s in roots], ["pass"])
        for s in spans:
            if s["parent"] >= 0:
                p = by_id[s["parent"]]
                self.assertLessEqual(p["start_ms"], s["start_ms"], s["name"])
                self.assertLessEqual(s["end_ms"], p["end_ms"], s["name"])
                self.assertLessEqual(s["jobs"], p["jobs"], s["name"])
        return spans

    def test_spec_matches_code(self):
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in SPEC["per_layer"]], layers.spec())

    def test_gates_end_to_end(self):
        rc, res, p = bench("--workload", "gates_light", "--seed", "5",
                           "--sf", "0.001")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assert_metrics(res, SPEC["end_to_end"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_gates_traced(self):
        rc, res, p = bench("--workload", "gates_light", "--seed", "6",
                           "--sf", "0.001", "--trace", "1")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assert_metrics(res, SPEC["per_layer"])
        spans = self.assert_spans_nest("gates_light", 6)
        gates = [s for s in spans if s["name"].startswith("q_")]
        self.assertEqual(len(gates), 12)
        for g in gates:
            kids = sorted(s["name"] for s in spans if s["parent"] == g["id"])
            self.assertEqual(kids, ["entry.build", "exec"], g["name"])
        self.assertGreater(res["metrics"]["exec.jobs"]["value"], 0)

    def test_unknown_gate_fails(self):
        rc, res, p = bench("--workload", "gates_light", "--seed", "7",
                           "--sf", "0.001",
                           "--gates", "q_s_scan_count,q_no_such_gate")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["failed"], res["attempted"])
        # a failed call is charged a whole run's time: never a shorter pass
        self.assertGreaterEqual(res["metrics"]["pass_s"]["value"],
                                run.FAIL_CHARGE_S)

    def test_failing_app_call(self):
        # without its input TrainApp.run throws at once, and ScoreApp.run
        # then finds no model: both calls fail, and each is charged a whole
        # run's time instead of the moment it failed
        rc, res, p = bench("--workload", "flight_lifecycle", "--seed", "9",
                           "--rows", "10000,5000", "--break-input", "train")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assert_metrics(res, SPEC["end_to_end"])
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (2, 2))
        self.assertGreaterEqual(res["metrics"]["pass_s"]["value"],
                                2 * run.FAIL_CHARGE_S)

    def test_flight_traced(self):
        # at 10k rows the depth-15 tree overfits, so the MAE bound of the
        # output check may fail; this case checks structure only
        rc, res, p = bench("--workload", "flight_lifecycle", "--seed", "8",
                           "--rows", "10000,5000", "--trace", "1")
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assert_metrics(res, SPEC["per_layer"])
        self.assert_spans_nest("flight_lifecycle", 8)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        for app in ("train", "score"):
            self.assertGreater(m[f"{app}.jobs"], 0)
            self.assertEqual(m[f"{app}.jobs"], m[f"{app}.jobs_untraced"])
            self.assertEqual(m[f"{app}.input_records"],
                             m[f"{app}.input_records_untraced"])

    def test_refuses_without_sources(self):
        bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, res, p = bench("--workload", "gates_light", "--seed", "1",
                               cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
