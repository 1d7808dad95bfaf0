#!/usr/bin/env python3
"""The benchmark's own tests. Each runs one real, short benchmark run.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check_pipeline  # noqa: E402
import gen_pipeline  # noqa: E402
import run as run_py  # noqa: E402


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.splitlines()[-1])


class FailureAccounting(unittest.TestCase):
    def test_forced_throw_is_counted_as_failed(self):
        base = ["--workload", "scoring_pipeline", "--seed", "3", "--seconds", "0"]
        clean = run(*base)
        forced = run(*base, "--fail-op", "master")
        # the known latest-filing and score-range faults fail
        # form990_detail in both runs
        self.assertEqual(clean["attempted"], 3)
        self.assertEqual(clean["failed"], 1)
        self.assertTrue(clean["correct"])
        # the forced throw adds one failed operation and is not expected
        self.assertEqual(forced["attempted"], 3)
        self.assertEqual(forced["failed"], 2)
        self.assertFalse(forced["correct"])

    def test_failed_time_is_never_a_success(self):
        ops = [{"name": "a", "round": 1, "wall_s": 2.0, "status": "ok", "error": ""},
               {"name": "b", "round": 1, "wall_s": 0.01, "status": "failed",
                "error": "RuntimeException: forced failure"},
               {"name": "c", "round": 1, "wall_s": 3.0, "status": "ok", "error": ""}]
        attempted, failed, ok_walls, correct = run_py.account("table_queries", ops, {})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(sorted(ok_walls), [2.0, 3.0])
        self.assertFalse(correct)
        # a wrong output counts like a throw; the known tie fault alone
        # keeps the run correct
        _, failed, ok_walls, correct = run_py.account(
            "scoring_pipeline", ops[:1], {("a", 1): {"sample_recompute"}})
        self.assertEqual((failed, ok_walls, correct), (1, [], False))
        _, failed, _, correct = run_py.account(
            "scoring_pipeline", [], {("form990_detail", 1): {"latest_filing_tie"}})
        self.assertEqual((failed, correct), (1, True))


class MetricNames(unittest.TestCase):
    def test_runs_print_exactly_the_declared_metrics(self):
        bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        res = {"workload": "query_families", "setup_s": [5.0, 1.0, 1.2],
               "tables_cache_build_s": [4.0, 0.8, 1.0], "tables_cache_bytes": 4e6,
               "shared_cache_bytes": 1e6, "round_wall_s": [3.0], "plans": [], "extra": [],
               "ops": [{"name": "q_ema", "family": "Panel", "kind": "query", "round": 1,
                        "group": "r1/q_ema", "start_ms": 0.0, "sink_start_ms": 10.0,
                        "end_ms": 3000.0, "build_s": 0.01, "wall_s": 3.0, "status": "ok",
                        "error": ""}],
               "groups": [{"group": "r1/q_ema", "jobs": 3, "stages": 3, "tasks": 9,
                           "task_ms": 2500, "shuffle_write": 1000, "shuffle_read": 1000,
                           "spill": 0, "peak_exec_mem": 10**6}]}
        e2e = run_py.end_to_end(res, [3.0])
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in bench["end_to_end"]))
        layers = run_py.per_layer(res, HERE)
        self.assertEqual(sorted(layers), sorted(m["name"] for m in bench["per_layer"]))
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for name, (_, unit) in list(e2e.items()) + list(layers.items()):
            self.assertEqual(unit, units[name], name)


class ScalarKernel(unittest.TestCase):
    def test_interpolate_and_renormalization(self):
        self.assertEqual(check_pipeline.interpolate(0.15, 0.40, -0.10), 0.5)
        self.assertIsNone(check_pipeline.interpolate(None, 0.4, -0.1))
        # nulls drop out of the weighted mean and the weights renormalize
        self.assertAlmostEqual(
            check_pipeline.renorm_mean([(0.5, 0.4), (None, 0.35), (1.0, 0.25)]),
            (0.5 * 0.4 + 1.0 * 0.25) / 0.65 * 100)
        self.assertIsNone(check_pipeline.renorm_mean([(None, 1.0)]))

    def test_range_block_composite_exceeds_100(self):
        # four domains at 100 renormalize to 100.00000000000001, as the
        # engine's weightedRenormMean computes it
        files = {(k, y): [] for k in gen_pipeline.ROW for y in gen_pipeline.YEARS}
        eins = gen_pipeline.range_block(files)
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "990"))
            for (kind, y), rows in files.items():
                if rows:
                    gen_pipeline.write_csv(os.path.join(d, "990", f"{kind}_{y}.csv"),
                                           gen_pipeline.EZ_HEADER, rows)
            panel = check_pipeline.panel_990(check_pipeline.filings_990(d),
                                             {str(e) for e in eins})
        self.assertEqual(len(panel), gen_pipeline.RANGE_BLOCK)
        for rows in panel.values():
            last = rows[-1]
            self.assertEqual([last["domain_" + d] for d in
                              ("liquidity", "solvency", "operations", "trend", "structure")],
                             [None, 100.0, 100.0, 100.0, 100.0])
            self.assertGreater(last["composite_score"], 100.0)

    def test_floors_never_lower(self):
        self.assertEqual(check_pipeline.floor(70.0, True, 65.0), 70.0)
        self.assertEqual(check_pipeline.floor(30.0, True, 65.0), 65.0)
        self.assertIsNone(check_pipeline.floor(None, True, 65.0))


if __name__ == "__main__":
    unittest.main()
