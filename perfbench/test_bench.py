#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic; no Spark needed.

Usage: python3 perfbench/test_bench.py
"""
import bisect
import contextlib
import io
import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402

CATALOG = ([{"name": f"q{i:03d}", "oracle": True, "stream_rig": False} for i in range(200)] +
           [{"name": f"t{i}", "oracle": False, "stream_rig": True} for i in range(10)])
COSTS = {f"q{i:03d}": 0.1 + (i * 37 % 200) / 50 for i in range(200)}


class Seeds(unittest.TestCase):
    def test_one_seed_gives_one_sample(self):
        self.assertEqual(plan.analyst_sample(CATALOG, COSTS, 7, 16),
                         plan.analyst_sample(CATALOG, COSTS, 7, 16))
        self.assertEqual(plan.whatif_moves(7, 8), plan.whatif_moves(7, 8))

    def test_two_seeds_give_different_samples(self):
        self.assertNotEqual(plan.analyst_sample(CATALOG, COSTS, 1, 16),
                            plan.analyst_sample(CATALOG, COSTS, 2, 16))
        self.assertNotEqual(plan.whatif_moves(1, 8), plan.whatif_moves(2, 8))

    def test_sample_is_one_query_per_cost_stratum_and_no_rigs(self):
        s = plan.analyst_sample(CATALOG, COSTS, 3, 16)
        self.assertEqual(len(set(s)), 16)
        self.assertFalse(any(q.startswith("t") for q in s))
        ranked = sorted(COSTS, key=lambda q: (COSTS[q], q))
        cut = [i * len(ranked) // 16 for i in range(17)]
        strata = sorted(bisect.bisect_right(cut, ranked.index(q)) - 1 for q in s)
        self.assertEqual(strata, list(range(16)))

    def test_rerecording_keeps_every_seeds_sample(self):
        # a record run on another host times every call differently
        rerun = {"calls": [{"name": q, "ok": True, "checks": [{}], "start": 0,
                            "end": int(1000 * (5 - c))} for q, c in COSTS.items()] +
                          [{"name": "q_new", "ok": True, "checks": [{}], "start": 0, "end": 700}]}
        merged = run.merge_costs(COSTS, rerun)
        self.assertEqual({k: merged[k] for k in COSTS}, COSTS)
        self.assertEqual(merged["q_new"], 0.7)
        for seed in (1, 2, 3):
            self.assertEqual(plan.analyst_sample(CATALOG, merged, seed, 16),
                             plan.analyst_sample(CATALOG, COSTS, seed, 16))

    def test_every_slider_setting_is_recordable(self):
        keys = {m["signals_key"] for m in plan.all_moves()} | \
               {m["metrics_key"] for m in plan.all_moves()}
        for m in plan.whatif_moves(11, 64):
            self.assertIn(m["signals_key"], keys)
            self.assertIn(m["metrics_key"], keys)


class Report(unittest.TestCase):
    def test_report_parses_spans_and_ranks_by_dominant_layer(self):
        doc = {"workload": "curation_graph", "seed": 1, "spans": [
            {"name": "pass 2", "pass": "traced", "start_ms": 0, "end_ms": 5000, "parent": None},
            {"name": "d11_pr_corpus", "pass": "traced", "start_ms": 0, "built_ms": 100,
             "end_ms": 3000, "parent": "pass 2",
             "layers": {"planning": 0.4, "driver gap": 1.9, "task time": 0.5,
                        "streaming commit": 0.0}},
            {"name": "d21_kcore", "pass": "traced", "start_ms": 3000, "built_ms": 3100,
             "end_ms": 4000, "parent": "pass 2",
             "layers": {"planning": 0.1, "driver gap": 0.2, "task time": 0.6,
                        "streaming commit": 0.0}}]}
        d = os.path.join(run.ROOT, ".bench_tmp", "selftest")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "spans.json")
        try:
            with open(p, "w") as f:
                json.dump(doc, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                report.main([p])
        finally:
            shutil.rmtree(d, ignore_errors=True)
        lines = out.getvalue().splitlines()
        self.assertIn("d11_pr_corpus", lines[1])
        self.assertIn("driver gap", lines[1])
        self.assertIn("task time", lines[2])


class Metrics(unittest.TestCase):
    def test_microbatches_are_kept_per_pass(self):
        raw = {"iterations": [{"pass": "warmup", "start": 0, "end": 100},
                              {"pass": "untraced", "start": 100, "end": 200},
                              {"pass": "traced", "start": 200, "end": 300},
                              {"pass": "untraced", "start": 300, "end": 400}],
               "microbatches": [[10, 9.0], [150, 0.1], [250, 0.5], [350, 0.2]]}
        self.assertEqual(run.microbatches(raw, "untraced"), [0.1, 0.2])
        self.assertEqual(run.microbatches(raw, "warmup"), [9.0])

    def test_end_to_end_metrics_skip_the_warmup_and_the_harness_time(self):
        call = lambda it, a, b: {"iter": it, "start": a, "end": b}
        raw = {"setup_s": [5.0, 1.2, 1.1],
               "iterations": [{"iter": 0, "pass": "warmup", "live_heap_mb": -1.0},
                              {"iter": 1, "pass": "timed", "live_heap_mb": 130.0},
                              {"iter": 2, "pass": "timed", "live_heap_mb": 132.0},
                              {"iter": 3, "pass": "timed", "live_heap_mb": 140.0}],
               "calls": [call(0, 0, 9000),
                         call(1, 10000, 12000), call(1, 12500, 13000),
                         call(2, 14000, 16000), call(2, 17000, 18000),
                         call(3, 19000, 23000)]}
        self.assertEqual(run.e2e_metrics(raw),
                         {"setup_s": 1.2, "pass_s": 3.0, "live_heap_mb": 132.0})

    def test_busy_time_merges_overlapping_jobs(self):
        jobs = [(0, 100), (50, 150), (300, 400), (390, 500)]
        self.assertEqual(run.busy_ms(jobs, 0, 1000), 350)
        self.assertEqual(run.busy_ms(jobs, 120, 320), 50)

    def test_benchmark_json_matches_the_harness(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]], list(run.E2E))
        for m in b["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]), run.E2E[m["name"]])
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}, run.LAYERS)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


class Data(unittest.TestCase):
    def test_recorded_rows_agree_with_the_repos_correctness_sweep(self):
        # the repo's sf0.01 correctness sweep, when it sits beside perfbench/
        path = os.path.join(run.ROOT, "CORRECTNESS_r14.json")
        if not os.path.exists(path):
            self.skipTest("no CORRECTNESS_r14.json beside perfbench/")
        with open(path) as f:
            sweep = json.load(f)
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        shared = [k for k in expected if k in sweep and sweep[k]["hash_match"]]
        self.assertGreater(len(shared), 100)
        self.assertEqual({k: expected[k]["rows"] for k in shared},
                         {k: sweep[k]["spark_rows"] for k in shared})


if __name__ == "__main__":
    unittest.main()
