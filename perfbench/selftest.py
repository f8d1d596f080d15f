#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic, and a smoke run.

    python3 perfbench/selftest.py           # arithmetic only, < 1 s
    python3 perfbench/selftest.py --smoke   # plus every workload end to end
                                            # at sf0.001 (builds on first use)
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import workloads  # noqa: E402

SUBSETS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "subsets.json")


class TailTest(unittest.TestCase):
    def test_percentile_choice_from_sample_count(self):
        # at least ten samples must lie beyond the chosen percentile
        for n, p in ((10_000, 99), (1_000, 99), (999, 98), (200, 95),
                     (100, 90), (47, 78), (40, 75), (24, 58), (20, 50),
                     (18, 50), (3, 50), (0, 50)):
            self.assertEqual(metrics.tail_percentile(n), p, n)
            if n >= 20:
                self.assertGreaterEqual(n * (100 - p) / 100, 10, n)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 99), 5)
        self.assertAlmostEqual(metrics.percentile(range(101), 90), 90)
        v, p, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((p, n), (90.0, 100))  # 10 samples beyond p90
        self.assertAlmostEqual(v, 90.1)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 4, 16]), 4.0)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(metrics.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 1), (1, 3)]), 4)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_subtracts_covered_part(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(2, 4), (3, 6)]), 6)
        # children are clipped to the span
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(metrics.self_time((0, 10), [(0, 10), (1, 2)]), 0)

    def test_spans_nest_jobs_and_stages(self):
        rec = {"kind": "query", "t0_ms": 0.0, "t1_ms": 100.0, "build_s": 0.02,
               "qes": [{"phases": {"analysis": [1, 3]}}],
               "jobs": [{"id": 7, "phase": "exec", "start": 40, "end": 90,
                         "stages": [1, 2]}],
               "stages": [{"id": 1, "start": 41, "end": 60},
                          {"id": 2, "start": 55, "end": 80}]}
        sp = metrics.spans(rec)
        names = [s["name"] for s in sp]
        self.assertEqual(names, ["op", "queries.build", "queries.write",
                                 "plan.analysis", "exec.job", "exec.stage",
                                 "exec.stage"])
        self.assertEqual(sp[3]["parent"], 1)   # analysis during the build
        self.assertEqual(sp[4]["parent"], 2)   # the job of the write
        self.assertEqual(sp[5]["parent"], 4)
        self.assertAlmostEqual(sp[0]["self_s"], 0.0)
        self.assertAlmostEqual(sp[2]["self_s"], 0.030)  # 80 ms - 50 ms job
        self.assertAlmostEqual(sp[4]["self_s"], 0.011)  # 50 ms - 39 ms stages

    def test_driver_gap_is_op_minus_job_union(self):
        rec = {"kind": "query", "name": "q", "lat_s": 0.1, "t0_ms": 0.0,
               "t1_ms": 100.0, "jobs": [
                   {"id": 1, "phase": "exec", "start": 10, "end": 30, "stages": []},
                   {"id": 2, "phase": "exec", "start": 20, "end": 50, "stages": []},
                   {"id": 3, "phase": "build", "start": 90, "end": 120, "stages": []}]}
        layers = metrics.op_layers(rec, cores=4)
        self.assertAlmostEqual(layers["exec.job_wall_s"], 0.050)
        self.assertAlmostEqual(layers["exec.driver_gap_s"], 0.050)
        self.assertEqual(layers["queries.build_jobs"], 1)


class FailedTest(unittest.TestCase):
    def test_failed_frac_counts_errors_and_wrong_results(self):
        recs = [{"ok": True}, {"ok": False, "error": "boom"},
                {"ok": False, "error": "rows 3 != 4"}, {"ok": True}]
        self.assertEqual(metrics.failed_frac(recs), 0.5)
        self.assertEqual(metrics.failed_frac([{"ok": True}]), 0.0)
        with self.assertRaises(ValueError):
            metrics.failed_frac([])

    def test_subsets_sample_their_families(self):
        with open(SUBSETS) as f:
            subsets = json.load(f)
        for w, fams in (("analytic", workloads.ANALYTIC),
                        ("pipeline", workloads.PIPELINE)):
            self.assertTrue(subsets[w])
            for n in subsets[w]:
                self.assertIn(workloads.family(n), fams, n)


class DmlTest(unittest.TestCase):
    def test_statements_are_seeded(self):
        keys = {"orders": 1000, "lineitem": 4000}
        a = workloads.dml_statements(1, "/d", 50, keys)
        b = workloads.dml_statements(1, "/d", 50, keys)
        c = workloads.dml_statements(2, "/d", 50, keys)
        self.assertEqual([s.spark for s in a], [s.spark for s in b])
        self.assertNotEqual([s.spark for s in a], [s.spark for s in c])
        kinds = {s.name.split("_")[0] for s in
                 workloads.dml_statements(3, "/d", 400, keys)}
        self.assertTrue({"insert", "merge", "update", "delete", "compact",
                         "range", "agg", "asof"} <= kinds, kinds)
        for s in a:
            self.assertNotIn("\t", s.spark)
            self.assertNotIn("\n", s.spark)


def smoke():
    """Every workload end to end at sf0.001, untraced then traced."""
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    ok = True
    for w in ("analytic", "pipeline", "table_dml", "analytic_10x"):
        for trace in (0, 1):
            p = subprocess.run([sys.executable, run, "--workload", w, "--seed", "1",
                                "--seconds", "1", "--trace", str(trace), "--smoke"],
                               capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
                good = p.returncode == 0 and res["attempted"] > 0
            except ValueError:
                res, good = None, False
            ok &= good
            print(f"smoke {w} trace={trace}: {'ok' if good else 'FAILED'} {last[:200]}")
            if not good:
                print(p.stderr[-2000:])
    return ok


if __name__ == "__main__":
    do_smoke = "--smoke" in sys.argv
    argv = [a for a in sys.argv if a != "--smoke"]
    result = unittest.main(argv=argv, exit=False).result
    good = result.wasSuccessful()
    if do_smoke:
        good &= smoke()
    sys.exit(0 if good else 1)
