#!/usr/bin/env python3
"""Self-test of the benchmark's own arithmetic and output, without Spark or
a build: python3 perfbench/selftest.py (exits 0 when every check holds)."""
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

RECORDS = """\
first_op_ms\t41500
op\t0\tq1\t3.0\t1
op\t0\tq2\t5.0\t1
op\t1\tq1\t1.0\t1
cpu\t1\tq1\t2.0
op\t1\tq2\t4.0\t1
cpu\t1\tq2\t3.0
pass\t1\t5.25\t600.5
op\t2\tq1\t2.0\t1
cpu\t2\tq1\t1.0
op\t2\tq2\t8.0\t1
cpu\t2\tq2\t9.0
pass\t2\t10.5\t700.0
op\t3\tq1\t1.5\t1
cpu\t3\tq1\t1.5
op\t3\tq2\t1.0\t1
cpu\t3\tq2\t4.0
pass\t3\t2.5\t650.0
layer\t1\tscheduler.tasks\t10
layer\t2\tscheduler.tasks\t30
layer\t3\tscheduler.tasks\t20
oplayer\t1\td20_edit_distance\texec.candidates\t100
oplayer\t1\td20_edit_distance\texec.verified\t25
oplayer\t1\td18_jaccard_join\texec.candidates\t300
oplayer\t1\td18_jaccard_join\texec.verified\t75
oplayer\t1\tq1\texec.candidates\t1000
oplayer\t1\tq1\texec.verified\t1000
"""

SOURCES = {
    "RegistryA": 'val queries = Map(\n  "a1_x" -> ((s, d) => f),\n  "a2_y" -> ((s, d) => g),\n'
                 '  "a3_z" ->\n    ((s, d) => h))\nval oracleSql = Map(\n  "a1_x" -> "SELECT 1")\n',
    "RegistryB": 'val queries = Map(\n  "b1" -> ((s, d) => f),\n  "b2" -> ((s, d) => f))\n'
                 'val oracleSql = Map()\n',
}


class Arithmetic(unittest.TestCase):
    def test_median_and_quartiles(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0, 6.0, 8.0, 9.0]
        self.assertEqual(metrics.median(v), 5.5)
        self.assertEqual(metrics.quartiles(v), tuple(statistics.quantiles(v, n=4)))
        self.assertEqual(metrics.quartiles(v), (2.75, 5.5, 8.25))

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([0.5] * 7), 0.5)


class RegistrySample(unittest.TestCase):
    def test_strata_read_only_the_queries_map(self):
        strata = metrics.registry_strata(SOURCES)
        self.assertEqual(strata, {"RegistryA": ["a1_x", "a2_y", "a3_z"],
                                  "RegistryB": ["b1", "b2"]})

    def test_members_fixed_order_seeded(self):
        strata = metrics.registry_strata(SOURCES)
        runs = [metrics.registry_ops(strata, ["b2"], seed, per_file=1) for seed in range(20)]
        self.assertEqual({tuple(sorted(r)) for r in runs}, {tuple(sorted(runs[0]))})
        self.assertIn("b2", runs[0])
        self.assertIn("b1", runs[0])           # b2 is extra, so b1 is drawn from B
        self.assertEqual(len(runs[0]), 3)
        self.assertGreater(len({tuple(r) for r in runs}), 1)
        self.assertEqual(runs[3], metrics.registry_ops(strata, ["b2"], 3, per_file=1))

    def test_sample_of_the_real_registry(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        d = os.path.join(root, "src", "main", "scala", "graft", "registry")
        if not os.path.isdir(d):
            self.skipTest("no registry sources")
        sources = {n[:-6]: open(os.path.join(d, n)).read()
                   for n in os.listdir(d) if n.startswith("Registry") and n.endswith(".scala")}
        strata = metrics.registry_strata(sources)
        self.assertEqual(len(strata), 8)
        ops = metrics.registry_ops(strata, ["d14_fuzzy_decontam"], 7)
        self.assertEqual(len(ops), 9)
        self.assertEqual(len(set(ops)), 9)
        self.assertEqual(ops, metrics.registry_ops(strata, ["d14_fuzzy_decontam"], 7))


class Records(unittest.TestCase):
    def setUp(self):
        self.records = metrics.parse_records(RECORDS.splitlines(True))

    def test_parse(self):
        self.assertEqual(len(self.records["op"]), 8)
        self.assertEqual(self.records["pass"][0], ["1", "5.25", "600.5"])
        self.assertEqual(self.records["first_op_ms"], [["41500"]])

    def test_end_to_end(self):
        e2e = metrics.end_to_end(self.records, t0=40.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 1.5)
        # each op at its fastest timed pass (q1 in pass 1, q2 in pass 3);
        # the warm-up pass 0 is left out
        self.assertEqual(e2e["wall_s"], (2.0, "s"))
        self.assertAlmostEqual(e2e["op_geomean_s"][0], 1.0)
        self.assertEqual(e2e["heap_peak_mb"], (650.0, "MB"))  # median of the passes
        # CPU times too, each op at its own fastest pass: q1 in 2, q2 in 1
        self.assertEqual(e2e["cpu_s"], (4.0, "s"))
        self.assertAlmostEqual(e2e["op_cpu_geomean_s"][0], math.sqrt(3.0))
        self.assertEqual({u for _, u in e2e.values()}, {"s", "MB"})

    def test_per_layer(self):
        whole, per_op = metrics.per_layer(self.records, run.HEAVY)
        self.assertEqual(whole["scheduler.tasks"], 20.0)
        # q1 is no verify join, so its rows stay out of the yield
        self.assertAlmostEqual(whole["exec.verify_yield"], 0.25)
        self.assertEqual(per_op["d20_edit_distance"]["exec.verified"], 25.0)
        self.assertEqual(per_op["q1"]["exec.candidates"], 1000.0)

    def test_result_line(self):
        line = json.dumps(metrics.result_line(True, 8, 0, {"wall_s": (5.25, "s")}))
        parsed = json.loads(line)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(parsed["metrics"]["wall_s"], {"value": 5.25, "unit": "s"})
        self.assertTrue(all(isinstance(parsed[k], int) for k in ("attempted", "failed")))
        self.assertFalse(math.isnan(parsed["metrics"]["wall_s"]["value"]))


class EtlCheck(unittest.TestCase):
    def test_missing_outputs_are_wrong_not_raised(self):
        # a run whose ops left no output (they threw, or their trees are
        # gone) still gets a verdict for every op
        out = os.path.join(os.path.dirname(HERE), ".bench_out")
        os.makedirs(out, exist_ok=True)
        work = tempfile.mkdtemp(prefix="selftest-", dir=out)
        try:
            fx = os.path.join(work, "fixture")
            fixture.make_fixture(fx, 0.0001, 1, min_corpus=10)
            run.stage_etl(fx, 1)
            wrong = oracle.check_etl(work, fx, {}, 1)
        finally:
            shutil.rmtree(work)
        self.assertEqual(sorted(wrong), sorted(run.ETL_OPS))
        self.assertTrue(all(why.startswith("no readable output") for why in wrong.values()))

    def test_fetch_shape(self):
        names = fixture.tickers(run.TICKERS)
        failing = fixture.failing_tickers(3, names, run.FAILING_TICKERS)
        self.assertEqual(len(failing), 1)
        self.assertEqual(failing, fixture.failing_tickers(3, names, run.FAILING_TICKERS))
        self.assertTrue(set(failing) <= set(names))


class BenchmarkFile(unittest.TestCase):
    def test_names_units_bounds(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        e2e = {m["name"]: m for m in bench["end_to_end"]}
        self.assertEqual(set(e2e), {"setup_s", "cpu_s", "heap_peak_mb"})
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e.values()))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))


if __name__ == "__main__":
    unittest.main()
