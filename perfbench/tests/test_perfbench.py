"""Tests of the benchmark's own logic; no engine process is started.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fingerprint  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(HERE, "..", "..", "BENCHMARK.json")


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_ten_samples_beyond_rule(self):
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertTrue(metrics.reportable(100, 90))
        self.assertFalse(metrics.reportable(99, 90))
        self.assertTrue(metrics.reportable(126, 90))
        self.assertFalse(metrics.reportable(63, 90))
        self.assertTrue(metrics.reportable(63, 80))

    def test_end_to_end_states_the_sample_count(self):
        ops = [{"pass": 1, "start": 0.0, "end": 1.0, "ok": True}] * 50
        raw = {"ops": ops, "passes": [{"pass": 0, "wall_s": 1.0}, {"pass": 1, "wall_s": 1.0}],
               "setup_s": 1.0, "live_heap_mb": 1.0}
        _, sampling = metrics.end_to_end(raw, 0)
        self.assertEqual(sampling["warm_ops"], 50)
        self.assertEqual(sampling["p90_samples_beyond"], 5)
        self.assertFalse(sampling["p90_has_ten_beyond"])


class FingerprintTest(unittest.TestCase):
    def setUp(self):
        self.con = fingerprint.connect()

    def fp(self, sql):
        return fingerprint.fingerprint_sql(self.con, f"({sql})")

    def test_row_order_does_not_matter(self):
        a = self.fp("SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', NULL)) t(k, s, v)")
        b = self.fp("SELECT * FROM (VALUES (2, 'y', NULL), (1, 'x', 2.5)) t(k, s, v)")
        self.assertEqual(a, b)

    def test_column_order_does_not_matter(self):
        a = self.fp("SELECT 1 AS k, 'x' AS s")
        b = self.fp("SELECT 'x' AS s, 1 AS k")
        self.assertEqual(a, b)

    def test_any_changed_value_changes_it(self):
        base = self.fp("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, s)")
        for other in ("SELECT * FROM (VALUES (1, 'x'), (2, 'z')) t(k, s)",
                      "SELECT * FROM (VALUES (1, 'x'), (3, 'y')) t(k, s)",
                      "SELECT * FROM (VALUES (1, 'x')) t(k, s)",
                      "SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (2, 'y')) t(k, s)",
                      "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, name)"):
            self.assertNotEqual(base, self.fp(other), other)

    def test_equal_values_of_different_types_agree(self):
        a = self.fp("SELECT CAST(7 AS INTEGER) AS n, CAST(0.5 AS FLOAT) AS f, -0.0 AS z")
        b = self.fp("SELECT CAST(7 AS BIGINT) AS n, CAST(0.5 AS DOUBLE) AS f, 0.0 AS z")
        self.assertEqual(a, b)
        c = self.fp("SELECT [CAST(1.5 AS FLOAT)] AS v")
        d = self.fp("SELECT [CAST(1.5 AS DOUBLE)] AS v")
        self.assertEqual(c, d)

    def test_empty_result(self):
        self.assertTrue(self.fp("SELECT 1 AS k WHERE false").startswith("0:0000000000000000:"))


class SelfTimeTest(unittest.TestCase):
    def test_split_sums_to_wall_and_inner_spans_win(self):
        spans = [(0, "queries", 0.0, 100.0), (3, "plans", 10.0, 30.0),
                 (4, "exec", 20.0, 60.0), (2, "core", 50.0, 90.0)]
        st = metrics.self_times(spans, 0.0, 100.0)
        self.assertEqual(sum(st.values()), 100.0)
        self.assertEqual(st["plans"], 10.0)   # 10..20, then exec takes over
        self.assertEqual(st["exec"], 40.0)    # 20..60
        self.assertEqual(st["core"], 30.0)    # 60..90
        self.assertEqual(st["queries"], 20.0)  # 0..10 and 90..100

    def test_spans_are_clipped_to_the_op(self):
        st = metrics.self_times([(0, "jobs", 0.0, 10.0), (4, "exec", -5.0, 4.0)], 0.0, 10.0)
        self.assertEqual(st["exec"], 4.0)
        self.assertEqual(st["jobs"], 6.0)


class SplitErrorTest(unittest.TestCase):
    @staticmethod
    def traced_run(op, execs):
        return {"ops": [dict(op, traced=True, group="g", name="q", ok=True, **{"pass": 2})],
                "passes": [{"pass": 2, "traced": True, "wall_s": 0.1, "gc_ms": 0}],
                "trace": {"jobs": [], "stages": [], "execs": execs, "qes": []},
                "cached_bytes": 0}

    def test_time_no_span_measures_is_the_split_error(self):
        # build 0..10, one SQL execution 12..90: 10..12 and 90..100 are
        # booked to the op's layer, but no span measured them
        raw = self.traced_run({"start": 0.0, "build_end": 10.0, "end": 100.0},
                              [{"group": "g", "start": 12.0, "end": 90.0, "write": False}])
        m = metrics.per_layer(raw, dag=False, cores=4, failed_ops=0)
        self.assertAlmostEqual(m["trace.split_err_frac"][0], 0.12)
        self.assertAlmostEqual(sum(m[f"layer.{k}.self_ms"][0] for k in metrics.LAYERS), 100.0)

    def test_a_dag_job_has_no_build_span(self):
        raw = self.traced_run({"start": 0.0, "build_end": 0.0, "end": 100.0},
                              [{"group": "g", "start": 20.0, "end": 70.0, "write": True}])
        m = metrics.per_layer(raw, dag=True, cores=4, failed_ops=0)
        self.assertAlmostEqual(m["trace.split_err_frac"][0], 0.5)
        self.assertAlmostEqual(m["layer.core.self_ms"][0], 50.0)
        self.assertAlmostEqual(m["layer.jobs.self_ms"][0], 50.0)


class OverheadTest(unittest.TestCase):
    @staticmethod
    def run_of(walls):
        """passes and ops from {pass: (traced, {op name: wall s})}"""
        passes = [{"pass": i, "traced": tr, "wall_s": sum(w.values())}
                  for i, (tr, w) in walls.items()]
        ops = [{"pass": i, "name": n, "start": 0.0, "end": s * 1000.0}
               for i, (_, w) in walls.items() for n, s in w.items()]
        return passes, ops

    def test_traced_passes_compare_with_their_untraced_neighbours(self):
        # untraced passes speed up 10 -> 8 -> 6 while warming; a traced pass
        # between 10 and 8 that took 9.9 is 10 % slower than its neighbours
        passes, ops = self.run_of({0: (False, {"q": 30.0}), 1: (False, {"q": 10.0}),
                                   2: (True, {"q": 9.9}), 3: (False, {"q": 8.0}),
                                   4: (True, {"q": 7.7}), 5: (False, {"q": 6.0})})
        self.assertAlmostEqual(metrics.overhead_frac(passes, ops), 0.1)

    def test_only_the_ops_both_passes_ran_are_compared(self):
        # the DAG: the untraced pass re-runs the app layer (b), the traced
        # one the whole month (a and b)
        passes, ops = self.run_of({0: (False, {"a": 5.0, "b": 5.0}), 1: (False, {"b": 2.0}),
                                   2: (True, {"a": 3.0, "b": 2.5})})
        self.assertAlmostEqual(metrics.overhead_frac(passes, ops), 0.25)

    def test_no_pairs_means_no_overhead(self):
        passes, ops = self.run_of({0: (False, {"q": 1.0})})
        self.assertEqual(metrics.overhead_frac(passes, ops), 0.0)


class OutputTest(unittest.TestCase):
    def test_result_line_parses_and_names_units(self):
        line = json.dumps(metrics.result_line(True, 10, 0, {"run_s": (1.5, "s")}))
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(d["metrics"]["run_s"], {"value": 1.5, "unit": "s"})

    def test_every_metric_is_declared_with_a_unit(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        raw = {"ops": [{"pass": p, "start": 0.0, "end": 1.0 + p, "ok": True}
                       for p in (0, 1, 1) for _ in range(60)],
               "passes": [{"pass": 0, "wall_s": 2.0}, {"pass": 1, "wall_s": 1.0}],
               "setup_s": 4.5, "live_heap_mb": 100.0}
        e2e, _ = metrics.end_to_end(raw, 0)
        self.assertEqual(set(e2e), {m["name"] for m in bench["end_to_end"]})
        for m in bench["end_to_end"]:
            self.assertEqual(e2e[m["name"]][1], m["unit"], m["name"])
        traced = {"ops": [dict(o, traced=True, group=f"g{i}", name="q", build_end=0.5)
                          for i, o in enumerate(raw["ops"])],
                  "passes": [{"pass": 1, "traced": True, "wall_s": 1.0, "gc_ms": 3},
                             {"pass": 2, "traced": False, "wall_s": 1.0, "gc_ms": 3}],
                  "trace": {"jobs": [], "stages": [], "execs": [], "qes": []},
                  "cached_bytes": 0}
        layer = metrics.per_layer(traced, dag=False, cores=4, failed_ops=0)
        self.assertEqual(set(layer), {m["name"] for m in bench["per_layer"]})
        for m in bench["per_layer"]:
            self.assertEqual(layer[m["name"]][1], m["unit"], m["name"])


if __name__ == "__main__":
    unittest.main()
