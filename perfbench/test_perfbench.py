"""Self-checks of the benchmark that need no Spark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import run
import sample

HERE = os.path.dirname(os.path.abspath(__file__))


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.E2E_METRICS))

    def test_undeclared_or_missing_metric_exits_without_result(self):
        defs = [{"name": "wall_s"}, {"name": "setup_s"}]
        check.require_declared({"wall_s": 1.0, "setup_s": 2.0}, defs, exact=True)
        with self.assertRaises(SystemExit):
            check.require_declared({"wall_s": 1.0}, defs, exact=True)
        with self.assertRaises(SystemExit):
            check.require_declared({"wall_s": 1.0, "setup_s": 2.0, "x": 3.0}, defs, exact=True)

    def test_every_workload_query_has_a_check(self):
        spec = json.load(open(os.path.join(HERE, "workloads.json")))
        for w in spec["workloads"].values():
            self.assertEqual(len(set(w["queries"])), len(w["queries"]))
            for q, exp in w["no_oracle"].items():
                self.assertIn(q, w["queries"])
                self.assertEqual(set(exp), {"rows", "columns"})


class Samples(unittest.TestCase):
    def test_queries_are_drawn_from_the_measured_basis_by_the_declared_rule(self):
        spec = json.load(open(os.path.join(HERE, "workloads.json")))
        for name, w in spec["workloads"].items():
            self.assertEqual(w["queries"], sample.draw(w), name)

    def test_surface_rule_follows_family_time_shares(self):
        basis = {"r1": ["rel", "RelQueries", 1.0], "r2": ["rel", "RelQueries", 2.0],
                 "r3": ["rel", "RelQueries", 3.0], "t1": ["text", "TextOps", 1.0],
                 "s1": ["io", "Sketches", 1.0], "k1": ["io", "Sinks", 1.0]}
        # rel holds 6 of 9 s, so 2 of 3 picks, at its 1/4 and 3/4 quantiles;
        # text and io still get one each, io's from the Sinks pack
        self.assertEqual(sample.surface(basis, 3), ["k1", "r1", "r3", "t1"])


class OutputCheck(unittest.TestCase):
    """A run whose output differs from the expected result counts a failure."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.data)
        pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                 "r_name": ["A", "B", "C"]}),
                       os.path.join(self.data, "region.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def _run(self, names, oracle, no_oracle, results, error=None):
        os.makedirs(self.out, exist_ok=True)
        json.dump(oracle, open(os.path.join(self.out, "oracle_sql.json"), "w"))
        for n, t in results.items():
            os.makedirs(os.path.join(self.out, "rows", n), exist_ok=True)
            pq.write_table(t, os.path.join(self.out, "rows", n, "part-00000.parquet"))
        columns = {n: [f"{f.name}:x" for f in t.schema] for n, t in results.items()}
        return check.check_outputs(self.out, self.data, {n: error for n in names}, columns,
                                   no_oracle, names)

    def region(self, names):
        return pa.table({"r_name": names, "r_regionkey": pa.array([0, 1, 2], pa.int32())})

    def test_matching_output_passes(self):
        sql = {"q": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}
        self.assertEqual(self._run(["q"], sql, {}, {"q": self.region(["A", "B", "C"])}), {})

    def test_wrong_value_is_a_failure(self):
        sql = {"q": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}
        got = self._run(["q"], sql, {}, {"q": self.region(["A", "B", "WRONG"])})
        self.assertEqual(got, {"q": "value mismatch"})

    def test_wrong_expected_row_count_is_a_failure(self):
        t = self.region(["A", "B", "C"])
        ok = {"q": {"rows": 3, "columns": ["r_name:x", "r_regionkey:x"]}}
        self.assertEqual(self._run(["q"], {}, ok, {"q": t}), {})
        bad = {"q": {"rows": 4, "columns": ["r_name:x", "r_regionkey:x"]}}
        self.assertIn("q", self._run(["q"], {}, bad, {"q": t}))

    def test_exception_is_a_failure(self):
        self.assertIn("q", self._run(["q"], {}, {}, {}, error="boom"))


class TraceCheck(unittest.TestCase):
    passes = [{"name": "a", "start_ms": 100, "end_ms": 200},
              {"name": "b", "start_ms": 200, "end_ms": 300}]

    @staticmethod
    def trace(seen, stage=(110, 190)):
        """A trace whose listeners recorded one job and stage of each query in `seen`."""
        return {"queries": {n: {"jobs": 1, "stage_spans": [
            {"stage": i, "start_ms": stage[0] + 100 * i, "end_ms": stage[1] + 100 * i}]}
            for i, n in enumerate(seen)}}

    def test_covered_and_contained(self):
        self.assertEqual(check.trace_selfcheck(self.trace(["a", "b"]), self.passes, ["a", "b"]), [])

    def test_query_with_a_pass_record_but_no_listener_record(self):
        problems = check.trace_selfcheck(self.trace(["a"]), self.passes, ["a", "b"])
        self.assertEqual(problems, ["query b: no job reached the listeners"])

    def test_query_without_stages(self):
        trace = self.trace(["a", "b"])
        trace["queries"]["b"] = {"jobs": 0, "stage_spans": []}
        self.assertEqual(len(check.trace_selfcheck(trace, self.passes, ["a", "b"])), 1)

    def test_stage_outside_its_query(self):
        trace = self.trace(["a", "b"])
        trace["queries"]["a"]["stage_spans"][0]["end_ms"] = 250
        problems = check.trace_selfcheck(trace, self.passes, ["a", "b"])
        self.assertEqual(len(problems), 1)


if __name__ == "__main__":
    unittest.main()
