"""Self-tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import json
import os
import sys
import unittest
from contextlib import redirect_stdout

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def op(entry, status="ok", traced=False, p=0, total=1.0):
    return {"entry": entry, "pass": p, "traced": traced, "status": status,
            "total_s": total, "build_s": total / 2, "plan_s": total / 10,
            "exec_s": total * 0.4}


def raw_run():
    """A small synthetic raw.json: two entries, two untraced passes and
    one traced pass."""
    ops = [op("a", p=0, total=1.0), op("b", p=0, total=3.0),
           op("a", p=1, total=2.0), op("b", "wrong_result", p=1, total=4.0),
           op("a", traced=True, p=2, total=1.5), op("b", traced=True, p=2, total=3.5)]
    span = {"jobs": 2, "stages": 3, "tasks": 8, "task_ms": 400, "shuffle_read_b": 10**6,
            "shuffle_write_b": 10**6, "spill_b": 0, "result_b": 5000, "output_b": 0, "output_rows": 10}
    setup = {"total_s": 10.0, "session_s": 1.0, "jit_s": 6.0, "cached_mb": 2.5,
             "hooks": {"warmFixtures": {"s": 4.0, "mb": 2.5}},
             "first_call_s": {"a": 1.0, "b": 2.0}}
    return {
        "ops": ops,
        "passes": [{"traced": False, "s": 4.0, "jit_s": 2.0, "gc_s": 0.1},
                   {"traced": False, "s": 6.0, "jit_s": 2.0, "gc_s": 0.1},
                   {"traced": True, "s": 5.0, "jit_s": 1.5, "gc_s": 0.2}],
        "setup": setup,
        "trace": {"wall_s": 5.0, "labels": {"a/exec": span, "b/build": span},
                  "stream": {"batch_ms": [100, 300], "rows_in": 80}},
    }


class MedianTest(unittest.TestCase):
    def test_odd_count_is_the_middle_sample(self):
        self.assertEqual(stats.median([5.0, 1.0, 4.0, 2.0, 3.0]), 3.0)

    def test_even_count_is_midway(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_no_samples_is_zero(self):
        self.assertEqual(stats.median([]), 0.0)


class EndToEndTest(unittest.TestCase):
    def test_counts_and_metrics(self):
        m, counts = stats.end_to_end(raw_run(), failed_entries=set())
        self.assertEqual(counts["attempted"], 6)
        self.assertEqual(counts["failed"], 1)
        self.assertEqual(m["ok_rate"], (5 / 6, "ratio"))
        self.assertEqual(m["query_p50_s"][0], 2.5)
        self.assertEqual(m["pass_s"][0], 5.0)
        self.assertEqual(m["setup_s"][0], 10.0)
        self.assertEqual(m["cached_mb"][0], 2.5)

    def test_oracle_failure_fails_every_op_of_the_entry(self):
        _, counts = stats.end_to_end(raw_run(), failed_entries={"a"})
        self.assertEqual(counts["failed"], 4)

    def test_names_and_units_match_the_spec(self):
        m, _ = stats.end_to_end(raw_run(), set())
        spec = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, spec)
        for v, _ in m.values():
            self.assertNotEqual(v, 0)


class PerLayerTest(unittest.TestCase):
    def test_names_and_units_match_the_spec(self):
        m, entries, _ = stats.per_layer(raw_run(), cores=4)
        spec = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
        self.assertEqual({k: stats.unit(k) for k in m}, spec)
        self.assertEqual(sorted(entries), ["a", "b"])

    def test_values(self):
        m, entries, overhead = stats.per_layer(raw_run(), cores=4)
        self.assertEqual(m["sched.jobs"], 4)
        self.assertEqual(m["operators.build_jobs"], 2)
        self.assertAlmostEqual(m["sched.busy_ratio"], 0.8 / 20)
        self.assertEqual(m["stream.batch_p50_ms"], 200)
        self.assertEqual(m["stream.output_per_input"], 0.25)
        self.assertEqual(overhead["pass_s"], {"traced": 5.0, "untraced": 5.0, "ratio": 1.0})
        self.assertEqual(m["setup.jit_s"], 6.0)
        self.assertEqual(m["setup.first_call_s"], 3.0)
        self.assertEqual(m["jvm.jit_s"], 1.5)
        self.assertEqual(m["artifacts.warmFixtures_mb"], 2.5)
        self.assertEqual(entries["b"]["failed"], 1)
        self.assertEqual(entries["a"]["dominant"], "build")


class CoverageTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        # quartiles of 1..5 (exclusive method): 1.5 and 4.5
        self.assertEqual(stats.rel_iqr([5.0, 1.0, 4.0, 2.0, 3.0]), 1.0)
        self.assertEqual(stats.rel_iqr([2.0]), 0.0)

    def test_band_spans_one_and_the_overhead_widened_by_the_spread(self):
        self.assertEqual(stats.coverage_band(1.2, 0.1), (0.9, 1.3))
        self.assertEqual(stats.coverage_band(0.8, 0.0), (0.8, 1.0))

    def test_entries_are_checked_against_the_overhead(self):
        # a: traced 1.5 over untraced median 1.5; overhead 2.5 / 2.5
        m, entries, overhead = stats.per_layer(raw_run(), cores=4)
        self.assertEqual(entries["a"]["coverage"], 1.0)
        self.assertTrue(entries["a"]["coverage_ok"])
        self.assertEqual(m["trace.uncovered_entries"], 0)

    def test_an_entry_off_the_overhead_is_counted(self):
        raw = raw_run()
        # a: traced 6.0 over untraced median 1.5 = 4.0; overhead 4.75 / 2.5
        # = 1.9, a's spread 1.0, so its band ends at 2.9
        raw["ops"][4] = op("a", traced=True, p=2, total=6.0)
        m, entries, overhead = stats.per_layer(raw, cores=4)
        self.assertAlmostEqual(entries["a"]["coverage_band"][1], 2.9)
        self.assertEqual(entries["a"]["coverage"], 4.0)
        self.assertFalse(entries["a"]["coverage_ok"])
        self.assertEqual(m["trace.uncovered_entries"], 1)


class CanonicalFormTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = pd.DataFrame({"x": [2, 1], "s": ["b", "a"]})
        b = pd.DataFrame({"s": ["a", "b"], "x": [1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_integer_widths_may_differ(self):
        a = pd.DataFrame({"x": pd.Series([1, 2], dtype="int32")})
        b = pd.DataFrame({"x": pd.Series([1, 2], dtype="int64")})
        self.assertIsNone(oracle.compare(a, b))

    def test_int_versus_float_is_a_mismatch(self):
        a = pd.DataFrame({"x": [1, 2]})
        b = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertIn("dtype", oracle.compare(a, b))

    def test_floats_compare_exactly(self):
        a = pd.DataFrame({"x": [0.1 + 0.2]})
        b = pd.DataFrame({"x": [0.3]})
        self.assertIn("row 0", oracle.compare(a, b))

    def test_row_count_and_columns(self):
        self.assertIn("rows", oracle.compare(pd.DataFrame({"x": [1]}),
                                             pd.DataFrame({"x": [1, 1]})))
        self.assertIn("columns", oracle.compare(pd.DataFrame({"x": [1]}),
                                                pd.DataFrame({"y": [1]})))


class ResultLineTest(unittest.TestCase):
    def test_shape(self):
        line = run.result_line(True, 3, 0, {"pass_s": (1.25, "s")})
        obj = json.loads(line)
        self.assertEqual(list(obj), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(obj["metrics"]["pass_s"], {"value": 1.25, "unit": "s"})
        self.assertNotIn("\n", line)

    def test_refuses_to_run_without_engine_sources(self):
        cwd = os.getcwd()
        os.chdir(HERE)
        try:
            out = io.StringIO()
            with redirect_stdout(out), self.assertRaises(SystemExit) as ctx:
                run.main(["--workload", "rollup", "--seed", "1", "--seconds", "1"])
            self.assertNotEqual(ctx.exception.code, 0)
            self.assertEqual(out.getvalue(), "")
        finally:
            os.chdir(cwd)


class SpecTest(unittest.TestCase):
    def test_workloads_are_runnable(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
