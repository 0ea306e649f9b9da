"""Tests of run.py's summary handling.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "setup_s", "unit": "s"},
                   {"name": "op_p50_ms", "unit": "ms"}],
    "per_layer": [{"name": "spark.jobs", "unit": "count"}],
}


def line(**over):
    obj = {"correct": True, "attempted": 3, "failed": 0,
           "metrics": {"setup_s": {"value": 1.25, "unit": "s"},
                       "op_p50_ms": {"value": 812.5, "unit": "ms"}}}
    obj.update(over)
    return json.dumps(obj)


class ParseSummaryTest(unittest.TestCase):
    def test_accepts_last_line_after_logs(self):
        out = "[annotate_service] requests=30\n" + line() + "\n"
        self.assertEqual(run.parse_summary(out, SPEC, 0)["attempted"], 3)

    def test_summary_must_be_the_last_line(self):
        with self.assertRaises(ValueError):
            run.parse_summary(line() + "\ntrailing log line\n", SPEC, 0)

    def test_rejects_extra_or_missing_keys(self):
        extra = json.loads(line())
        extra["seed"] = 1
        for bad in (json.dumps(extra), line().replace('"failed": 0, ', "")):
            with self.assertRaises(run.BenchError):
                run.parse_summary(bad, SPEC, 0)

    def test_rejects_metric_set_other_than_benchmark_json(self):
        missing = line(metrics={"setup_s": {"value": 1.0, "unit": "s"}})
        with self.assertRaises(run.BenchError):
            run.parse_summary(missing, SPEC, 0)
        with self.assertRaises(run.BenchError):
            run.parse_summary(line(), SPEC, 1)  # traced runs report per_layer

    def test_rejects_wrong_unit_and_non_numbers(self):
        for m in ({"value": 1.0, "unit": "ms"}, {"value": "1.0", "unit": "s"},
                  {"value": True, "unit": "s"}, {"value": 1.0}):
            bad = line(metrics={"setup_s": m,
                                "op_p50_ms": {"value": 1.0, "unit": "ms"}})
            with self.assertRaises(run.BenchError):
                run.parse_summary(bad, SPEC, 0)

    def test_counts_are_whole_and_consistent(self):
        for over in ({"attempted": 0}, {"attempted": 2.5}, {"failed": -1},
                     {"correct": True, "failed": 1}, {"correct": 1}):
            with self.assertRaises(run.BenchError):
                run.parse_summary(line(**over), SPEC, 0)

    def test_summary_line_round_trips(self):
        out = run.summary_line({"attempted": 4, "failed": 1,
                                "metrics": {"spark.jobs": 12.0}}, SPEC, 1)
        self.assertNotIn("\n", out)
        obj = run.parse_summary(out, SPEC, 1)
        self.assertFalse(obj["correct"])
        self.assertEqual(obj["metrics"]["spark.jobs"],
                         {"value": 12.0, "unit": "count"})

    def test_summary_line_rejects_unlisted_metrics(self):
        with self.assertRaises(run.BenchError):
            run.summary_line({"attempted": 1, "failed": 0,
                              "metrics": {"spark.jobs": 1.0, "x": 2.0}}, SPEC, 1)


if __name__ == "__main__":
    unittest.main()
