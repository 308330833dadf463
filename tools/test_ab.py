#!/usr/bin/env python3
"""Tests of tools/ab.py's verdict and summary logic.

    python3 tools/test_ab.py
"""
import contextlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402


class VerdictTest(unittest.TestCase):
    def test_higher_is_better(self):
        self.assertEqual(ab.verdict(1.30, "higher", 0.25), "CLEARS")
        self.assertEqual(ab.verdict(1.20, "higher", 0.25), "")
        self.assertEqual(ab.verdict(1.00, "higher", 0.25), "")
        self.assertEqual(ab.verdict(0.80, "higher", 0.25), "")
        self.assertEqual(ab.verdict(0.70, "higher", 0.25), "REGRESSES")

    def test_lower_is_better(self):
        self.assertEqual(ab.verdict(0.70, "lower", 0.25), "CLEARS")
        self.assertEqual(ab.verdict(0.80, "lower", 0.25), "")
        self.assertEqual(ab.verdict(1.20, "lower", 0.25), "")
        self.assertEqual(ab.verdict(1.30, "lower", 0.25), "REGRESSES")
        self.assertEqual(ab.verdict(1.06, "lower", 0.05), "REGRESSES")

    def test_a_move_of_exactly_the_bound_is_inside_it(self):
        self.assertEqual(ab.verdict(1.5, "higher", 0.5), "")
        self.assertEqual(ab.verdict(0.5, "lower", 0.5), "")

    def test_no_bound_or_no_ratio(self):
        self.assertEqual(ab.verdict(2.0, "higher", None), "")
        self.assertEqual(ab.verdict(None, "higher", 0.25), "")
        self.assertEqual(ab.verdict(float("nan"), "lower", 0.25), "")


class SpecsTest(unittest.TestCase):
    def test_bounds_come_from_end_to_end_metrics_only(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCHMARK.json"), "w") as fh:
                json.dump({"end_to_end": [
                    {"name": "events_per_s", "better": "higher", "bound": 0.25}],
                    "per_layer": [{"name": "lake.segments", "better": "lower"}]},
                    fh)
            self.assertEqual(ab.metric_specs(d), {
                "events_per_s": ("higher", 0.25),
                "lake.segments": ("lower", None)})


class SummarizeTest(unittest.TestCase):
    def test_wins_follow_the_metric_direction(self):
        pairs = [({"a": 1.0, "b": 1.0}, {"a": 2.0, "b": 2.0}),
                 ({"a": 1.0, "b": 1.0}, {"a": 0.5, "b": 0.5}),
                 ({"a": 1.0, "b": 1.0}, {"a": 3.0, "b": 3.0})]
        rows = {r[0]: r for r in ab.summarize(pairs, {"a": "higher",
                                                       "b": "lower"})}
        self.assertEqual(rows["a"][3:5], (2, 3))
        self.assertEqual(rows["b"][3:5], (1, 3))
        self.assertEqual(rows["a"][1:3], (1.0, 2.0))


class ExitCodeTest(unittest.TestCase):
    """main()'s exit code over stubbed runs: 2 on a regression, 1 on a
    failed run (whatever the verdicts), 0 otherwise."""

    def run_main(self, change_events, fail_seed=None):
        def fake_run_once(checkout, workload, seed, seconds, trace):
            if seed == fail_seed:
                return None, 1
            value = change_events if checkout.endswith("change") else 100.0
            return {"correct": True, "failed": 0, "detail": {},
                    "metrics": {"events_per_s": {"value": value}}}, 0
        with tempfile.TemporaryDirectory() as d:
            for side in ("parent", "change"):
                os.mkdir(os.path.join(d, side))
                with open(os.path.join(d, side, "BENCHMARK.json"), "w") as fh:
                    json.dump({"end_to_end": [{"name": "events_per_s",
                                               "better": "higher",
                                               "bound": 0.25}]}, fh)
            argv = ["ab.py", "--parent", os.path.join(d, "parent"),
                    "--change", os.path.join(d, "change"),
                    "--workload", "w", "--pairs", "3"]
            saved = (sys.argv, ab.run_once)
            sys.argv, ab.run_once = argv, fake_run_once
            try:
                with open(os.devnull, "w") as null, \
                        contextlib.redirect_stdout(null), \
                        contextlib.redirect_stderr(null):
                    return ab.main()
            finally:
                sys.argv, ab.run_once = saved

    def test_no_regression_exits_0(self):
        self.assertEqual(self.run_main(change_events=110.0), 0)

    def test_a_regressing_metric_exits_2(self):
        self.assertEqual(self.run_main(change_events=50.0), 2)

    def test_a_failed_run_exits_1_even_with_a_regression(self):
        self.assertEqual(self.run_main(change_events=110.0, fail_seed=2), 1)
        self.assertEqual(self.run_main(change_events=50.0, fail_seed=2), 1)


if __name__ == "__main__":
    unittest.main()
