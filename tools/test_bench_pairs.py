"""Unit tests of bench_pairs.py over canned benchmark results (no JVM).

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_pairs  # noqa: E402


def result(cpu, setup=0.4, failed=0, correct=True):
    return {"correct": correct, "attempted": 4, "failed": failed,
            "metrics": {"cpu_s": {"value": cpu, "unit": "s"},
                        "setup_s": {"value": setup, "unit": "s"}}}


def pairs(parent, change):
    return [{"seed": 100 + i, "first": "parent" if i % 2 == 0 else "change",
             "parent": result(p), "change": result(c)}
            for i, (p, c) in enumerate(zip(parent, change))]


PARENT = [7.2, 7.0, 7.4, 7.1, 7.3, 7.6, 6.9, 7.2, 7.5, 7.0]


class SummarizeTest(unittest.TestCase):

    def test_quartiles_inclusive(self):
        self.assertEqual(bench_pairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(bench_pairs.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_clear_gain_passes(self):
        s = bench_pairs.summarize(pairs(PARENT, [x * 0.8 for x in PARENT]))
        self.assertEqual((s["pairs"], s["wins"], s["wins_needed"]), (10, 10, 9))
        self.assertTrue(s["verdict"], s["reason"])

    def test_one_loss_in_ten_still_passes(self):
        change = [x * 0.8 for x in PARENT]
        change[3] = PARENT[3] + 0.1
        s = bench_pairs.summarize(pairs(PARENT, change))
        self.assertEqual(s["wins"], 9)
        self.assertTrue(s["verdict"])

    def test_two_losses_fail(self):
        change = [x * 0.8 for x in PARENT]
        change[3], change[7] = PARENT[3] + 0.1, PARENT[7]  # a tie is not a win
        s = bench_pairs.summarize(pairs(PARENT, change))
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["verdict"])

    def test_gap_within_parent_iqr_fails(self):
        # every pair won, by less than the parent's spread
        s = bench_pairs.summarize(pairs(PARENT, [x - 0.05 for x in PARENT]))
        self.assertEqual(s["wins"], 10)
        self.assertLessEqual(s["median_gap"], s["parent_iqr"])
        self.assertFalse(s["verdict"])

    def test_a_crashed_run_is_a_lost_pair(self):
        crashed = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
        ps = pairs(PARENT, [x * 0.8 for x in PARENT])
        ps[0]["change"] = crashed
        s = bench_pairs.summarize(ps)
        self.assertEqual((s["pairs"], s["wins"], s["wins_needed"]), (10, 9, 9))
        self.assertTrue(s["verdict"], s["reason"])
        ps[1]["change"] = dict(crashed)  # 8 wins of 10 pairs run, not 8 of 8
        s = bench_pairs.summarize(ps)
        self.assertEqual((s["pairs"], s["wins"], s["wins_needed"]), (10, 8, 9))
        self.assertFalse(s["verdict"])
        ps[2]["parent"] = dict(crashed)  # a crashed parent run is no win either
        self.assertEqual(bench_pairs.summarize(ps)["wins"], 7)
        self.assertFalse(bench_pairs.summarize([ps[0]])["verdict"])

    def test_a_larger_failed_share_voids_the_gain(self):
        ps = pairs(PARENT, [x * 0.8 for x in PARENT])
        ps[4]["parent"]["failed"] = 1
        ps[5]["change"]["failed"] = 1
        self.assertTrue(bench_pairs.summarize(ps)["verdict"])  # 1 of 40 on each side
        ps[6]["change"]["failed"] = 1
        s = bench_pairs.summarize(ps)
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["verdict"], s["reason"])
        self.assertIn("larger share", s["reason"])

    def test_setup_metric(self):
        ps = pairs(PARENT, PARENT)
        self.assertEqual(bench_pairs.summarize(ps, "setup_s")["wins"], 0)


class MainTest(unittest.TestCase):

    def test_run_length_comes_from_the_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump({"run_seconds": 3}, f)
            done = mock.Mock(returncode=0, stdout=json.dumps(result(5.0)) + "\n", stderr="")
            with mock.patch.object(bench_pairs.subprocess, "run", return_value=done) as run:
                self.assertEqual(bench_pairs.value(bench_pairs.run_once(d, "w", 9), "cpu_s"), 5.0)
            cmd = run.call_args[0][0]
            self.assertEqual(cmd[cmd.index("--seconds") + 1], "3")
            self.assertEqual(run.call_args[1]["cwd"], d)

    def test_runs_alternate_order_and_load_resummarizes(self):
        calls = []

        def fake_run(checkout, workload, seed):
            calls.append((checkout, seed))
            return result(8.0 if checkout == "P" else 6.0)

        with tempfile.TemporaryDirectory() as d:
            saved = os.path.join(d, "pairs.json")
            out = io.StringIO()
            with mock.patch.object(bench_pairs, "run_once", fake_run), \
                    contextlib.redirect_stdout(out):
                code = bench_pairs.main(["P", "C", "--workload", "iiot_batch", "--pairs", "3",
                                         "--seed0", "7", "--save", saved])
            self.assertEqual(code, 0)
            self.assertEqual(calls, [("P", 7), ("C", 7), ("C", 8), ("P", 8), ("P", 9), ("C", 9)])
            self.assertIn("verdict on cpu_s: GAIN", out.getvalue())
            self.assertEqual(len(json.load(open(saved))), 3)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(bench_pairs.main(["--load", saved]), 0)
            self.assertIn("change lower in 3 of 3", out.getvalue())


if __name__ == "__main__":
    unittest.main()
