"""The arithmetic of tools/perfbench_ab.py: quartiles, pairs won and the
gain rule.

    python3 -m unittest tools/test_perfbench_ab.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab as ab  # noqa: E402


def result(**values):
    return {"correct": True, "failed": 0, "metrics": {k: {"value": v} for k, v in values.items()}}


class ArithmeticTest(unittest.TestCase):
    def test_quartiles_match_statistics_exclusive_method(self):
        self.assertEqual(ab.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))
        self.assertEqual(ab.quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_wins_follow_the_better_direction_and_ties_count_for_neither(self):
        self.assertEqual(ab.wins([10, 10, 10], [9, 10, 11], "lower"), 1)
        self.assertEqual(ab.wins([10, 10, 10], [9, 10, 11], "higher"), 1)

    def test_gain_holds_on_nine_of_ten_with_a_gap_beyond_the_parent_iqr(self):
        parent = [20.0, 20.5, 21.0, 19.5, 20.2, 20.8, 19.8, 20.1, 20.6, 20.3]
        change = [17.0] * 9 + [21.0]
        self.assertEqual(ab.wins(parent, change, "lower"), 9)
        self.assertTrue(ab.gain_holds(parent, change, "lower"))
        # the same runs read as a loss for a higher-is-better metric
        self.assertFalse(ab.gain_holds(parent, change, "higher"))

    def test_gain_fails_on_eight_wins(self):
        parent = [20.0] * 10
        change = [17.0] * 8 + [21.0, 21.0]
        self.assertFalse(ab.gain_holds(parent, change, "lower"))

    def test_gain_fails_when_the_gap_is_inside_the_parent_iqr(self):
        parent = [10.0, 30.0, 12.0, 28.0, 14.0, 26.0, 16.0, 24.0, 18.0, 22.0]
        change = [p - 1.0 for p in parent]
        self.assertEqual(ab.wins(parent, change, "lower"), 10)
        self.assertFalse(ab.gain_holds(parent, change, "lower"))

    def test_gain_needs_ten_pairs(self):
        self.assertFalse(ab.gain_holds([20.0] * 9, [10.0] * 9, "lower"))

    def test_seed_range_is_inclusive(self):
        self.assertEqual(ab.seed_range("12-21"), list(range(12, 22)))
        self.assertEqual(ab.seed_range("3"), [3])

    def test_report_marks_each_gain_and_every_run_correct(self):
        specs = [{"name": "run_s", "better": "lower"}, {"name": "records_per_s", "better": "higher"}]
        parent = [result(run_s=20.0 + i % 3, records_per_s=1000.0) for i in range(10)]
        change = [result(run_s=15.0, records_per_s=1000.0) for _ in range(10)]
        lines, ok = ab.report(specs, parent, change)
        self.assertTrue(ok)
        self.assertIn("10/10 holds", lines[1])
        self.assertIn(" 0/10 -", lines[2])
        change[3]["failed"] = 1
        self.assertFalse(ab.report(specs, parent, change)[1])


class CloneCheckTest(unittest.TestCase):
    def test_a_reused_clone_must_sit_clean_at_the_commit(self):
        with tempfile.TemporaryDirectory() as d:
            def git(*args):
                subprocess.run(["git", "-C", d, "-c", "user.name=t", "-c", "user.email=t@t", *args],
                               check=True, capture_output=True)
            git("init", "-q")
            open(os.path.join(d, "a.txt"), "w").write("a\n")
            git("add", "a.txt")
            git("commit", "-q", "-m", "one")
            first = ab.git("-C", d, "rev-parse", "HEAD")
            self.assertTrue(ab.is_clean_checkout(d, first))
            open(os.path.join(d, "a.txt"), "w").write("edited\n")
            self.assertFalse(ab.is_clean_checkout(d, first))
            git("commit", "-q", "-am", "two")
            self.assertFalse(ab.is_clean_checkout(d, first))
            open(os.path.join(d, "new.txt"), "w").write("x\n")
            self.assertFalse(ab.is_clean_checkout(d, ab.git("-C", d, "rev-parse", "HEAD")))
            self.assertFalse(ab.is_clean_checkout(os.path.join(d, "missing"), first))


if __name__ == "__main__":
    unittest.main()
