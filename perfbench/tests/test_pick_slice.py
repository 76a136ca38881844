"""The catalog slice is allotted per latency class in proportion to the
class's share of queries, keeps every class, and skips q44-q46."""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import pick_slice  # noqa: E402


class PickSliceTest(unittest.TestCase):
    def test_slots_follow_class_shares_and_keep_the_tail(self):
        times = {f"q{i:03d}_fast": 0.1 + i / 1000 for i in range(60)}
        times.update({f"q{i:03d}_mid": 1.0 + i / 1000 for i in range(60, 98)})
        times.update({"q098_slow": 3.0, "q099_slow": 4.0, "q44_csv_scan_survey": 0.2})
        _, slots, chosen = pick_slice.pick(times, 8)
        # the tail's one slot is forced; the other seven split 60:38
        self.assertEqual(slots, [4, 3, 1])
        names = [q for c in chosen for _, q in c]
        self.assertEqual(len(names), 8)
        self.assertNotIn("q44_csv_scan_survey", names)
        # evenly spaced ranks within a class: the middle of each stratum
        self.assertEqual([q for _, q in chosen[1]], ["q066_mid", "q079_mid", "q091_mid"])
        self.assertIn(chosen[2][0][1], ("q098_slow", "q099_slow"))


if __name__ == "__main__":
    unittest.main()
