"""tools/e1_tree_diff.py: part-file name normalisation, one-sided paths,
differing bytes and its exit codes.

    python3 -m unittest tools/test_e1_tree_diff.py
"""
import contextlib
import io
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import e1_tree_diff as td  # noqa: E402

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "e1_tree_diff.py")
UUID_A = "0f1e2d3c-4b5a-6978-8796-a5b4c3d2e1f0"
UUID_B = "9a8b7c6d-5e4f-3021-1a2b-3c4d5e6f7a8b"


def write(root, rel, data):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def run(a, b):
    return subprocess.run([sys.executable, SCRIPT, a, b], capture_output=True, text=True)


class TreeDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        for root, uuid in ((self.a, UUID_A), (self.b, UUID_B)):
            write(root, f"reports/duplicates/part-00000-{uuid}-c000.csv", b"id,name\n1,x\n")
            write(root, f"backup/part-00003-{uuid}.csv", b"1,2\n")
            write(root, "output/users.json", b"[]")

    def tearDown(self):
        self.tmp.cleanup()

    def test_part_file_uuids_and_the_c000_suffix_are_normalised(self):
        self.assertEqual(set(td.tree(self.a)), {
            os.path.join("reports", "duplicates", "part-00000.csv"),
            os.path.join("backup", "part-00003.csv"),
            os.path.join("output", "users.json")})
        self.assertEqual(td.tree(self.a), td.tree(self.b))
        # a name that only looks like a part file keeps its name
        write(self.a, "output/part-7-notauuid.csv", b"")
        self.assertIn(os.path.join("output", "part-7-notauuid.csv"), td.tree(self.a))

    def test_identical_trees_exit_0(self):
        r = run(self.a, self.b)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout.strip().splitlines()[-1], "identical")

    def test_paths_on_one_side_only_are_listed_and_exit_1(self):
        write(self.a, "output/a_only/a_only.shp", b"\x00")
        write(self.b, "output/b_only.json", b"{}")
        self.assertEqual(td.diff(td.tree(self.a), td.tree(self.b)), (
            [os.path.join("output", "a_only", "a_only.shp")], [os.path.join("output", "b_only.json")], []))
        r = run(self.a, self.b)
        self.assertEqual(r.returncode, 1)
        self.assertIn(f"only in {self.a}: {os.path.join('output', 'a_only', 'a_only.shp')}", r.stdout)
        self.assertIn(f"only in {self.b}: {os.path.join('output', 'b_only.json')}", r.stdout)
        self.assertEqual(r.stdout.strip().splitlines()[-1], "2 differences")

    def test_differing_bytes_are_listed_and_exit_1(self):
        write(self.b, f"reports/duplicates/part-00000-{UUID_B}-c000.csv", b"id,name\n1,y\n")
        r = run(self.a, self.b)
        self.assertEqual(r.returncode, 1)
        self.assertIn(f"differs: {os.path.join('reports', 'duplicates', 'part-00000.csv')}", r.stdout)
        self.assertEqual(r.stdout.strip().splitlines()[-1], "1 differences")

    def test_usage_errors_exit_2(self):
        self.assertEqual(subprocess.run([sys.executable, SCRIPT, self.a], capture_output=True).returncode, 2)
        self.assertEqual(run(self.a, os.path.join(self.tmp.name, "missing")).returncode, 2)
        with contextlib.redirect_stderr(io.StringIO()) as err:
            self.assertEqual(td.main(["e1_tree_diff.py", self.a, self.b, self.b]), 2)
        self.assertIn("e1_tree_diff.py <dirA> <dirB>", err.getvalue())


if __name__ == "__main__":
    unittest.main()
