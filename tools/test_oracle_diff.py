"""Unit tests of oracle_diff.py over a three-row events table.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import duckdb  # noqa: E402
import oracle_diff  # noqa: E402

FIXTURES = os.path.join(HERE, "oracle_diff_fixtures")


class OracleDiffTest(unittest.TestCase):

    def setUp(self):
        self.sf = tempfile.mkdtemp(prefix="oracle-diff-")
        duckdb.sql("SELECT * FROM (VALUES (1, 2.5), (2, -1.0), (3, 4.5)) t(event_id, value)") \
            .write_parquet(os.path.join(self.sf, "events.parquet"))

    def tearDown(self):
        shutil.rmtree(self.sf)

    def diff(self, old, new):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = oracle_diff.main(old, new, [self.sf])
        return code, {l.split()[1]: l for l in out.getvalue().splitlines()
                      if l.startswith(("SAME", "DIFF"))}

    def fixture_pair(self, keys):
        """old.json and new.json cut down to `keys`, in a temp dir."""
        paths = []
        for name in ("old.json", "new.json"):
            full = oracle_diff.load(os.path.join(FIXTURES, name))
            path = os.path.join(self.sf, name)
            with open(path, "w") as f:
                json.dump({k: full[k] for k in keys}, f)
            paths.append(path)
        return paths

    def test_a_rewrite_with_the_same_rows_passes(self):
        code, lines = self.diff(*self.fixture_pair(["ordered", "untouched"]))
        self.assertEqual(code, 0)
        self.assertEqual(lines["ordered"].split(), ["SAME", "ordered", f"{os.path.basename(self.sf)}=3"])
        self.assertNotIn("untouched", lines)

    def test_a_different_row_count_fails(self):
        code, lines = self.diff(*self.fixture_pair(["counted"]))
        self.assertEqual(code, 1)
        self.assertIn("row 0 n: int 3 -> int 2", lines["counted"])

    def test_a_different_value_type_fails(self):
        code, lines = self.diff(*self.fixture_pair(["retyped"]))
        self.assertEqual(code, 1)
        self.assertIn("int 6 -> float 6.0", lines["retyped"])

    def test_a_different_key_set_fails(self):
        old, new = self.fixture_pair(["ordered", "untouched"])
        kept = {"ordered": oracle_diff.load(new)["ordered"]}
        with open(new, "w") as f:
            json.dump(kept, f)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = oracle_diff.main(old, new, [self.sf])
        self.assertEqual(code, 1)
        self.assertIn("KEYS only old: ['untouched'] only new: []", out.getvalue())

    def test_the_full_fixtures_fail(self):
        old, new = (os.path.join(FIXTURES, n) for n in ("old.json", "new.json"))
        self.assertEqual(self.diff(old, new)[0], 1)


if __name__ == "__main__":
    unittest.main()
