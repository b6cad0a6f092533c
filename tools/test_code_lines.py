"""Unit tests of code_lines.py over small source trees.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import code_lines  # noqa: E402

SCALA = """package a

/** Doc line one.
  * Doc line two.
  */
object A {
  // a line comment
  val x = 1 // trailing comment: still code
\t
  def f(): Int = x /* inline */
}
"""


class CodeLinesTest(unittest.TestCase):

    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="code-lines-")

    def tearDown(self):
        shutil.rmtree(self.root)

    def write(self, rel, text):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        return path

    def run_main(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = code_lines.main(["code_lines.py", self.root])
        return code, out.getvalue().splitlines()

    def test_each_line_has_one_class(self):
        self.assertEqual(code_lines.classify(""), "blank")
        self.assertEqual(code_lines.classify(" \t "), "blank")
        self.assertEqual(code_lines.classify("  // c"), "comment")
        self.assertEqual(code_lines.classify("/** doc"), "comment")
        self.assertEqual(code_lines.classify("    * more doc"), "comment")
        self.assertEqual(code_lines.classify("  */"), "comment")
        self.assertEqual(code_lines.classify("val x = 1 // c"), "code")
        self.assertEqual(code_lines.classify("  a * b"), "code")

    def test_a_file_is_counted_by_class(self):
        path = self.write("a/A.scala", SCALA)
        self.assertEqual(code_lines.count_file(path), (5, 4, 2))

    def test_only_scala_and_java_sources_count(self):
        self.write("a/A.scala", SCALA)
        self.write("b/B.java", "class B {}\n\n")
        self.write("b/notes.md", "# not a source\n")
        paths = [os.path.relpath(p, self.root) for p, _ in code_lines.count_tree(self.root)]
        self.assertEqual(paths, ["a/A.scala", "b/B.java"])

    def test_total_line_sums_the_files(self):
        self.write("a/A.scala", SCALA)
        self.write("b/B.java", "class B {}\n\n")
        code, lines = self.run_main()
        self.assertEqual(code, 0)
        self.assertEqual(lines[-1].split(), ["6", "4", "3", "13", "TOTAL"])
        self.assertEqual(len(lines), 3)

    def test_a_missing_root_is_a_usage_error(self):
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            code = code_lines.main(["code_lines.py", os.path.join(self.root, "absent")])
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
