"""Tests for scripts/dupscan.py: which lines count, how repeated windows
group into clusters, which files are scanned, and the report.

    python3 -m unittest discover -s scripts
"""
import contextlib
import io
import os
import tempfile
import unittest

import dupscan
from dupscan import code_lines, scala_files, scan

BODY = "\n".join(f"val x{i} = f({i})" for i in range(6))


class CodeLinesTest(unittest.TestCase):

    def test_blank_comment_package_and_import_lines_are_skipped(self):
        text = ("package graft\n"
                "import a.b\n"
                "\n"
                "// note\n"
                "/** doc\n"
                "  * more doc\n"
                "  */\n"
                "/* one-line block */\n"
                "val   a =  1\n")
        self.assertEqual(code_lines(text), [(9, "val a = 1")])

    def test_a_continuation_line_starting_with_a_star_is_code(self):
        self.assertEqual([t for _, t in code_lines("val a = b\n  * c\n")],
                         ["val a = b", "* c"])


class ScanTest(unittest.TestCase):

    def test_overlapping_windows_form_one_cluster(self):
        clusters, covered = scan({"A.scala": BODY, "B.scala": "x\n" + BODY})
        self.assertEqual(len(clusters), 1)
        n, first, spans = clusters[0]
        self.assertEqual((n, first), (6, "val x0 = f(0)"))
        self.assertEqual(spans, [("A.scala", 1, 6), ("B.scala", 2, 7)])
        self.assertEqual(covered, {"A.scala": 6, "B.scala": 6})

    def test_whitespace_and_comments_do_not_hide_a_copy(self):
        spaced = BODY.replace(" = ", "   =   ").replace("\n", "\n  // c\n", 1)
        clusters, _ = scan({"A.scala": BODY, "B.scala": spaced})
        self.assertEqual(len(clusters), 1)

    def test_a_copy_within_one_file_counts(self):
        clusters, covered = scan({"A.scala": BODY + "\nval y = 0\n" + BODY})
        self.assertEqual(len(clusters), 1)
        self.assertEqual(covered, {"A.scala": 12})

    def test_four_shared_lines_are_not_a_window(self):
        four = "\n".join(BODY.splitlines()[:4])
        self.assertEqual(scan({"A.scala": four + "\nval a = 1",
                               "B.scala": four + "\nval b = 2"}), ([], {}))


class FilesTest(unittest.TestCase):

    def test_oracle_and_tools_are_not_scanned(self):
        with tempfile.TemporaryDirectory() as root:
            for sub in ("graft/operators", "graft/oracle", "graft/tools"):
                d = os.path.join(root, "src/main/scala", sub)
                os.makedirs(d)
                with open(os.path.join(d, "X.scala"), "w") as f:
                    f.write(BODY)
            self.assertEqual(scala_files(root),
                             [os.path.join("src/main/scala/graft/operators/X.scala")])

    @staticmethod
    def run_main(bodies):
        """(exit code, report) of dupscan.main over one file per body."""
        with tempfile.TemporaryDirectory() as root:
            d = os.path.join(root, "src/main/scala/graft")
            os.makedirs(d)
            for i, body in enumerate(bodies):
                with open(os.path.join(d, "ABCD"[i] + ".scala"), "w") as f:
                    f.write(body)
            out = io.StringIO()
            old = dupscan.ROOT
            dupscan.ROOT = root
            try:
                with contextlib.redirect_stdout(out):
                    code = dupscan.main()
            finally:
                dupscan.ROOT = old
        return code, out.getvalue()

    def test_a_cluster_exits_1(self):
        self.assertEqual(self.run_main([BODY, BODY])[0], 1)

    def test_no_cluster_exits_0(self):
        code, text = self.run_main([BODY, BODY.replace("f(", "g(")])
        self.assertEqual(code, 0)
        self.assertIn("== 0 clusters ==", text)

    def test_the_report_lists_places_and_per_file_counts(self):
        text = self.run_main([BODY, BODY])[1]
        self.assertIn("6 lines x 2: val x0 = f(0)", text)
        self.assertIn("src/main/scala/graft/A.scala:1-6", text)
        self.assertIn("== 1 clusters ==", text)
        self.assertIn("    12  total repeated code lines", text)


if __name__ == "__main__":
    unittest.main()
