"""Unit tests for tools/codelines.py.

    python3 -m unittest tools/test_codelines.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from codelines import code_lines  # noqa: E402


class CodeLinesTest(unittest.TestCase):

    def test_double_quote_char_literal_opens_no_string(self):
        src = "val q = '\"'\n// a comment\nval x = 1\n"
        self.assertEqual(code_lines(src), 2)

    def test_line_comment_marker_inside_a_string_is_code(self):
        src = 'val url = "http://example.com" // trailing\n'
        self.assertEqual(code_lines(src), 1)
        self.assertEqual(code_lines('"//"\n'), 1)

    def test_nested_block_comments(self):
        src = "/* outer /* inner */ still comment\n*/\nval x = 1\n"
        self.assertEqual(code_lines(src), 1)
        self.assertEqual(code_lines("/* /* */ */ val y = 2\n"), 1)

    def test_triple_quoted_string_spanning_comment_markers(self):
        src = ('val s = """first\n'
               '// not a comment\n'
               '/* nor this */\n'
               '"""\n'
               '// a comment\n')
        self.assertEqual(code_lines(src), 4)

    def test_blank_and_comment_only_lines(self):
        src = ("\n"
               "   \n"
               "// line comment\n"
               "/** scaladoc\n"
               "  * body\n"
               "  */\n"
               "\t\n"
               "object A {\n"
               "  /* block */ // and a line comment\n"
               "}\n")
        self.assertEqual(code_lines(src), 2)


if __name__ == "__main__":
    unittest.main()
