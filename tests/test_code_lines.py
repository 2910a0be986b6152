"""tools/code_lines.py counts the lines that hold a Python token other than
a comment, outside module/class/function docstrings."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from code_lines import code_lines  # noqa: E402

SAMPLE = '''"""Module
docstring."""
import os  # a comment


class A:
    """Class docstring."""

    def f(self):
        """Function
        docstring."""
        # comment only
        return """not a
docstring"""
'''


def test_code_lines_skips_comments_blanks_and_docstrings():
    # import, class, def, and the two lines of the returned string
    assert code_lines(SAMPLE) == 5
    assert SAMPLE.count("\n") == 14
