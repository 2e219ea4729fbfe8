"""tools/loc.py: code lines exclude blank, comment and docstring lines."""

from tools.loc import count

SRC = '''"""Module docstring
over two lines."""

import os  # a trailing comment does not hide code


# a comment line
def f(x):
    """Docstring."""
    sql = """
    SELECT 1
    """
    return x
'''


def test_count_skips_blank_comment_and_docstring_lines():
    raw, code = count(SRC)
    assert raw == 13
    # import, def, the three lines of the SQL string value, return
    assert code == 6
