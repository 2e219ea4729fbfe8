"""Line counts for Python sources: raw lines and code lines per file.

    python tools/loc.py <path> [<path> ...]

A path may be a file or a directory (searched recursively for ``*.py``).
Code lines exclude blank lines, comment-only lines and docstring lines;
a docstring is any statement that is a bare string literal (module,
class and function docstrings included). Strings used as values — SQL
text, for example — count as code.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}


def count(src: str) -> tuple[int, int]:
    """``(raw, code)`` line counts of one Python source string."""
    docs = [
        ((n.lineno, n.col_offset), (n.end_lineno, n.end_col_offset))
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    ]
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _NON_CODE:
            continue
        if tok.type == tokenize.STRING and any(a <= tok.start and tok.end <= b for a, b in docs):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code)


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".py")
    )


def main() -> None:
    paths = sys.argv[1:]
    if not paths:
        sys.exit(__doc__)
    total_raw = total_code = 0
    print(f"{'raw':>7} {'code':>7}  file")
    for f in (f for p in paths for f in _files(p)):
        with open(f, encoding="utf-8") as fh:
            raw, code = count(fh.read())
        total_raw += raw
        total_code += code
        print(f"{raw:>7} {code:>7}  {f}")
    print(f"{total_raw:>7} {total_code:>7}  total")


if __name__ == "__main__":
    main()
