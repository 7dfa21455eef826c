#!/usr/bin/env python
"""Count code lines: the non-blank lines of Python source that are
neither comments nor docstrings. Prints one total.

    python scripts/code_lines.py [path ...]   # default: libmr_spark/

A line counts when a token other than a comment, a newline or an
indent marker touches it (``tokenize``), and no module, class or
function docstring spans it (``ast``). A multi-line string that is
not a docstring counts on every line it spans.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_source(src: str) -> int:
    """Code lines of one module's source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def count_path(path: str) -> int:
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as fh:
            return count_source(fh.read())
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        total += sum(count_path(os.path.join(root, f)) for f in sorted(files) if f.endswith(".py"))
    return total


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(here, "libmr_spark")]
    print(sum(count_path(p) for p in paths))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
