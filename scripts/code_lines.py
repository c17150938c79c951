#!/usr/bin/env python
"""Count the package's code lines, per module and in total.

A code line is a line that holds part of a Python token other than a
comment or a docstring: blank lines, comment-only lines and the lines
of module, class and function docstrings (found with ``ast``) do not
count; every line a multi-line string literal spans does (``tokenize``).
This is the design-quality measure ROADMAP.md tracks.

Usage: python scripts/code_lines.py [package_dir]
Prints one ``lines path`` row per module, then the total.
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
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, "task_mapreduce_spark")
    total = 0
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d} {os.path.relpath(path, pkg)}")
    print(f"{total:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
