#!/usr/bin/env python
"""Count the code lines of Python files: non-blank lines that hold at
least one token other than a comment or a docstring.

Docstrings are found with ``ast`` (the first statement of a module,
class or function body when it is a string constant); comments and
blank lines with ``tokenize``. Trimming prose therefore never changes
the count.

Usage: ``python scripts/code_lines.py FILE [FILE ...]`` prints
``<lines> <file>`` per file and a total when given several.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
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
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in doc:
                lines.add(ln)
    return len(lines)


def main(paths: list[str]) -> int:
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n} {p}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
