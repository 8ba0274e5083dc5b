"""Count the code lines of Python files.

A code line is a non-blank line that is not a ``#`` comment and does not
belong to a module, class or function docstring.  Usage:

    python tools/code_lines.py PATH...

prints ``<count>  <path>`` per file and, for more than one file, a total.
"""

from __future__ import annotations

import ast
import sys


def _docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers (1-based) covered by module/class/function docstrings."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(src: str) -> int:
    doc = _docstring_lines(ast.parse(src))
    return sum(1 for i, line in enumerate(src.splitlines(), 1)
               if line.strip() and not line.strip().startswith("#")
               and i not in doc)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {p}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
