"""Count code lines per Python file: blank lines, comments and docstrings
are excluded, so the figure moves only when code moves.

    python3 scripts/loc.py [PATH ...]

PATH is a .py file or a directory (searched recursively); the default is
the ``debezium_partial_snapshotter_spark`` package. Prints one
``<lines>  <file>`` row per file, then the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from pathlib import Path

DEFAULT = Path(__file__).resolve().parent.parent / "debezium_partial_snapshotter_spark"

NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(src: str) -> int:
    docs = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in NON_CODE:
            continue
        lines.update(
            ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in docs
        )
    return len(lines)


def main(argv: list[str]) -> int:
    roots = [Path(a) for a in argv] or [DEFAULT]
    files = sorted(
        f for r in roots for f in ([r] if r.is_file() else r.rglob("*.py"))
    )
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:6d}  {os.path.relpath(f)}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
