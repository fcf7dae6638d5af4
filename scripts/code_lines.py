#!/usr/bin/env python
"""Print the code lines of each package module and their total.

A code line holds at least one token that is not a comment and is not
part of a docstring (the leading string statement of a module, class or
function). Blank lines, comment-only lines and docstring lines do not
count.

    python scripts/code_lines.py                 # every module of xhs_ocr_spark
    python scripts/code_lines.py path/a.py ...   # just these files, and their total
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """The number of code lines in ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> None:
    files = [Path(a).resolve() for a in argv] or sorted((ROOT / "xhs_ocr_spark").rglob("*.py"))
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:6d}  {f.relative_to(ROOT) if f.is_relative_to(ROOT) else f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
