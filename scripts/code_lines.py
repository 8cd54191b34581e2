"""Count code lines: lines that hold a Python token other than a comment,
with docstring lines left out.

A multi-line token (a string literal that is not a docstring) counts on
every line it spans. Blank lines, comment-only lines and the lines of a
module, class or function docstring do not count.

Usage:
    python scripts/code_lines.py                 # the package, one total
    python scripts/code_lines.py PATH [PATH ...] # files or directories, per file
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cs588_data_science_bug_duplicate_detector_spark"

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in one module's source text."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path)
        for f in files if f.endswith(".py")
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*", help="files or directories (default: the package)")
    args = ap.parse_args(argv)
    per_file = bool(args.paths)
    total = 0
    for path in args.paths or [os.path.join(ROOT, PKG)]:
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            if per_file:
                print(f"{n:6d}  {os.path.relpath(f)}")
    print(f"{total:6d}  total" if per_file else total)


if __name__ == "__main__":
    main(sys.argv[1:])
