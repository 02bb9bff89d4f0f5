#!/usr/bin/env python
"""Print the package's code lines: non-blank lines that carry a code
token and are not comments or docstrings.

A line counts when some token other than a comment, newline or indent
covers it (so every non-blank line of a multi-line string or SQL
literal counts) and it lies outside every module, class and function
docstring (found with ``ast``). This is the count CHANGES.md quotes.

    python tools/code_lines.py            # the whole package
    python tools/code_lines.py -v         # plus one line per module
    python tools/code_lines.py PATH...    # given files or directories
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_time_data_warehouse_spark",
)
_NOT_CODE = {
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


def code_lines(source: str) -> int:
    """Code lines of one module's *source*."""
    text = source.splitlines()
    covered: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            covered.update(range(tok.start[0], tok.end[0] + 1))
    covered -= _docstring_lines(ast.parse(source))
    return sum(1 for n in covered if text[n - 1].strip())


def _modules(paths: list[str]):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for dirpath, _, files in os.walk(p):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def main(argv: list[str]) -> int:
    verbose = "-v" in argv
    paths = [a for a in argv if a != "-v"] or [_PKG]
    total = 0
    for path in sorted(_modules(paths)):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        if verbose:
            print(f"{n:7d}  {os.path.relpath(path)}")
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
