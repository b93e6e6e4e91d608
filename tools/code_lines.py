"""Count code lines: no comments, no docstrings, no blank lines.

    python tools/code_lines.py <path>...

Each path is a ``.py`` file or a directory searched recursively for
``.py`` files.  A line counts when the tokenize stream puts a code token
on it; comments, blank lines and the lines of module, class and function
docstrings (found through the AST) do not count.  A statement spanning
several lines counts every line it covers that holds a token.  Prints
one total per path, then the grand total when there are several paths.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src, path)))


def count_path(path: str) -> int:
    if os.path.isfile(path):
        return count_file(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        total += sum(count_file(os.path.join(root, f)) for f in sorted(files) if f.endswith(".py"))
    return total


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python tools/code_lines.py <path>...", file=sys.stderr)
        return 2
    totals = [count_path(p) for p in argv]
    for p, n in zip(argv, totals):
        print(f"{n}\t{p}")
    if len(argv) > 1:
        print(f"{sum(totals)}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
