"""List the functions and classes of a package that only tests use.

    python tools/test_only_defs.py <package_dir>

Every ``.py`` file under the package's parent directory is scanned,
except those under ``tests/``, ``perfbench/tests/`` and hidden or
``__pycache__`` directories.  A function, class or method of the
package counts as used when any scanned file names it: as a bare name,
as an attribute (``x.name``) or in an import.  A use inside the
definition's own body (recursion) does not count.  Dunder methods are
skipped.

The check goes by name alone, so it is conservative: a definition whose
name is also used for something else (``tag`` and XML's ``elem.tag``)
counts as used.  Each unused definition prints as
``path:line<TAB>qualified.name``; the last line is their number.
"""

from __future__ import annotations

import ast
import os
import sys

_SKIP_DIRS = ("tests", os.path.join("perfbench", "tests"))


def _py_files(root: str, skip: tuple[str, ...] = ()) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        dirs[:] = sorted(
            x
            for x in dirs
            if not x.startswith(".")
            and x != "__pycache__"
            and os.path.normpath(os.path.join(rel, x)) not in skip
        )
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _defs(path: str) -> list[tuple[str, str, int, int]]:
    """(name, qualified name, first line, last line) of each definition."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    out = []

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = child.name
                if not (name.startswith("__") and name.endswith("__")):
                    out.append((name, prefix + name, child.lineno, child.end_lineno))
                if isinstance(child, ast.ClassDef):
                    visit(child, prefix + name + ".")

    visit(tree, "")
    return out


def _uses(path: str) -> list[tuple[str, int]]:
    """(name, line) of every bare name, attribute and imported name."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                out.append((a.name.rsplit(".", 1)[-1], node.lineno))
    return out


def test_only_defs(pkg: str) -> list[tuple[str, int, str]]:
    pkg = os.path.abspath(pkg)
    root = os.path.dirname(pkg)
    uses = {p: _uses(p) for p in _py_files(root, _SKIP_DIRS)}
    out = []
    for path in _py_files(pkg):
        for name, qual, lo, hi in _defs(path):
            used = any(
                n == name and not (p == path and lo <= line <= hi)
                for p, refs in uses.items()
                for n, line in refs
            )
            if not used:
                out.append((os.path.relpath(path, root), lo, qual))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python tools/test_only_defs.py <package_dir>", file=sys.stderr)
        return 2
    found = test_only_defs(argv[0])
    for path, line, qual in found:
        print(f"{path}:{line}\t{qual}")
    print(f"{len(found)} definitions used only by tests")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
