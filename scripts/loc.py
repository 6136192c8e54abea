"""Count code lines: lines that hold a token other than a comment, and
that no docstring covers. Blank lines, comment-only lines and docstrings
(module, class and function) do not count.

    python scripts/loc.py              # library, __spark_entry__.py, tests
    python scripts/loc.py --modules    # also one row per library module
    python scripts/loc.py FILE_OR_DIR ...

A directory counts every ``*.py`` below it.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ebook_conversion_to_text_for_machine_learning_spark"
GROUPS = {
    "library": PACKAGE,
    "__spark_entry__.py": "__spark_entry__.py",
    "tests": "tests",
}
_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set:
    lines: set = set()
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
    with open(path, "rb") as f:
        src = f.read()
    skip = _docstring_lines(ast.parse(src))
    code: set = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def _files(target: str) -> list:
    if os.path.isfile(target):
        return [target]
    out = []
    for dirpath, dirnames, filenames in os.walk(target):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        out += [os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py")]
    return out


def count(target: str) -> int:
    return sum(count_file(p) for p in _files(target))


def main(argv: list) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*", help="files or directories (default: the repo groups)")
    ap.add_argument("--modules", action="store_true", help="also list each library module")
    args = ap.parse_args(argv)
    rows = (
        [(p, count(p)) for p in args.paths]
        if args.paths
        else [(name, count(os.path.join(REPO, rel))) for name, rel in GROUPS.items()]
    )
    if args.modules:
        lib = os.path.join(REPO, PACKAGE)
        rows += [(os.path.relpath(p, REPO), count_file(p)) for p in _files(lib)]
    width = max(len(name) for name, _ in rows)
    for name, n in rows:
        print(f"{name:<{width}}  {n:>6,}")


if __name__ == "__main__":
    main(sys.argv[1:])
