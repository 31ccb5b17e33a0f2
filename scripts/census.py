"""Size census of a Python package: per module, its line count, its
function count and the number of parameters with a default value.

A function is every ``def`` and ``async def``, methods and nested
functions included (lambdas are not).  A defaulted parameter is a
positional parameter with a default or a keyword-only parameter with one.

Usage: python scripts/census.py [package dir, default olkg]
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def census(path: str) -> tuple[int, int, int]:
    """(lines, functions, defaulted parameters) of one source file."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    funcs = [n for n in ast.walk(ast.parse(src, path))
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    defaulted = sum(len(fn.args.defaults)
                    + sum(d is not None for d in fn.args.kw_defaults)
                    for fn in funcs)
    return len(src.splitlines()), len(funcs), defaulted


def main(argv=None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    pkg = argv[0] if argv else os.path.join(REPO, "olkg")
    rows = [(name, *census(os.path.join(pkg, name)))
            for name in sorted(os.listdir(pkg)) if name.endswith(".py")]
    total = ("total", *(sum(r[i] for r in rows) for i in (1, 2, 3)))
    print(f"{'module':<20}{'lines':>7}{'funcs':>7}{'defaulted':>11}")
    for name, lines, funcs, defaulted in rows + [total]:
        print(f"{name:<20}{lines:>7}{funcs:>7}{defaulted:>11}")


if __name__ == "__main__":
    main()
