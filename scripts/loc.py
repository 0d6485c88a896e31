#!/usr/bin/env python3
"""Physical and code line counts of Python files.

    python3 scripts/loc.py <file.py> [<file.py> ...]

Physical lines are newline characters. A code line is a line that holds
a Python token outside comments and docstrings (a token spanning several
lines, such as a multi-line string that is not a docstring, counts each
line it spans). Prints one row per file and a total row.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by module, class and function docstrings."""
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


def count(source: str) -> tuple[int, int]:
    """(physical lines, code lines) of one Python source text."""
    docs = docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        code.update(
            ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in docs
        )
    return source.count("\n"), len(code)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    rows = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            rows.append((path, *count(f.read())))
    width = max(len(p) for p, _, _ in rows + [("total", 0, 0)])
    print(f"{'file':<{width}}  {'physical':>8}  {'code':>6}")
    for path, phys, code in rows:
        print(f"{path:<{width}}  {phys:>8}  {code:>6}")
    print(
        f"{'total':<{width}}  {sum(r[1] for r in rows):>8}  "
        f"{sum(r[2] for r in rows):>6}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
