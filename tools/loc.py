"""Count physical and code lines of Python sources.

Usage: python tools/loc.py PATH [PATH ...]

Prints one line per ``.py`` file (directories are walked recursively)
and a total.  Physical lines are every line of the file.  Code lines
are lines that carry at least one token other than comments and
newlines, minus docstring lines (the leading string statement of a
module, class or function).  A string spanning several lines counts
on every line it spans unless it is a docstring.  Joining statements
onto fewer lines lowers both counts; deleting prose lowers only the
physical count.
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
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
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
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return len(source.splitlines()), len(code)


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    tot_phys = tot_code = 0
    for path in argv:
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                phys, code = count(fh.read())
            tot_phys += phys
            tot_code += code
            print(f"{phys:8d} {code:8d}  {f}")
    print(f"{tot_phys:8d} {tot_code:8d}  total (physical, code)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
