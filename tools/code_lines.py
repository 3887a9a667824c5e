"""Count code lines: non-blank lines that are not comments or docstrings.

    python tools/code_lines.py [PATH ...]      # default: auto_ria_spark/

Prints one ``<count>  <file>`` line per Python file under each PATH, then
the total.  A line counts when a token other than a comment or a line
break touches it (a multi-line string literal counts every line it
spans), unless the line belongs to a docstring: the leading string
statement of a module, class or function.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Code-line count of one Python source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def main(argv: list[str]) -> int:
    total = 0
    for path in argv or [os.path.join(ROOT, "auto_ria_spark")]:
        for fn in _py_files(path):
            with open(fn, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {os.path.relpath(fn)}")
    print(f"{total:6d}  total")
    return total


if __name__ == "__main__":
    main(sys.argv[1:])
