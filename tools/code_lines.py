"""Count code lines per Python file: lines that hold at least one token
of code, so blank lines, comment-only lines and docstring lines are left
out. A docstring is the string-literal expression that opens a module,
class or function body (``ast.get_docstring``'s definition). A token
spanning several lines (a triple-quoted string that is not a docstring)
counts on every line it covers.

Usage::

    python tools/code_lines.py data_integration_spark/similarity
    python tools/code_lines.py data_integration_spark/similarity/pq.py ...

Prints one ``<count> <path>`` line per file, then the total of each
directory argument.
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


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by the docstrings of ``tree``."""
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


def code_lines(source: str) -> int:
    """The number of code lines in ``source``."""
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skip)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for arg in argv:
        total = 0
        for f in python_files(arg):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d} {f}")
        if os.path.isdir(arg):
            print(f"{total:6d} total {arg}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
