"""Count library code lines: ``tamar_spark/**/*.py`` without docstrings,
comments or blank lines.

Docstrings are the leading string statement of a module, class or function
(found with ``ast``); a comment line holds nothing but a ``tokenize``
comment.  A line that mixes code and a trailing comment counts as code.

Usage: ``python tools/code_lines.py [ROOT]`` (ROOT defaults to the
repository this file lives in).  Prints the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


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


def _code_lines_of(lines: set[int], src: str) -> set[int]:
    """Lines holding at least one token that is not a comment or layout."""
    layout = {
        tokenize.COMMENT,
        tokenize.NL,
        tokenize.NEWLINE,
        tokenize.INDENT,
        tokenize.DEDENT,
        tokenize.ENDMARKER,
    }
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in layout:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    code = _code_lines_of(set(), src)
    return len(code - _docstring_lines(ast.parse(src)))


def count(root: str) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "tamar_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                total += count_file(os.path.join(dirpath, name))
    return total


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(count(root))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
