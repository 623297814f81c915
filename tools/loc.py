"""Package size, counted the two ways ROADMAP quotes it.

    python3 tools/loc.py [CHECKOUT]

For every ``legal_knowledge_graph_spark/*.py`` and
``legal_knowledge_graph_spark/*/*.py`` file of ``CHECKOUT`` (default:
the checkout this script lives in) it prints

- ``lines``: physical lines, as ``wc -l`` counts them;
- ``code``: lines that hold a token other than a comment, after
  dropping blank lines and the lines of module, class and function
  docstrings (found with ``ast``, tokens read with ``tokenize``).

The files come largest first; the last line is the package total.
"""

from __future__ import annotations

import ast
import glob
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "legal_knowledge_graph_spark"
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
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(physical lines, code lines) of one Python source text."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return source.count("\n"), len(code - docs)


def main(checkout: str = ROOT) -> None:
    paths = glob.glob(os.path.join(checkout, PACKAGE, "*.py")) + glob.glob(
        os.path.join(checkout, PACKAGE, "*", "*.py")
    )
    rows = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            rows.append((*count(f.read()), os.path.relpath(path, checkout)))
    rows.sort(key=lambda r: (-r[0], r[2]))
    print(f"{'lines':>7} {'code':>7}  file")
    for lines, code, name in rows:
        print(f"{lines:>7} {code:>7}  {name}")
    print(f"{sum(r[0] for r in rows):>7} {sum(r[1] for r in rows):>7}  total")


if __name__ == "__main__":
    main(*sys.argv[1:])
