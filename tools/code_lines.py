"""Count code lines per Python file: lines that hold a token other than
a comment, blank line or docstring.

    python tools/code_lines.py search_engine_spark/engine.py [more.py ...]

Prints ``<count>  <path>`` per file (and a total for several). A
docstring is a string-literal statement that opens a module, class or
function body; every line it spans is left out, as are lines holding
only comments. A line that a multi-line token (a non-docstring string)
spans counts once.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers spanned by the docstrings in ``tree``."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    """The number of code lines in the Python file ``path``."""
    with open(path, "rb") as f:
        source = f.read()
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in _SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines(ast.parse(source)))


def main(paths: list[str]) -> None:
    counts = {p: code_lines(p) for p in paths}
    for path, n in counts.items():
        print(f"{n:>7,}  {path}")
    if len(counts) > 1:
        print(f"{sum(counts.values()):>7,}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
