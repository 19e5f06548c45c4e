"""Count code lines: non-blank, non-comment, docstrings excluded.

    python tools/count_code_lines.py dump_es_parquet_spark
    python tools/count_code_lines.py dump_es_parquet_spark/operators/es_search.py:7284-8634

A path counts every ``*.py`` file under it; ``file:A-B`` counts only
lines A..B (1-based, inclusive) of one file. Prints one line per
argument.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> set[int]:
    """Line numbers holding code, docstring lines excluded."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - doc


def count(arg: str) -> int:
    path, _, span = arg.partition(":")
    files = sorted(Path(path).rglob("*.py")) if Path(path).is_dir() else [Path(path)]
    lo, _, hi = span.partition("-")
    total = 0
    for f in files:
        lines = code_lines(f.read_text())
        if span:
            lines = {n for n in lines if int(lo) <= n <= int(hi)}
        total += len(lines)
    return total


if __name__ == "__main__":
    for a in sys.argv[1:]:
        print(f"{count(a):8d}  {a}")
