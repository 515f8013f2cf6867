"""Count lines of Python source: code-only and raw, per file.

Code-only lines are the lines that hold at least one token which is not a
comment and not part of a docstring (the leading string literal of a
module, class or function body). Blank lines never count.

    python scripts/loc.py json_schema_py_spark/schema/compiler.py ...
    python scripts/loc.py json_schema_py_spark      # every .py below it

Prints ``code raw path`` per file and a total line. Stdlib only.
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
    """(code-only lines, raw lines) of one Python source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return len(code), len(source.splitlines())


def _files(args: list[str]) -> list[Path]:
    out: list[Path] = []
    for a in args:
        p = Path(a)
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total_code = total_raw = 0
    for f in _files(argv):
        c, r = count(f.read_text(encoding="utf-8"))
        total_code += c
        total_raw += r
        print(f"{c:7d} {r:7d} {f}")
    print(f"{total_code:7d} {total_raw:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
