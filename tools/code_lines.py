"""Count lines of Python code: lines that carry a token other than a
comment, a docstring or whitespace.

    python tools/code_lines.py FILE [FILE ...]
    python tools/code_lines.py FILE:NAME[,NAME ...]

The first form counts whole files. The second counts only the spans of
the named top-level functions or classes (`Class.method` reaches one
level down). A multi-line string that is not a docstring, such as an
SQL oracle, counts every line it spans. Prints one `count  target` line
per argument, then the total when there is more than one.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
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


def code_lines(source: str) -> set[int]:
    """Line numbers of `source` that hold code."""
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        span = range(tok.start[0], tok.end[0] + 1)
        lines.update(n for n in span if n not in docs)
    return lines


def _spans(tree: ast.Module, names: list[str]) -> list[tuple[int, int]]:
    out = []
    for name in names:
        scope, node = tree.body, None
        for part in name.split("."):
            node = next(
                (
                    n for n in scope
                    if isinstance(
                        n,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                    and n.name == part
                ),
                None,
            )
            if node is None:
                raise SystemExit(f"no function or class {name!r}")
            scope = node.body
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        out.append((first, node.end_lineno))
    return out


def count(target: str) -> int:
    path, _, names = target.partition(":")
    with open(path, encoding="utf-8") as f:
        source = f.read()
    lines = code_lines(source)
    if not names:
        return len(lines)
    spans = _spans(ast.parse(source), names.split(","))
    return sum(1 for n in lines if any(a <= n <= b for a, b in spans))


def main(argv: list[str]) -> None:
    if not argv:
        raise SystemExit(__doc__)
    total = 0
    for target in argv:
        n = count(target)
        total += n
        print(f"{n:7d}  {target}")
    if len(argv) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
