"""Count the code lines of Python files: lines that hold a Python token
other than a comment, outside module, class and function docstrings.
Blank lines, comment-only lines and docstrings do not count; every line of
any other string (an oracle's SQL text, say) does.

    python tools/code_lines.py <files...>

Prints ``<code lines> <raw lines> <path>`` per file, raw being ``wc -l``
(newline count), then the same two totals.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(
                n for n in range(tok.start[0], tok.end[0] + 1) if n not in docs
            )
    return len(lines)


def main(paths: list[str]) -> int:
    total_code = total_raw = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            source = f.read()
        code, raw = code_lines(source), source.count("\n")
        total_code += code
        total_raw += raw
        print(f"{code:6d} {raw:6d} {path}")
    print(f"{total_code:6d} {total_raw:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
