"""Count the package's code lines: non-blank lines that are not comments or
docstrings, per file and in total. With ``--params``, list the defaulted
parameters of each function in the given modules instead, with a total.

    python tools/code_lines.py [root]    # default root: addressparser_spark/
    python tools/code_lines.py --params FILE.py[::FUNC] ...

A line counts when it holds at least one token other than a comment, a
newline or indentation, and lies outside every docstring (the leading
string statement of a module, class or function). A parameter counts when
it has a default value (positional or keyword-only); ``::FUNC`` restricts a
module to one function (nested functions print as ``outer.inner``). Uses
only ``ast`` and ``tokenize``, so two commits can be compared with the same
script.
"""

from __future__ import annotations

import ast
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


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


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    docs = _docstring_lines(ast.parse(source))
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
    lines: set[int] = set()
    for tok in tokens:
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def defaulted_params(path: str) -> dict[str, list[str]]:
    """{qualified function name: its parameters that have a default}."""
    with open(path, "rb") as f:
        tree = ast.parse(f.read())
    out: dict[str, list[str]] = {}

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = prefix
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                positional = a.posonlyargs + a.args
                names = [p.arg for p in positional[len(positional) - len(a.defaults):]]
                names += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                out[name] = names
            visit(child, f"{name}." if name != prefix else prefix)

    visit(tree, "")
    return out


def print_params(specs: list[str]) -> None:
    total = 0
    for spec in specs:
        path, _, only = spec.partition("::")
        for func, names in defaulted_params(path).items():
            if names and (not only or func == only):
                print(f"{len(names):3d}  {path}::{func}({', '.join(names)})")
                total += len(names)
    print(f"{total:3d}  total")


def main(argv: list[str]) -> None:
    if argv[:1] == ["--params"]:
        print_params(argv[1:])
        return
    root = argv[0] if argv else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "addressparser_spark"
    )
    counts = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                counts[os.path.relpath(path, root)] = code_lines(path)
    for rel in sorted(counts):
        print(f"{counts[rel]:6d}  {rel}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
