"""Count code lines: every line that holds a Python token other than a
comment, a docstring or whitespace.

A line counts once however many tokens it holds; a multi-line string
that is not a docstring (an SQL template, say) counts every line it
spans. Docstrings are the string-constant first statements of modules,
classes and functions, found with ``ast``.

Usage::

    python scripts/code_lines.py [PATH ...]

Each PATH is a ``.py`` file, a directory (searched recursively for
``.py`` files) or ``FILE.py::Qualified.name`` for one class or function
inside a file. Prints one ``count  path`` line per target and, for more
than one, the total. Default PATH: ``poormans_kube_etl_spark``.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_DEFS = (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
_SCOPES = (ast.Module, *_DEFS)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> set[int]:
    """The 1-based numbers of the code lines in ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(source))


def _find(tree: ast.AST, qualname: str) -> ast.AST:
    node = tree
    for part in qualname.split("."):
        node = next((n for n in node.body if isinstance(n, _DEFS) and n.name == part), None)
        if node is None:
            raise LookupError(f"no definition {qualname!r}")
    return node


def count(target: str) -> int:
    path, _, qualname = target.partition("::")
    with open(path, encoding="utf-8") as f:
        source = f.read()
    lines = code_lines(source)
    if qualname:
        node = _find(ast.parse(source), qualname)
        start = min([node.lineno] + [d.lineno for d in node.decorator_list])
        lines = {n for n in lines if start <= n <= node.end_lineno}
    return len(lines)


def _targets(paths: list[str]) -> list[str]:
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(
        prog="code_lines.py",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    parser.add_argument("paths", nargs="*", metavar="PATH", default=["poormans_kube_etl_spark"])
    args = parser.parse_args(argv)
    missing = [p for p in args.paths if not os.path.exists(p.partition("::")[0])]
    if missing:
        parser.error(f"no such path: {', '.join(missing)}")
    targets = _targets(args.paths)
    total = 0
    for t in targets:
        try:
            n = count(t)
        except LookupError as e:
            parser.error(f"{t}: {e}")
        total += n
        print(f"{n:7d}  {t}")
    if len(targets) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
