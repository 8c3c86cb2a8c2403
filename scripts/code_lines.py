"""Print the package's size in code lines and settable values.

* code lines: lines under ``random_cut_forest_by_aws_spark/`` that hold a
  token other than a comment, NL, NEWLINE, INDENT or DEDENT, minus the
  lines of module, class and function docstrings;
* settable values: every named function parameter other than
  ``self``/``cls`` (``*args``/``**kwargs`` not counted), plus every
  annotated field of a class whose name ends in ``Config``.

Usage: python scripts/code_lines.py [--by-file] [PACKAGE_DIR]
"""

from __future__ import annotations

import argparse
import ast
import io
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def settable_values(tree: ast.AST) -> tuple[int, int]:
    params = fields = 0
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            named = a.posonlyargs + a.args + a.kwonlyargs
            params += sum(x.arg not in ("self", "cls") for x in named)
        elif isinstance(node, ast.ClassDef) and node.name.endswith("Config"):
            fields += sum(isinstance(s, ast.AnnAssign) for s in node.body)
    return params, fields


def main() -> int:
    root = Path(__file__).resolve().parents[1]
    ap = argparse.ArgumentParser()
    ap.add_argument("package", nargs="?",
                    default=str(root / "random_cut_forest_by_aws_spark"))
    ap.add_argument("--by-file", action="store_true",
                    help="also print each file's code lines")
    args = ap.parse_args()
    pkg = Path(args.package)
    total = params = fields = 0
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        n = code_lines(src)
        p, f = settable_values(ast.parse(src))
        total, params, fields = total + n, params + p, fields + f
        if args.by_file:
            print(f"{n:6d}  {path.relative_to(pkg)}")
    print(f"code lines: {total}")
    print(f"settable values: {params + fields} "
          f"({params} parameters + {fields} Config fields)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
