"""Count code lines of Python files: lines that carry code, leaving out
blank lines, comment-only lines and docstrings (module, class and
function docstrings; a multi-line docstring drops every line it spans).
A line holding code and a trailing comment counts as code.

Usage: python tools/code_lines.py [PATH ...]   (default: sidecar_spark)
Prints one ``<lines>  <file>`` row per ``.py`` file under each PATH,
then the total.
"""

import argparse
import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree) -> set:
    out = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Number of lines in ``source`` that carry a code token outside a
    docstring."""
    docs = _docstring_lines(ast.parse(source))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in docs:
                lines.add(ln)
    return len(lines)


def py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for d, dirs, names in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*", default=["sidecar_spark"])
    args = ap.parse_args(argv)
    total = 0
    for root in args.paths:
        for f in py_files(root):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
