"""Count code lines in Python sources: lines that carry at least one
token other than a comment or a docstring. Blank lines, comment-only
lines and docstrings (a string literal standing alone as a statement)
do not count; anything under a ``vendor/`` directory is skipped.

    python tools/code_lines.py                        # the package
    python tools/code_lines.py cpx_etl_spark/functions/xslt.py tools

Prints one ``<count>  <path>`` line per file, largest first, then one
total line per argument (a directory's total is the sum of its files).
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """The number of lines of ``source`` that hold code."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []  # significant tokens of one statement

    def flush() -> None:
        if len(stmt) == 1 and stmt[0].type == tokenize.STRING:
            return  # a bare string statement: docstring
        for tok in stmt:
            lines.update(range(tok.start[0], tok.end[0] + 1))

    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            flush()
            stmt = []
        elif tok.type == tokenize.OP and tok.string == ";":
            flush()
            stmt = []
        elif tok.type not in _SKIP:
            stmt.append(tok)
    return len(lines)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x not in ("vendor", "__pycache__"))
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    targets = argv or [os.path.join(root, "cpx_etl_spark")]
    for target in targets:
        counts = []
        for f in python_files(target):
            with open(f, encoding="utf-8") as fh:
                counts.append((code_lines(fh.read()), f))
        for n, f in sorted(counts, reverse=True):
            print(f"{n:7d}  {os.path.relpath(f)}")
        print(f"{sum(n for n, _ in counts):7d}  TOTAL {os.path.relpath(target)}")


if __name__ == "__main__":
    main(sys.argv[1:])
