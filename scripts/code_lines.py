#!/usr/bin/env python
"""Count code lines of Python files: lines that hold a token other than a
comment, a blank line or a docstring (a string statement on its own).

Usage: python scripts/code_lines.py PATH ...

A PATH that is a directory counts every ``*.py`` file under it. Prints
one ``<lines> <path>`` row per file and, for more than one file, a
``<lines> total`` row. Packing several statements onto one line lowers
the count, so compare counts of code written in the same style.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize as T

_SKIP = (T.NEWLINE, T.INDENT, T.DEDENT, T.ENDMARKER)


def code_lines(source: str) -> int:
    toks = [
        t
        for t in T.generate_tokens(io.StringIO(source).readline)
        if t.type not in (T.COMMENT, T.NL)
    ]
    lines: set[int] = set()
    for i, t in enumerate(toks):
        if t.type in _SKIP:
            continue
        docstring = (
            t.type == T.STRING
            and i + 1 < len(toks)
            and toks[i + 1].type == T.NEWLINE
            and (i == 0 or toks[i - 1].type in (T.NEWLINE, T.INDENT, T.DEDENT))
        )
        if not docstring:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            out += sorted(
                os.path.join(d, f)
                for d, _, names in os.walk(p)
                for f in names
                if f.endswith(".py")
            )
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files = _files(argv)
    total = 0
    for f in files:
        with open(f) as fh:
            n = code_lines(fh.read())
        total += n
        print(n, f)
    if len(files) > 1:
        print(total, "total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
