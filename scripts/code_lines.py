#!/usr/bin/env python3
"""Count the code lines of source files: lines that are neither blank nor
comment. A line whose trimmed text starts with `//`, `*` or `/*` counts as
a comment (Scaladoc bodies included); everything else is code.

Usage: python3 scripts/code_lines.py <file>...
Prints one `<count>  <file>` line per file, then the total when more than
one file is given. A file that does not exist counts 0 (so a file added or
removed by a change can be counted on both sides of it).
"""
import os
import sys


def code_lines(path):
    if not os.path.exists(path):
        return 0
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                n += 1
    return n


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    if len(paths) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
