#!/usr/bin/env python3
"""Count code lines in source files.

A code line is a non-blank line whose first non-space characters are not
`//`, `/**` or `*` (line comments, scaladoc openers and scaladoc/block
comment continuation lines). Prints one `<count>  <file>` line per file
and a total line, so simplicity changes can report reproducible sizes.

Usage: python3 tools/code_lines.py FILE...
"""
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/**", "*")):
                n += 1
    return n


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
