#!/usr/bin/env python3
"""Count code lines per file and in total.

A code line is a non-blank line that, once leading whitespace is
stripped, does not start with `//`, `/*` or `*` (so Scala/Java line
comments and the body of block and doc comments are not counted).

    python3 tools/code_lines.py <path>...

A directory counts every *.scala, *.java and *.py file under it.
"""
import os
import sys

SOURCE_SUFFIXES = (".scala", ".java", ".py")
COMMENT_PREFIXES = ("//", "/*", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.strip().startswith(COMMENT_PREFIXES))


def files_of(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, n) for n in sorted(names) if n.endswith(SOURCE_SUFFIXES)]
    return found


def main(args):
    if not args:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for arg in args:
        if not os.path.exists(arg):
            print(f"no such file or directory: {arg}", file=sys.stderr)
            return 1
        for path in files_of(arg):
            n = code_lines(path)
            total += n
            print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
