#!/usr/bin/env python3
"""Count the code lines of Scala sources: lines that are neither blank
nor comment-only. A comment-only line starts (after indentation) with
`//`, `/*`, `*` or `*/`, which covers line comments and the body of
scaladoc blocks. A line holding code before a trailing comment counts.

Usage: python3 scripts/code_lines.py <file or directory> [...]
Prints one `<lines>  <path>` row per .scala file, then the total.
"""
import os, sys

COMMENT_STARTS = ("//", "/*", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.strip().startswith(COMMENT_STARTS))


def scala_files(arg):
    if os.path.isfile(arg):
        return [arg]
    found = []
    for d, _, names in os.walk(arg):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    total = 0
    for arg in sys.argv[1:]:
        if not os.path.exists(arg):
            sys.exit(f"no such file or directory: {arg}")
        for path in scala_files(arg):
            n = code_lines(path)
            total += n
            print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
