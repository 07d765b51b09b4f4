#!/usr/bin/env python3
"""Code lines of Scala sources: the count ROADMAP.md and CHANGES.md use.

A code line is a line that is not blank and does not start (after
whitespace) with `//`, `*`, `/**` or `*/` — the lines
`grep -cvE '^\\s*($|//|\\*|/\\*\\*|\\*/)'` counts. Each argument is a file, or
a directory whose `.scala` files are counted recursively.

    python3 tools/codelines.py src/main src/main/scala/graft/etl/SnapshotLake.scala

prints one `<count> <path>` line per argument, and a total when given
more than one.
"""
import os
import re
import sys

NON_CODE = re.compile(r"^\s*($|//|\*|/\*\*|\*/)")


def file_lines(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return sum(1 for line in f if not NON_CODE.match(line))


def path_lines(path):
    if os.path.isfile(path):
        return file_lines(path)
    return sum(file_lines(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names if n.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__)
    counts = [(path_lines(p), p) for p in paths]
    for n, p in counts:
        print(n, p)
    if len(counts) > 1:
        print(sum(n for n, _ in counts), "total")


if __name__ == "__main__":
    main(sys.argv[1:])
