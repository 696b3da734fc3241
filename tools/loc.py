#!/usr/bin/env python3
"""Count Scala code lines per file: non-blank lines that are not comments.

A line is not counted when it is blank, when it starts with `//`, or when
it lies entirely inside a `/* ... */` block (scaladoc included). A line
holding code before a block opens, or after one closes, counts. String
literals are not parsed, so a `/*` inside a string opens a block; the
code base has none outside comments.

Usage:
  python3 tools/loc.py [PATH ...]     # files or directories, default src/main/scala

Prints one line per file and a total line last.
"""

import os
import sys


def code_lines(text):
    """Return the number of code lines in Scala source `text`."""
    n = 0
    depth = 0  # Scala block comments nest
    for line in text.splitlines():
        code = False
        i = 0
        s = line.strip()
        while i < len(s):
            if depth > 0:
                if s.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif s.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif s.startswith("//", i):
                break
            elif s.startswith("/*", i):
                depth += 1
                i += 2
            elif s[i].isspace():
                i += 1
            else:
                code = True
                i += 1
        n += code
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    paths = argv or ["src/main/scala"]
    total = 0
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
