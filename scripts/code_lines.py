#!/usr/bin/env python3
"""Count code lines of the Scala sources: lines that are neither blank nor
comment-only.

Usage: python3 scripts/code_lines.py [path ...]   (default: src/main)

Prints one `<lines>  <file>` row per .scala file under the given paths, then
the total. A line is a comment line when it is inside a /* ... */ block
(scaladoc included) or starts with //; a line holding code before or after a
comment counts as code.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            code = False
            while line:
                if in_block:
                    end = line.find("*/")
                    if end < 0:
                        break
                    in_block = False
                    line = line[end + 2:].strip()
                elif line.startswith("//"):
                    break
                elif line.startswith("/*"):
                    in_block = True
                    line = line[2:]
                else:
                    code = True
                    break
            n += code
    return n


def scala_files(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    total = 0
    for root in argv or ["src/main"]:
        for path in scala_files(root):
            n = code_lines(path)
            total += n
            print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
