#!/usr/bin/env python3
"""Count code lines of the Scala sources.

A code line is a non-blank line outside a /* ... */ block comment that
does not start with //. Scaladoc (/** ... */) counts as a block comment.
Prints one "<count>\t<path>" line per .scala file under the given
directories (default: src/main), then a "<count>\ttotal" line.

    python3 tools/code_lines.py [dir_or_file ...]
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                    line = line.split("*/", 1)[1].strip()
                else:
                    continue
            if line.startswith("/*"):
                if "*/" not in line[2:]:
                    in_block = True
                    continue
                line = line[2:].split("*/", 1)[1].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def scala_files(target):
    if os.path.isfile(target):
        yield target
        return
    for d, _, names in sorted(os.walk(target)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    targets = argv[1:] or ["src/main"]
    total = 0
    for t in targets:
        for p in scala_files(t):
            c = code_lines(p)
            total += c
            print(f"{c}\t{p}")
    print(f"{total}\ttotal")


if __name__ == "__main__":
    main(sys.argv)
