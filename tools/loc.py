#!/usr/bin/env python3
"""Code-line census: the lines of each src/main Scala file that hold code.

Usage: python3 tools/loc.py [FILE_OR_DIR_PREFIX ...]   (run at repo root)

Prints one line per src/main .scala file with its code-line count, then the
total. Comments are stripped first and blank lines are not counted, so a
line holding both code and a comment counts once. Arguments restrict the
census to files under those prefixes. The total is the size measure a
simplicity change is scored by.
"""
import sys

from knobs import strip_comments
from udfs import scala_files


def main(only):
    total = 0
    for path in scala_files("src/main"):
        if only and not any(path.startswith(o) for o in only):
            continue
        src = strip_comments(open(path, encoding="utf-8").read())
        n = sum(1 for line in src.split("\n") if line.strip())
        print(f"{path}: {n}")
        total += n
    print(f"total: {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
