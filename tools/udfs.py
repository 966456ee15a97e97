#!/usr/bin/env python3
"""Scala UDF census: the `udf(` call sites per src/main file.

Usage: python3 tools/udfs.py [FILE_OR_DIR_PREFIX ...]   (run at repo root)

Prints one line per src/main file that calls `udf(` (or `functions.udf(`),
with its count, then the total. Comments are stripped first, so a comment
that mentions `udf(` is not a site. Arguments restrict the census to files
under those prefixes. Each site is a Scala function the optimizer cannot see
into and whose inputs Spark converts to Scala objects on every row; the
count is how much of the program still runs that way.
"""
import os, re, sys

from knobs import strip_comments

SITE = re.compile(r"(?<!\w)udf\s*\(")


def scala_files(root):
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main(only):
    total = 0
    for path in scala_files("src/main"):
        if only and not any(path.startswith(o) for o in only):
            continue
        n = len(SITE.findall(strip_comments(open(path).read())))
        if n:
            print(f"{path}: {n}")
            total += n
    print(f"total: {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
