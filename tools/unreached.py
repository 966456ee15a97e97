#!/usr/bin/env python3
"""Reachability census: the src/main members that no other src/main file names.

Usage: python3 tools/unreached.py [FILE_OR_DIR_PREFIX ...]   (run at repo root)

Lists every public or package-private `def`/`val` declared at member level
(indent <= 2 spaces, i.e. in an object or class body) in src/main whose name
appears in no OTHER src/main file, with how often src/test and perfbench/src
name it. A member with test=0 and perfbench=0 is reached only from its own
file, if at all; one with only test counts is test-only code. Arguments
restrict the listing to files under those prefixes. Names are matched as
whole words of the code with `//` and `/* */` comments stripped (a comment
that names a member does not reach it), so an unrelated identifier with the
same name counts as a use: the census under-reports, never over-reports,
what is unreached.
"""
import collections, os, re, sys

from knobs import strip_comments

DECL = re.compile(r"^ {0,2}(?:(?:final|lazy|implicit|protected|private\[\w+\])\s+)*"
                  r"(def|val)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code(path):
    return strip_comments(open(path).read())


def words(paths):
    return {p: collections.Counter(WORD.findall(code(p))) for p in paths}


main = words(scala_files("src/main"))
test = sum(words(scala_files("src/test")).values(), collections.Counter())
bench = sum(words(scala_files("perfbench/src")).values(), collections.Counter())
only = sys.argv[1:]

for path in sorted(main):
    if only and not any(path.startswith(o) for o in only):
        continue
    for n, line in enumerate(code(path).split("\n"), 1):
        m = DECL.match(line)
        if not m:
            continue
        name = m.group(2)
        if any(c[name] for p, c in main.items() if p != path):
            continue
        print(f"{path}:{n} {m.group(1)} {name} test={test[name]} perfbench={bench[name]}")
