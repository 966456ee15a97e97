#!/usr/bin/env python3
"""Settable-value census: the defaulted parameters of non-private defs.

Usage: python3 tools/knobs.py [FILE_OR_DIR_PREFIX ...]   (run at repo root)

For every member-level `def` (indent <= 2 spaces, i.e. in an object or class
body) that is not `private` or `private[...]`, lists the parameters that
carry a default value, one line per def, then prints the total. A defaulted
parameter is a value a caller may set or leave alone: the count is the size
of the options surface the simplicity review compares before and after a
change. The census covers every src/main .scala file; arguments restrict it
to files under those prefixes, as in tools/loc.py and tools/udfs.py.
Parameter lists may span lines; defaults may hold parentheses, brackets,
braces and string literals.
"""
import re
import sys

DEF = re.compile(r"^ {0,2}((?:(?:final|override|implicit|protected|private(?:\[\w+\])?)\s+)*)"
                 r"def\s+([A-Za-z_]\w*|`[^`]+`)")
OPEN, CLOSE = "([{", ")]}"


def skip_string(src, i):
    """Index just past the string literal that starts at src[i]."""
    if src.startswith('"""', i):
        end = src.find('"""', i + 3)
        return len(src) if end < 0 else end + 3
    i += 1
    while i < len(src) and src[i] != '"':
        i += 2 if src[i] == "\\" else 1
    return i + 1


def group(src, i):
    """(content, end) of the bracketed group opening at src[i]."""
    depth, j = 0, i
    while j < len(src):
        c = src[j]
        if c == '"':
            j = skip_string(src, j)
            continue
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
            if depth == 0:
                return src[i + 1:j], j + 1
        j += 1
    return src[i + 1:], len(src)


def top_level(text, sep):
    """Positions of `sep` characters outside brackets and strings."""
    depth, j, out = 0, 0, []
    while j < len(text):
        c = text[j]
        if c == '"':
            j = skip_string(text, j)
            continue
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == sep and depth == 0:
            out.append(j)
        j += 1
    return out


def params(clause):
    cuts = [-1] + top_level(clause, ",") + [len(clause)]
    return [clause[a + 1:b].strip() for a, b in zip(cuts, cuts[1:]) if clause[a + 1:b].strip()]


def has_default(param):
    for k in top_level(param, "="):
        if param[k + 1:k + 2] != ">" and param[k - 1:k] not in "=!<>":
            return True
    return False


def defaults(src, i):
    """Defaulted parameter names of the def whose name ends at src[i]."""
    while i < len(src) and src[i] in " \t\n":
        i += 1
    if i < len(src) and src[i] == "[":
        _, i = group(src, i)
    found = []
    while True:
        while i < len(src) and src[i] in " \t\n":
            i += 1
        if i >= len(src) or src[i] != "(":
            return found
        clause, i = group(src, i)
        found += [p.split(":")[0].split()[-1] for p in params(clause) if has_default(p)]


def strip_comments(src):
    """Blank out // and /* */ comments, keeping offsets and strings."""
    out, j = list(src), 0
    while j < len(src):
        if src[j] == '"':
            j = skip_string(src, j)
        elif src.startswith("//", j):
            end = src.find("\n", j)
            end = len(src) if end < 0 else end
            out[j:end] = " " * (end - j)
            j = end
        elif src.startswith("/*", j):
            end = src.find("*/", j + 2)
            end = len(src) if end < 0 else end + 2
            out[j:end] = [c if c == "\n" else " " for c in src[j:end]]
            j = end
        else:
            j += 1
    return "".join(out)


def main(only):
    from udfs import scala_files
    total = 0
    for path in scala_files("src/main"):
        if only and not any(path.startswith(o) for o in only):
            continue
        src = strip_comments(open(path).read())
        offset = 0
        for n, line in enumerate(src.split("\n"), 1):
            m = DEF.match(line)
            if m and "private" not in m.group(1):
                names = defaults(src, offset + m.end())
                if names:
                    print(f"{path}:{n} def {m.group(2)}: {len(names)} ({', '.join(names)})")
                    total += len(names)
            offset += len(line) + 1
    print(f"total: {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
