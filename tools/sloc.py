#!/usr/bin/env python3
"""Count non-blank, non-comment Scala source lines per file.

    python3 tools/sloc.py [DIR ...]     # default: src/main

Prints one `<lines>  <path>` row per .scala file under each DIR (sorted by
path), then the total. A line counts when any character on it lies outside
a comment: `//` line comments and `/* ... */` block comments (scaladoc
included, nesting as in Scala) are skipped, string and character literals
are not mistaken for comment openers. Run from the repository root.
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0          # block-comment nesting depth
    triple = False     # inside a """...""" literal
    for line in text.splitlines():
        i, has_code, quote = 0, False, False
        while i < len(line):
            c, two = line[i], line[i:i + 2]
            if depth:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif triple:
                has_code = True
                if line.startswith('"""', i):
                    triple, i = False, i + 3
                else:
                    i += 1
            elif quote:
                has_code = True
                if c == "\\":
                    i += 2
                else:
                    quote, i = c != '"', i + 1
            elif two == "//":
                break
            elif two == "/*":
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                has_code, triple, i = True, True, i + 3
            elif c == '"':
                has_code, quote, i = True, True, i + 1
            elif c == "'" and (line[i + 1:i + 3].endswith("'") or line[i + 1:i + 2] == "\\"):
                # a character literal: 'x' or an escape such as '\\' / '\u0001'
                has_code = True
                end = line.find("'", i + 3 if line[i + 1:i + 2] == "\\" else i + 2)
                i = len(line) if end < 0 else end + 1
            else:
                has_code = has_code or not c.isspace()
                i += 1
        n += has_code
    return n


def main(argv):
    dirs = argv or ["src/main"]
    total = 0
    for d in dirs:
        paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                       for f in fs if f.endswith(".scala"))
        for p in paths:
            with open(p, encoding="utf-8") as fh:
                k = code_lines(fh.read())
            total += k
            print(f"{k:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
