#!/usr/bin/env python3
"""Count non-blank, non-comment Scala source lines per file.

    python3 tools/sloc.py [DIR ...]                 # default: src/main
    python3 tools/sloc.py --against REV [DIR ...]   # deltas against a git revision

Prints one `<lines>  <path>` row per .scala file under each DIR (sorted by
path), then the total. With `--against REV`, compares the working tree with
git revision REV instead: one `<delta>  <before> -> <after>  <path>` row per
file whose count differs (a file missing on one side counts 0 there), then
the total in the same form. A line counts when any character on it lies
outside a comment: `//` line comments and `/* ... */` block comments
(scaladoc included, nesting as in Scala) are skipped, string and character
literals are not mistaken for comment openers. Run from the repository root.
"""
import os
import subprocess
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


def tree_counts(dirs):
    """{path: lines} for the .scala files under `dirs` in the working tree."""
    out = {}
    for d in dirs:
        for r, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".scala"):
                    p = os.path.join(r, f)
                    with open(p, encoding="utf-8") as fh:
                        out[os.path.normpath(p)] = code_lines(fh.read())
    return out


def rev_counts(rev, dirs):
    """{path: lines} for the .scala files under `dirs` at git revision `rev`."""
    def git(*args):
        return subprocess.run(["git", *args], check=True, capture_output=True).stdout
    names = git("ls-tree", "-r", "--name-only", rev, "--", *dirs).decode().splitlines()
    return {os.path.normpath(p): code_lines(git("show", f"{rev}:{p}").decode("utf-8"))
            for p in names if p.endswith(".scala")}


def main(argv):
    against = None
    if argv[:1] == ["--against"]:
        if len(argv) < 2:
            sys.exit("usage: sloc.py --against REV [DIR ...]")
        against, argv = argv[1], argv[2:]
    dirs = argv or ["src/main"]
    now = tree_counts(dirs)
    if against is None:
        for p in sorted(now):
            print(f"{now[p]:7d}  {p}")
        print(f"{sum(now.values()):7d}  total")
        return
    then = rev_counts(against, dirs)
    for p in sorted(set(now) | set(then)):
        a, b = then.get(p, 0), now.get(p, 0)
        if a != b:
            print(f"{b - a:+7d}  {a:6d} -> {b:6d}  {p}")
    a, b = sum(then.values()), sum(now.values())
    print(f"{b - a:+7d}  {a:6d} -> {b:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
