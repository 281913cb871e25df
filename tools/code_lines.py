#!/usr/bin/env python3
"""Code-line count of the Scala sources, as ROADMAP.md counts them.

Usage: python3 tools/code_lines.py [root]   (default root: src/main/scala)

A code line is a non-blank line whose first non-space characters are not
`//`, `/*` or `*`. Prints one line per directory that holds .scala files
(its own files only, not its subdirectories), then the total.
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main", "scala")
    root = os.path.normpath(root)
    per_dir = {}
    for d, _, files in os.walk(root):
        n = sum(code_lines(os.path.join(d, f)) for f in files if f.endswith(".scala"))
        if n:
            per_dir[os.path.relpath(d, root)] = n
    width = max([len(d) for d in per_dir] + [len("total")])
    for d in sorted(per_dir):
        print(f"{d:<{width}}  {per_dir[d]:>6,}")
    print(f"{'total':<{width}}  {sum(per_dir.values()):>6,}")


if __name__ == "__main__":
    main()
