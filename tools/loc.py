#!/usr/bin/env python3
"""Count Scala code lines under src/main/scala/graft, per package.

A code line is a non-blank line that is not a `//` line, not inside a
`/* ... */` block, and not a `*` scaladoc continuation line.

Usage:
  python3 tools/loc.py [ROOT]                 per-package table + total
  python3 tools/loc.py [ROOT] FILE:START-END  code lines of line ranges
                                              (FILE relative to
                                              src/main/scala/graft)

ROOT is a repository checkout (default: the current directory).
"""
import os
import sys


def code_lines(lines):
    """Yields (1-based line number, line) for each code line."""
    in_block = False
    for no, raw in enumerate(lines, 1):
        s = raw.strip()
        if in_block:
            if "*/" in s:
                in_block = False
            continue
        if not s or s.startswith("//") or s.startswith("*"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s[2:]
            continue
        yield no, raw


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def main(argv):
    args = argv[1:]
    root = "."
    if args and ":" not in args[0]:
        root = args.pop(0)
    base = os.path.join(root, "src", "main", "scala", "graft")
    if args:
        total = 0
        for spec in args:
            name, rng = spec.rsplit(":", 1)
            lo, hi = (int(x) for x in rng.split("-"))
            n = sum(1 for no, _ in code_lines(read(os.path.join(base, name)))
                    if lo <= no <= hi)
            print(f"{n:6d}  {spec}")
            total += n
        print(f"{total:6d}  total")
        return
    per_pkg = {}
    for d, _, files in os.walk(base):
        for fn in files:
            if fn.endswith(".scala"):
                pkg = os.path.relpath(d, base).replace(os.sep, ".")
                pkg = "graft" if pkg == "." else "graft." + pkg.split(".")[0]
                n = sum(1 for _ in code_lines(read(os.path.join(d, fn))))
                per_pkg[pkg] = per_pkg.get(pkg, 0) + n
    for pkg in sorted(per_pkg):
        print(f"{per_pkg[pkg]:6d}  {pkg}")
    print(f"{sum(per_pkg.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv)
