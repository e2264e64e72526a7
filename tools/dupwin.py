#!/usr/bin/env python3
"""Count duplicated lines in Scala sources.

A window is 5 consecutive lines, each stripped of surrounding whitespace.
A window counts when at least 4 of its lines are code lines longer than
12 characters. A comment line (starting with //, /* or *) and a `package`
or `import` header line are not code: the shared headers of a package's
files are not copies. A line
is duplicated when it lies in a counted window whose text occurs more than
once anywhere under the root. Prints the total, then one line per file
with duplicated lines, most first.

    python3 tools/dupwin.py src/main
"""
import collections
import os
import sys

WINDOW = 5
MIN_CODE = 4
MIN_LEN = 12


def is_code(line):
    return len(line) > MIN_LEN and not line.startswith(("//", "/*", "*", "package ", "import "))


def scan(root):
    occurrences = collections.defaultdict(list)
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                lines = [l.strip() for l in fh]
            for i in range(len(lines) - WINDOW + 1):
                win = tuple(lines[i:i + WINDOW])
                if sum(map(is_code, win)) >= MIN_CODE:
                    occurrences[win].append((path, i))
    dup = collections.defaultdict(set)
    for locs in occurrences.values():
        if len(locs) > 1:
            for path, i in locs:
                dup[path].update(range(i, i + WINDOW))
    return dup


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: dupwin.py ROOT")
    root = sys.argv[1]
    dup = scan(root)
    print(f"total {sum(len(s) for s in dup.values())}")
    for path, s in sorted(dup.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        print(f"{len(s):6d} {os.path.relpath(path, root)}")


if __name__ == "__main__":
    main()
