#!/usr/bin/env python3
"""Count non-comment lines and verbatim-duplicated lines in src/main.

Rule:
  * every `src/main/**/*.scala` file is read, `/* ... */` blocks
    (scaladoc included) are removed, then each line is whitespace-stripped;
    blank lines and lines starting with `//` are dropped. What is left are
    the file's non-comment lines.
  * a window is 6 consecutive non-comment lines of one file whose stripped
    text is at least 120 characters in total. A line is duplicated when it
    sits in at least one window whose text occurs more than once anywhere
    in src/main (in the same file or another).

Prints the two totals, a per-directory table (both totals for each
package directory under src/main) and a per-file table (files with
duplicated lines, most duplicated first).

Usage: python3 tools/loc.py [repo_root]
"""
import collections
import os
import re
import sys

WINDOW = 6
MIN_CHARS = 120
BLOCK = re.compile(r"/\*.*?\*/", re.S)


def code_lines(text):
    """Non-comment, non-blank stripped lines of one Scala source."""
    # keep the newlines a block spanned so nothing else shifts
    text = BLOCK.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    out = []
    for raw in text.split("\n"):
        s = raw.strip()
        if s and not s.startswith("//"):
            out.append(s)
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    files = {}
    for d, _, names in os.walk(src):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                with open(p, encoding="utf-8") as f:
                    files[os.path.relpath(p, root)] = code_lines(f.read())

    def windows(lines):
        for i in range(len(lines) - WINDOW + 1):
            w = lines[i:i + WINDOW]
            if sum(len(s) for s in w) >= MIN_CHARS:
                yield i, "\n".join(w)

    seen = collections.Counter(
        w for lines in files.values() for _, w in windows(lines))
    total = dup_total = 0
    per_file = []
    for name, lines in sorted(files.items()):
        dup = set()
        for i, w in windows(lines):
            if seen[w] > 1:
                dup.update(range(i, i + WINDOW))
        total += len(lines)
        dup_total += len(dup)
        per_file.append((len(dup), len(lines), name))

    print(f"non-comment lines: {total}")
    print(f"duplicated lines:  {dup_total}")
    print()
    per_dir = collections.defaultdict(lambda: [0, 0])
    for dup, n, name in per_file:
        d = per_dir[os.path.dirname(name)]
        d[0] += dup
        d[1] += n
    print(f"{'duplicated':>10}  {'lines':>6}  directory")
    for name, (dup, n) in sorted(per_dir.items()):
        print(f"{dup:>10}  {n:>6}  {name}")
    print()
    print(f"{'duplicated':>10}  {'lines':>6}  file")
    for dup, n, name in sorted(per_file, key=lambda r: (-r[0], r[2])):
        if dup:
            print(f"{dup:>10}  {n:>6}  {name}")


if __name__ == "__main__":
    main()
