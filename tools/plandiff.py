#!/usr/bin/env python3
"""Diff two PlanDump directories after masking what varies between runs.

Rule: for every `<gate>_<suffix>.txt` present in either directory (the
suffix is dropped when pairing, so `q01_x_before.txt` pairs with
`q01_x_after.txt`), each line is masked, then the two files are diffed
line by line. Masked, because each is a JVM-global counter, a source
location or a per-run path, not a plan property:
  * expression ids: `col#123` -> `col#N` (type suffixes such as `L` kept);
  * plan ids: `[plan_id=123]` -> `[plan_id=N]`;
  * RDD ids and their call sites: `MapPartitionsRDD[12] at localCheckpoint
    at EventQueries.scala:2576` -> `MapPartitionsRDD[N] at localCheckpoint
    at <site>`;
  * lambda-variable counters: `lambda x_22` -> `lambda x_N`;
  * object hashes and JVM lambda classes: `Foo@1a2b3c4d` -> `Foo@<hash>`,
    `Foo$$$Lambda$6998/0x00007fbdad847710` -> `Foo$$$Lambda$<id>`;
  * temp paths: anything under the temp dir (`/tmp` or `$TMPDIR`, where
    the per-run `graft_wh_*` warehouses live) and any `spark-warehouse`
    dir -> `<tmp>`.

Prints one unified diff per differing gate and a summary line; exits 1
when a gate differs or is missing on one side, else 0.

Usage: python3 tools/plandiff.py <dirA> <dirB> [gate ...]
"""
import difflib
import os
import re
import sys

TMP = re.escape(os.environ.get("TMPDIR", "/tmp").rstrip("/") or "/tmp")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at [\w$.]+\.(?:scala|java):\d+"), " at <site>"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"@[0-9a-f]{4,16}\b"), "@<hash>"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$<id>"),
    (re.compile(r"(?:file:)?(?:(?:/tmp|" + TMP + r")/|[^\s,\[\]()]*spark-warehouse)"
                r"[^\s,\[\]()]*"), "<tmp>"),
]
SUFFIXED = re.compile(r"^(.*)_[^_]+\.txt$")


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def gates(d):
    """gate name -> file path, for one PlanDump directory."""
    out = {}
    for n in sorted(os.listdir(d)):
        m = SUFFIXED.match(n)
        if m:
            out[m.group(1)] = os.path.join(d, n)
    return out


def read(p):
    with open(p, encoding="utf-8") as f:
        return [mask(l.rstrip("\n")) for l in f]


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = gates(sys.argv[1]), gates(sys.argv[2])
    names = sys.argv[3:] or sorted(set(a) | set(b))
    differ = []
    for g in names:
        if g not in a or g not in b:
            print(f"{g}: missing in {sys.argv[1] if g not in a else sys.argv[2]}")
            differ.append(g)
            continue
        diff = list(difflib.unified_diff(read(a[g]), read(b[g]), a[g], b[g], lineterm=""))
        if diff:
            print("\n".join(diff))
            differ.append(g)
    print(f"{len(names) - len(differ)}/{len(names)} gates identical after masking"
          + (f"; differ: {', '.join(differ)}" if differ else ""))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
