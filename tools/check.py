#!/usr/bin/env python3
"""Local imitation of the driver's correctness gate (dev tool only; the
shipped library is Scala — this script just closes the feedback loop).

Runs graft.Verify via sbt at a given SF dir, then for each dumped query
result runs the corresponding oracle SQL in DuckDB over the same parquet
tables and strictly compares (row count, column names, values after sorting
rows and columns) at %.12g float precision, and audits the oracle's arrow
dtypes for driver-canon hazards.

Float canon is %.12g, not full round-trip %.17g, deliberately: q13_pearson
carries a last-ulp Spark-vs-DuckDB diff (…146 vs …159 at the 17th
significant digit) and is GREEN on the driver across r4/r5 — so a 17g canon
would red a driver-green gate. 12g is strictly tighter than the old 10g
while staying inside the driver's proven tolerance.

Round-5 lesson: strict fetchall() value equality does NOT imply the
driver's hash matches. DuckDB types bare SUM(bigint) as HUGEINT; Python's
fetchall() silently converts it to int (equal here), but the driver's
arrow/pandas fetch renders decimal128 differently from Spark's int64 —
25 value-identical gates hash-failed on exactly that feature. compare()
therefore fails any gate whose oracle output carries a decimal/int128/uint
column or a spark-vs-oracle type-class mismatch (see tools/canon_audit.py).

Usage: python3 tools/check.py [sfdir] [--no-run] [query ...]
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

import canon_audit

REPO = Path(__file__).resolve().parent.parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify(sfdir: str, outdir: str, only=()) -> None:
    names = " ".join(only)
    # Subset reruns make Verify overwrite _errors.json with ONLY the
    # subset's errors — a non-subset gate that previously threw but left
    # a stale dump would then compare against that stale dump and print
    # OK (the silent-miss shape this file exists to close). Merge: keep
    # prior errors for gates outside the subset, let the fresh run decide
    # for gates inside it.
    err_path = Path(outdir) / "_errors.json"
    prior_errs = {}
    if only and err_path.exists():
        prior_errs = json.loads(err_path.read_text())
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir} {names}'.strip()]
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    try:
        # Merge on BOTH paths: a Verify that dies after partially
        # rewriting _errors.json must not lose prior errors for gates
        # outside the subset (the stale-compare hazard persists on the
        # failure path otherwise).
        if only:
            fresh = json.loads(err_path.read_text()) if err_path.exists() else {}
            # same expansion rule as Verify: a bare id covers its "id_*"
            # gate, so the fresh run's verdict replaces the prior error
            covered = lambda n: any(n == a or n.startswith(a + "_")
                                    for a in only)
            merged = {k: v for k, v in prior_errs.items() if not covered(k)}
            merged.update(fresh)
            err_path.write_text(json.dumps(merged))
    finally:
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(f"Verify failed rc={r.returncode}")


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, list):
        return "[" + ",".join(str(canon(x)) for x in v) + "]"
    return str(v)


def compare(name: str, outdir: Path, sql: str, con) -> str:
    got = con.execute(
        f"SELECT * FROM parquet_scan('{outdir}/{name}/*.parquet')").fetchall()
    gcols = [d[0] for d in con.description]
    try:
        exp = con.execute(sql).fetchall()
    except Exception as e:
        return f"ORACLE-ERROR: {e}"
    ecols = [d[0] for d in con.description]
    if sorted(gcols) != sorted(ecols):
        return f"SCHEMA: got {sorted(gcols)} want {sorted(ecols)}"
    if len(got) != len(exp):
        return f"ROWS: got {len(got)} want {len(exp)}"
    gperm = [gcols.index(c) for c in sorted(gcols)]
    eperm = [ecols.index(c) for c in sorted(ecols)]
    gs = sorted(tuple(canon(r[i]) for i in gperm) for r in got)
    es = sorted(tuple(canon(r[i]) for i in eperm) for r in exp)
    if gs != es:
        bad = next((a, b) for a, b in zip(gs, es) if a != b)
        return f"VALUES: first diff got={bad[0]} want={bad[1]}"
    # value-equality established — now the driver-canon hazard audit
    fails, _warns = canon_audit.audit_gate(name, outdir, sql, con)
    if fails:
        return "CANON: " + "; ".join(fails)
    return "OK"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    outdir = Path("/tmp/graft_verify")
    if "--no-run" not in sys.argv:
        if only:  # subset rerun: keep other dumps, refresh only these
            run_verify(sfdir, str(outdir), only)
        else:
            run_verify(sfdir, str(outdir))
    oracle = json.loads((outdir / "oracle_sql.json").read_text())
    # a gate that THREW inside Verify leaves no (or a stale) dump and
    # would otherwise silently vanish from the compare loop — surface
    # both failure shapes as hard errors
    errs = json.loads((outdir / "_errors.json").read_text()) \
        if (outdir / "_errors.json").exists() else {}
    con = duckdb.connect()
    for t in TABLES:
        # driver SF dirs hold single files; generated ones (ScaleUp)
        # hold <table>.parquet/ directories of part files
        p = Path(sfdir) / f"{t}.parquet"
        pat = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{pat}')")
    dumped = sorted(p.name for p in outdir.iterdir() if p.is_dir())
    # expand bare ids ("q338" -> "q338_served_ivf_pinned_read") and fail
    # LOUDLY on a filter matching nothing: a zero-gate subset run exits 0,
    # which reads as "the gate passed" (Verify applies the same rule, so
    # the dump for an expanded name exists by the time we get here)
    if only:
        universe = set(oracle) | set(dumped)
        expanded = set()
        for a in only:
            hits = {n for n in universe if n == a or n.startswith(a + "_")}
            if not hits:
                sys.exit(f"filter '{a}' matches no gate (exact or '{a}_*')")
            expanded |= hits
        only = expanded
    fails = 0
    for name in sorted(set(oracle) - set(dumped)):
        if only and name not in only:
            continue
        print(f"{name:28s} MISSING-DUMP (verify never wrote it)")
        fails += 1
    for name in dumped:
        if only and name not in only:
            continue
        if name in errs:
            print(f"{name:28s} VERIFY-ERROR: {errs[name][:160]}")
            fails += 1
            continue
        res = compare(name, outdir, oracle[name], con) if name in oracle else "NO-ORACLE"
        print(f"{name:28s} {res}")
        if res != "OK":
            fails += 1
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
