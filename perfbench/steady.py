#!/usr/bin/env python3
"""Steadiness check: run one workload N times with N different seeds and
print, per metric, the median, the quartiles and the quartile spread as a
share of the median (the figure each end-to-end bound in BENCHMARK.json
must stay well above).

    python3 perfbench/steady.py --workload recsys [--runs 10] [--first-seed 1]
        [--trace 0|1] [--json out.json]

Run from the root of the checkout; each run is `perfbench/run.py`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        took = time.time() - t0
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {r.returncode}\n{r.stderr[-3000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"], res["run_s"] = seed, took
        runs.append(res)
        print(f"seed {seed}: {took:6.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", file=sys.stderr)
    rows = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        rows[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1,
                      "q3": q3, "spread": (q3 - q1) / med if med else float("nan"),
                      "bound": bounds.get(name)}
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if rows[name]["spread"] < b / 3 else "  WIDE")
        print(f"{name:36s} {med:12.4f} {rows[name]['unit']:8s} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {rows[name]['spread']:7.4f}{'' if b is None else f' bound {b}'}{flag}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share per run: {sorted(shares)}; all correct: {all(r['correct'] for r in runs)}; "
          f"run wall median {statistics.median(r['run_s'] for r in runs):.1f} s")
    if a.json:
        Path(a.json).write_text(json.dumps({"workload": a.workload, "runs": runs,
                                            "summary": rows}, indent=1))


if __name__ == "__main__":
    main()
