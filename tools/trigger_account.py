#!/usr/bin/env python3
"""Per-trigger account of a Spark run, from its event log.

Reads one UNCOMPRESSED Spark event log (run with
spark.eventLog.enabled=true, spark.eventLog.compress=false and a
spark.eventLog.dir): a single file, or a rolling log's eventlog_v2_*
directory. Prints:

  1. every streaming trigger's durationMs phases (latestOffset, walCommit,
     addBatch, commitOffsets, ...), then each phase's sum over all triggers;
  2. the state-store commit time (stateOperators[].commitTimeMs) per
     trigger and in total;
  3. a job timeline: each job's start offset, duration and the driver gap
     since the previous job ended (time no job was running).

Usage:
  python3 tools/trigger_account.py <event-log>

Standard library only.
"""
import argparse
import json
import os
import sys

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def log_files(path):
    """The file itself, or a rolling log directory's (eventlog_v2_*)
    events_<n>_* files in roll order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]) if f.split("_")[1].isdigit() else 0)
    return [os.path.join(path, f) for f in parts]


def read_events(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        for n, line in enumerate(f, 1):
            line = line.strip()
            if not line:
                continue
            try:
                yield json.loads(line)
            except ValueError:
                sys.stderr.write(f"[trigger_account] {path}:{n}: not JSON, skipped\n")


def account(events):
    """(triggers, jobs) from a stream of event-log records."""
    triggers, starts, jobs = [], {}, []
    for e in events:
        kind = e.get("Event")
        if kind == PROGRESS:
            p = e.get("progress") or {}
            ops = p.get("stateOperators") or []
            triggers.append({
                "query": p.get("name") or p.get("id") or "",
                "batch": p.get("batchId"),
                # the logged progress carries input rows per source only
                "rows": sum(int(x.get("numInputRows", 0)) for x in p.get("sources") or []),
                "phases": {k: int(v) for k, v in (p.get("durationMs") or {}).items()},
                "state_commit_ms": sum(int(o.get("commitTimeMs", 0)) for o in ops),
            })
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            starts[e["Job ID"]] = (e.get("Submission Time", 0),
                                   props.get("callSite.short", ""),
                                   props.get("sql.streaming.queryId") is not None)
        elif kind == "SparkListenerJobEnd" and e.get("Job ID") in starts:
            t0, site, streaming = starts.pop(e["Job ID"])
            jobs.append({"job": e["Job ID"], "start": t0, "end": e.get("Completion Time", t0),
                         "site": site, "streaming": streaming,
                         "ok": (e.get("Job Result") or {}).get("Result") == "JobSucceeded"})
    jobs.sort(key=lambda j: (j["start"], j["job"]))
    return triggers, jobs


def timeline(jobs):
    """Each job with its driver gap: the time since the latest end of any
    earlier job (0 when jobs overlap)."""
    out, last_end = [], None
    for j in jobs:
        gap = 0 if last_end is None else max(0, j["start"] - last_end)
        out.append(dict(j, gap=gap, dur=j["end"] - j["start"]))
        last_end = j["end"] if last_end is None else max(last_end, j["end"])
    return out


def phase_sums(triggers):
    sums = {}
    for t in triggers:
        for k, v in t["phases"].items():
            sums[k] = sums.get(k, 0) + v
    return dict(sorted(sums.items(), key=lambda kv: -kv[1]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    a = ap.parse_args()
    files = log_files(a.log)
    if not files:
        sys.exit(f"{a.log}: no events_* files")
    for path in files:
        with open(path, "rb") as f:
            if f.read(1) != b"{":
                sys.exit(f"{path}: not a JSON-lines event log (compressed? "
                         "rerun with spark.eventLog.compress=false)")
    triggers, jobs = account(e for path in files for e in read_events(path))
    tl = timeline(jobs)
    sums = phase_sums(triggers)
    state_ms = sum(t["state_commit_ms"] for t in triggers)
    span = (tl[-1]["end"] - tl[0]["start"]) if tl else 0
    gaps = sum(j["gap"] for j in tl)
    phases = list(sums)
    print(f"# {len(triggers)} triggers")
    print("query\tbatch\trows\tstate_commit\t" + "\t".join(phases))
    for t in triggers:
        print(f"{t['query']}\t{t['batch']}\t{t['rows']}\t{t['state_commit_ms']}\t"
              + "\t".join(str(t["phases"].get(k, "")) for k in phases))
    print("sum\t\t" + str(sum(t["rows"] for t in triggers)) + f"\t{state_ms}\t"
          + "\t".join(str(v) for v in sums.values()))
    print(f"\n# {len(tl)} jobs ({sum(j['streaming'] for j in tl)} inside triggers), "
          f"span {span} ms, driver gaps {gaps} ms")
    print("job\tat_ms\tdur_ms\tgap_ms\tstream\tok\tcall site")
    t0 = tl[0]["start"] if tl else 0
    for j in tl:
        print(f"{j['job']}\t{j['start'] - t0}\t{j['dur']}\t{j['gap']}\t"
              f"{'y' if j['streaming'] else ''}\t{'' if j['ok'] else 'FAILED'}\t{j['site']}")


if __name__ == "__main__":
    main()
