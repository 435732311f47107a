"""Turns the harness's per-operation records into the metrics that
BENCHMARK.json names.

Every run is a fresh JVM. Pass 0 is its first, cold pass (for query_mix
it also writes the checked results). The timed figures are medians over
the timed passes: for query_mix the warm passes after the cold one, for
recsys and monitor every pass (a run of theirs is normally the cold pass
alone, as a CLI invocation is). A per-layer metric of a layer the
workload never enters reads 0.
"""
import json
import math
import statistics
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def by_pass(ops):
    out = {}
    for o in ops:
        out.setdefault(o["pass"], []).append(o)
    return out


def timed(res):
    """The timed passes' ops, flattened."""
    return [o for o in res["ops"] if o["pass"] >= res["first_timed_pass"]]


def passes_of(ops):
    return [v for _, v in sorted(by_pass(ops).items())]


def median_of(per_pass):
    return statistics.median(per_pass) if per_pass else 0.0


def op_medians(ops):
    names = {}
    for o in ops:
        names.setdefault(o["name"], []).append(o["wall_s"])
    return {n: statistics.median(v) for n, v in names.items()}


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(res, setup_s):
    ops = timed(res)
    values = {
        "setup_s": setup_s,
        "wall_s": median_of([sum(o["wall_s"] for o in p) for p in passes_of(ops)]),
        "op_geomean_s": geomean(list(op_medians(ops).values())),
    }
    return {m["name"]: (values[m["name"]], m["unit"]) for m in SPEC["end_to_end"]}


def per_layer(workload, res):
    ops = timed(res)
    passes = passes_of(ops)
    med = op_medians(ops)
    v = dict(res.get("probes", {}))

    def pass_sum(select):
        return median_of([sum(o["wall_s"] for o in p if select(o["name"])) for p in passes])

    def layer_sum(key, ps):
        return median_of([sum(o["layers"].get(key, 0.0) for o in p) for p in ps])

    v["trace.wall_s"] = median_of([sum(o["wall_s"] for o in p) for p in passes])
    v["jvm.cpu_s"] = median_of([sum(o["cpu_s"] for o in p) for p in passes])
    if workload == "recsys":
        for n, s in med.items():
            kind, model = n.split(".")
            if kind != "evaluate":
                v[f"cli.{kind}.{model}_s"] = s
        for kind in ("train", "predict", "evaluate"):
            v[f"cli.{kind}_s"] = pass_sum(lambda n, k=kind: n.startswith(k + "."))
    elif workload == "monitor":
        for n, s in med.items():
            v[f"cli.{n}_s"] = s
        trig = [o["layers"] for p in passes for o in p if "streaming.trigger_p50_s" in o["layers"]]
        if trig:
            v["streaming.trigger_p50_s"] = statistics.median(t["streaming.trigger_p50_s"] for t in trig)
            replay = sum(t["streaming.replay_s"] for t in trig)
            v["streaming.events_per_s"] = sum(t["streaming.input_rows"] for t in trig) / max(replay, 1e-9)
            v["streaming.panel_read_s"] = layer_sum("streaming.panel_read_s", passes)
    else:
        for n, s in med.items():
            v[f"queries.{n}_s"] = s
        v["queries.geomean_s"] = geomean(list(med.values()))
    for key in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
                "exec.jobs", "exec.tasks", "exec.task_s", "exec.shuffle_write_mb",
                "exec.spill_mb", "exec.input_mb", "driver.idle_s", "jvm.gc_s",
                "streaming.triggers", "streaming.add_batch_ms", "streaming.query_planning_ms",
                "streaming.wal_commit_ms", "streaming.state_rows"):
        v[key] = layer_sum(key, passes)
    first = [o for o in res["ops"] if o["pass"] == 0]
    v["jvm.first_pass_s"] = sum(o["wall_s"] for o in first)
    for key in ("codegen.classes", "jvm.jit_s"):
        v[key] = sum(o["layers"].get(key, 0.0) for o in first)
    return {m["name"]: (float(v.get(m["name"], 0.0)), m["unit"]) for m in SPEC["per_layer"]}
