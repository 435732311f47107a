#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload recsys|query_mix|monitor \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
program and the harness with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run
generates its inputs from the seed, starts one harness JVM that times
whole passes for at least `--seconds`, checks every output against
DuckDB, and prints the result as the last stdout line.
Spark's logs and the harness's own output go to files under
`.bench_build/perfbench/`; a failing run prints their tail to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

STATE = ROOT / ".bench_build" / "perfbench"
WORK = STATE / "work"
CPUS = min(2, os.cpu_count() or 1)
HEAP = "2g"

# Input scale factor per workload (sf 0.01 = 60k lineitems). See README.md.
SCALE = {"recsys": 0.005, "query_mix": 0.002, "monitor": 0.01}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, log=None):
    sys.stderr.write(f"[perfbench] {msg}\n")
    if log is not None and Path(log).exists():
        sys.stderr.write(Path(log).read_text(errors="replace")[-4000:] + "\n")
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and harness once per source state; return the classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    STATE.mkdir(parents=True, exist_ok=True)
    stamp, cp_file, stamp_file = source_stamp(), STATE / "classpath.txt", STATE / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repo_cfg.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = STATE / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=850)
    lines = [l.strip() for l in log.read_text(errors="replace").splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"sbt build failed (rc={r.returncode})", log)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def jvm_cmd(cp, tmp):
    java = shutil.which("java") or fail("java not found on PATH")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.ui.showConsoleProgress=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-cp", cp, "graft.perfbench.Main"]


def run_jvm(cmd, args, tmp, log):
    """Run the harness; return (launch epoch ms, its result JSON)."""
    out = WORK / "result.json"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=str(tmp))
    argv = cmd + [x for k, v in args.items() for x in (f"--{k}", str(v))] + ["--out", str(out)]
    launch = time.time() * 1000.0
    with open(log, "w") as lf:
        try:
            r = subprocess.run(argv, stdout=lf, stderr=subprocess.STDOUT, env=env, timeout=150)
        except subprocess.TimeoutExpired:
            fail("harness JVM timed out", log)
    if r.returncode != 0 or not out.exists():
        fail(f"harness JVM failed (rc={r.returncode})", log)
    return launch, json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    if WORK.exists():
        shutil.rmtree(WORK)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    t0 = time.time()
    datagen.write(str(WORK / "data"), SCALE[a.workload], a.seed)
    t1 = time.time()
    args = {"workload": a.workload, "data": WORK / "data", "work": WORK / "run",
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "gates": HERE / "gates.txt"}
    log = STATE / "jvm.log"
    launch, res = run_jvm(jvm_cmd(cp, tmp), args, tmp, log)
    setup_s = (res["ready_ms"] - launch) / 1000.0
    t2 = time.time()
    failures = checks.check(a.workload, res, WORK)
    sys.stderr.write(f"[perfbench] inputs {t1 - t0:.1f} s, harness JVM {t2 - t1:.1f} s, "
                     f"checks {time.time() - t2:.1f} s\n")
    ops = res["ops"]
    failed_ops = {(o["pass"], o["name"]) for o in ops if not o["ok"]} | set(failures)
    for o in ops:
        if not o["ok"]:
            sys.stderr.write(f"[perfbench] {o['name']} (pass {o['pass']}) threw: {o['err'][:300]}\n")
    for (p, name), why in sorted(failures.items()):
        sys.stderr.write(f"[perfbench] {name} (pass {p}) check failed: {why[:300]}\n")
    first = {o["name"]: o["wall_s"] for o in ops if o["pass"] == 0}
    for name, s in sorted(metrics.op_medians(ops).items()):
        sys.stderr.write(f"[perfbench] {name:40s} first pass {first[name]:8.3f} s, "
                         f"all passes {s:8.3f} s (median)\n")
    sys.stderr.write(f"[perfbench] {a.workload}: {len(ops)} operations attempted, "
                     f"{len(failed_ops)} failed, {res['passes']} passes\n")
    if a.trace:
        values = metrics.per_layer(a.workload, res)
    else:
        values = metrics.end_to_end(res, setup_s)
    result = {"correct": not failures, "attempted": len(ops), "failed": len(failed_ops),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
