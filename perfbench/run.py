#!/usr/bin/env python3
"""Lake benchmark: runs one workload against the program built from source.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt, which includes the repository's own build); later
runs reuse the build until a source file changes. Each run starts a fresh
JVM in a fresh work directory, so every run starts from the same state.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. The line before it carries the detail:
set-up parts, per-operation counts, the workload's own named metrics,
contention context and, for a traced run, the tracing overhead against
the last untraced run of the same workload. Full results and the span
file of traced runs are kept under .bench_runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH_FILE = HERE / "target" / "lakebench-classpath.txt"
RUNS = ROOT / ".bench_runs"
WORK = ROOT / ".bench_work"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
# a fixed heap, and no perf-data file under the system temp dir
JVM = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]

# Spark on JDK 17 outside spark-submit needs these (as in the program's
# own build.sbt).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, limit_s, **kw):
    """Runs cmd in its own process group and returns (returncode, stdout).
    Kills the whole group, and waits for it, if it outlives limit_s or if
    this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True,
                            stdout=subprocess.PIPE, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop)
                for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {limit_s:.0f} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def newest_source_mtime():
    roots = [HERE / "src", HERE / "build.sbt", ROOT / "src" / "main",
             ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    newest = 0.0
    for r in roots:
        paths = [r] if r.is_file() else r.rglob("*") if r.is_dir() else []
        for p in paths:
            newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    """Builds program and harness; returns the harness's runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src").is_dir():
        fail(f"no program source to build next to {HERE.name}/")
    if (CLASSPATH_FILE.is_file()
            and CLASSPATH_FILE.stat().st_mtime > newest_source_mtime()):
        return CLASSPATH_FILE.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    lines = out.splitlines()
    if code != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (sbt exit {code})")
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if not cp:
        fail("build printed no classpath")
    CLASSPATH_FILE.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(cp[-1].strip())
    return cp[-1].strip()


def declared():
    """(end-to-end, per-layer) metrics of BENCHMARK.json: name -> unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]},
            [w["name"] for w in spec["workloads"]])


def tracing_overhead(workload, seed, traced_e2e):
    """Traced minus untraced end-to-end metrics, against the untraced run
    of the same workload and seed, else the latest untraced run."""
    same = RUNS / f"{workload}-seed{seed}-trace0.json"
    candidates = [same] if same.is_file() else sorted(
        RUNS.glob(f"{workload}-seed*-trace0.json"),
        key=lambda p: p.stat().st_mtime)
    if not candidates:
        return {"untraced_run": None}
    base = json.loads(candidates[-1].read_text())
    return {
        "untraced_run": candidates[-1].name,
        "delta": {k: v - base["e2e"][k] for k, v in traced_e2e.items()
                  if k in base["e2e"]},
        "relative": {k: (v - base["e2e"][k]) / base["e2e"][k]
                     for k, v in traced_e2e.items()
                     if base["e2e"].get(k)},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    cp = build()
    e2e_units, layer_units, workloads = declared()
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {workloads}")

    shutil.rmtree(WORK, ignore_errors=True)
    # write back what earlier runs left dirty, so it does not land in
    # this run's timed loop
    os.sync()
    work = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    (work / "tmp").mkdir(parents=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = RUNS / name
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    try:
        with open(out_dir / "stderr.log", "w") as err:
            code, out = run_group(
                ["java", *JVM, *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
                 "-cp", cp, "lakebench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", str(work), "--out", str(out_dir),
                 "--sql", str(HERE / "sql")],
                max(10, RUN_LIMIT_S - (time.monotonic() - started)),
                cwd=work, stderr=err)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    tagged = [ln for ln in out.splitlines() if ln.startswith("LAKEBENCH_RESULT ")]
    if code != 0 or not tagged:
        log = (out_dir / "stderr.log").read_text().splitlines()
        print("\n".join(log[-30:]), file=sys.stderr)
        fail(f"harness exited {code} without a result")
    res = json.loads(tagged[-1].split(" ", 1)[1])

    values = res["layer"] if args.trace else res["e2e"]
    units = layer_units if args.trace else e2e_units
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"harness did not report {missing}")
    if args.trace:
        res["tracing_overhead"] = tracing_overhead(
            args.workload, args.seed, res["e2e"])
    (RUNS / f"{name}.json").write_text(json.dumps(res, indent=1))

    detail = {k: res[k] for k in ("setup", "ops", "kind_p50_s", "named",
                                  "contention", "mismatches")}
    detail["end_to_end"] = res["e2e"]
    if args.trace:
        detail["self_s"] = {k: v for k, v in res["layer"].items()
                            if k.endswith(".self_s")}
        detail["layer_by_table_s"] = res["layer_by_table_s"]
        detail["tracing_overhead"] = res["tracing_overhead"]
        detail["spans"] = str((out_dir / "spans.jsonl").relative_to(ROOT))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
