#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
runs the workload in one JVM session, checks its outputs, and prints as its
last stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics untraced, the per-layer metrics traced.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# workload -> seconds a run may take beyond --seconds before it is killed
WORKLOADS = {"ingest_stream": 150, "sql_serve": 150, "dedup_batch": 900}
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Files whose content decides the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources next to {HERE} (need ../build.sbt and ../src/main/scala/graft)")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved["fingerprint"] == h.hexdigest() and \
                all(os.path.exists(p) for p in saved["classpath"].split(os.pathsep)):
            return saved["classpath"], saved["fingerprint"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=840, check=False)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": h.hexdigest(), "classpath": cp}, fh)
    return cp, h.hexdigest()


def host():
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # the Spark driver heap: half of MemTotal, clamped to 2..8 GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return mem_kb, heap_g


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def run_jvm(cp, args, heap_g, work, data):
    out_file = os.path.join(work, "result.json")
    jvm_work = os.path.join(work, "jvm")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.exists(out_file):
        os.remove(out_file)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{heap_g}g", *opens, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", jvm_work, "--data", data, "--expected", os.path.join(HERE, "expected"),
           "--out", out_file]
    launch_ms = time.time() * 1000.0
    steal0, total0 = cpu_ticks()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=args.seconds + WORKLOADS[args.workload])
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the benchmark JVM timed out; see {os.path.join(work, 'jvm.log')}")
    if code != 0 or not os.path.isfile(out_file):
        fail(f"the benchmark JVM exited with {code}; see {os.path.join(work, 'jvm.log')}")
    steal1, total1 = cpu_ticks()
    with open(out_file) as fh:
        res = json.load(fh)
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # slow run on a busy host shows here, not in the engine's counters
    res["host_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    return res, launch_ms


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, fingerprint = build()
    mem_kb, heap_g = host()
    work = os.path.join(WORK, args.workload)
    os.makedirs(work, exist_ok=True)
    # generated input tables are reused by every run of the same build
    data = os.path.join(WORK, f"data-{fingerprint[:12]}")
    for old in os.listdir(WORK):
        if old.startswith("data-") and os.path.join(WORK, old) != data:
            shutil.rmtree(os.path.join(WORK, old))
    res, launch_ms = run_jvm(cp, args, heap_g, work, data)

    summarize = benchlib.stream_metrics if res["kind"] == "stream" else benchlib.batch_metrics
    e2e, attempted, failed, errors, detail = summarize(res, launch_ms)
    provenance = dict(res["provenance"], mem_total_kb=mem_kb, heap_flag=f"-Xmx{heap_g}g",
                      git_commit=git_commit(), seed=args.seed, traced=bool(args.trace),
                      workload=args.workload, seconds=args.seconds,
                      live_rows_per_s=res.get("live_rows_per_s"))
    last_untraced = os.path.join(WORK, f"{args.workload}-untraced.json")
    detail.update(provenance=provenance, errors=errors, host_steal_frac=res["host_steal_frac"],
                  error_frac=failed / attempted if attempted else None,
                  end_to_end=e2e)
    if args.trace:
        layers = res.get("layers") or {}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, (u, _) in benchlib.PER_LAYER.items()}
        detail["spans_file"] = os.path.join(work, "jvm", "trace.json")
        if os.path.isfile(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)
            detail["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, (u, _) in benchlib.END_TO_END.items() if k in e2e}
        with open(last_untraced, "w") as fh:
            json.dump(e2e, fh)
    correct = failed == 0 and not errors
    print(json.dumps({"detail": detail}, default=str))
    for e in errors:
        print(f"perfbench: {e}")
    if not args.trace and len(metrics) != len(benchlib.END_TO_END):
        fail("not every end-to-end metric could be measured: " + "; ".join(errors))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
