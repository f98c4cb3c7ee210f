#!/usr/bin/env python3
"""Run one benchmark workload against the market-data engine.

    python3 pipebench/run.py --workload clean|dirty --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt (offline); later runs reuse the build while the
sources are unchanged. The run's scratch directory under .bench_work/
is removed when every check passes and kept otherwise. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"} -- end-to-end
metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads, relative to the repository root."""
    paths = ["build.sbt", "project/build.properties",
             "pipebench/build.sbt", "pipebench/project/build.properties"]
    for top in ("src/main", "pipebench/src/main"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(paths)


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("engine sources not found: run from the repository root")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    cp_file = os.path.join(BUILD_DIR, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export pipebench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "pipebench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    print(f"pipebench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(cp, args, work, limit_s):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(args.cores)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload exceeded {limit_s:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        die(f"workload JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["clean", "dirty"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4, help="local cores (reference runs only)")
    args = ap.parse_args()

    t_start = time.time()
    cp = classpath()
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{args.trace}-{args.cores}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems = ["the run did not finish"]
    try:
        budget = RUN_LIMIT_S - (time.time() - t_start) - 10
        t_jvm = time.time()
        ticks = cpu_ticks()
        raw = run_jvm(cp, args, work, max(budget, 60))
        t_check = time.time()
        after = cpu_ticks()
        if ticks and after:
            # Time the hypervisor gave to other guests: a busy host shows here.
            steal = 100 * (after[0] - ticks[0]) / max(after[1] - ticks[1], 1)
            print(f"pipebench: cpu steal during the run {steal:.1f}%", file=sys.stderr)
        problems, accounting = checks.check(args.workload, raw)
        phases = " ".join(f"{k}={v:.1f}" for k, v in raw["phase_end_s"].items())
        print(f"pipebench: jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s; "
              f"phases end at (s since JVM start) {phases} s", file=sys.stderr)
        t_min = min(b[2] for b in raw["batch_log"])
        print("pipebench: batches (query#id:start-end ms:rows): " + " ".join(
            f"{q}#{i}:{s - t_min}-{e - t_min}:{n}" for q, i, s, e, n in raw["batch_log"]),
            file=sys.stderr)
        print("pipebench: accounting " + " ".join(f"{k}={v}" for k, v in accounting.items()),
              file=sys.stderr)
        for p in problems:
            print(f"pipebench: CHECK FAILED: {p}", file=sys.stderr)
        m = metrics.end_to_end(raw)
        print(f"pipebench: {args.workload} seed={args.seed} trace={args.trace} "
              f"round_trip_ms={raw.get('job_round_trip_ms', 'n/a')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), file=sys.stderr)
        if args.trace:
            print("pipebench-e2e " + json.dumps({k: v["value"] for k, v in m.items()}),
                  file=sys.stderr)
            m = metrics.per_layer(raw)
        print(json.dumps({"correct": not problems,
                          "attempted": int(raw["attempted"]),
                          "failed": int(raw.get("failed", 0)),
                          "metrics": m}))
    finally:
        if problems:
            print(f"pipebench: kept {work} for inspection", file=sys.stderr)
        else:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
