#!/usr/bin/env python3
"""Benchmark of the graft engine: latency per operation in a warm session.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_short --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark from the
checkout's sources with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run makes its inputs from the seed,
measures in one JVM and prints the result JSON as the last stdout line.
See perfbench/README.md for the workloads and metrics.

`--record` rewrites perfbench/expected.json from the current engine: use
it only after an intended change to query results, and say so.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("query_short", "refresh")
JVM_TIMEOUT_S = 170
# --record calls each of about 230 queries twice: minutes, not one run's budget.
RECORD_TIMEOUT_S = 3600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def build():
    """Compile with sbt unless the sources match the last build; return the
    run classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1]


def java(cp, run_dir, main, args, out, timeout=JVM_TIMEOUT_S):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, main] + args
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Spark prefers these variables to spark.local.dir; unset, its shuffle
    # and block files stay in the run directory.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=out)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print(f"perfbench: {main} killed after {timeout} s", file=sys.stderr)
        return -9


def cores():
    return len(os.sched_getaffinity(0))


def run(args, cp, run_dir):
    data = DATA
    if args.workload == "refresh":
        data = os.path.join(run_dir, "base")
        shutil.copytree(DATA, data)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(cores()),
             "--plan", os.path.join(HERE, "workloads.json"),
             "--expected", os.path.join(HERE, "expected.json"),
             "--data", data,
             "--work", os.path.join(run_dir, "work"),
             "--out", os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")]
    with tempfile.TemporaryFile("w+", dir=run_dir) as out:
        code = java(cp, run_dir, "perfbench.Main", jargs, out)
        out.seek(0)
        lines = out.read().splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0 if result["correct"] else 1


def record(cp, run_dir):
    with open(os.path.join(HERE, "workloads.json")) as fh:
        w = json.load(fh)
    queries = sorted(set(w["pool"]) | set(w["query_short"]["queries"])
                     | set(w["query_short"]["twins"]) | set(w["refresh"]["consumers"].values()))
    out = os.path.join(run_dir, "record.json")
    if java(cp, run_dir, "perfbench.Record",
            [str(cores()), DATA, os.path.join(run_dir, "work"), out] + queries,
            sys.stderr, RECORD_TIMEOUT_S) != 0:
        return 1
    with open(out) as fh:
        got = json.load(fh)
    for q, why in sorted(got["failed"].items()):
        print(f"{q}: {why}")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"digests": got["digests"], "cleaned": got["cleaned"]}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if got["failed"] else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not args.record and args.workload is None:
        fail("--workload is required")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()
    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".run"))
    try:
        return record(cp, run_dir) if args.record else run(args, cp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
