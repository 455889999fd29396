#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt when the
sources changed since the last build, then runs one benchmark process on
the JVM. Everything the program and Spark print goes to stderr; the last
line of stdout is the one-line JSON result. Exits non-zero, without a
result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
WORKLOADS = ("hgn_cold_hubs", "hgn_warm_tail")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "1g"

# The JDK packages Spark needs opened, shared with build.sbt.
with open(os.path.join(BENCH, "jvm-opens.txt")) as f:
    JDK_OPENS = f.read().split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [PROGRAM_SRC, os.path.join(BENCH, "src", "main"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    digest = source_digest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    out_path = os.path.join(BENCH, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=out, stderr=subprocess.STDOUT)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed with exit code {code}")
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(BUILD_STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")

    cp = classpath()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--result", result,
              "--pins", os.path.join(BENCH, "pins.txt")])
    t0 = time.time()
    try:
        code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr)
        line = None
        if code == 0 and os.path.exists(result):
            with open(result) as f:
                line = f.read().strip()
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        raise SystemExit(f"benchmark process failed with exit code {code}")
    log(f"process wall {time.time() - t0:.1f} s")
    json.loads(line)
    print(line, flush=True)


if __name__ == "__main__":
    main()
