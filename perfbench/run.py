#!/usr/bin/env python3
"""Benchmark entry point.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cone-dense --seed 1 --seconds 15 --trace 0

Builds the benchmark (its own sbt build in this directory, compiling the
engine's sources beside the benchmark program) when the sources changed
since the last build, runs one workload on `local[4]` in a fresh JVM, and prints
as its last line one JSON object with `correct`, `attempted`, `failed`
and `metrics`. The full result, with every op's raw wall and CPU time,
is kept in perfbench/results/; the traced run also writes its spans
there. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this
BUILD_LIMIT_S = 800

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target", "perfbench-build")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group. The group is killed, and waited
    for, at the time limit or when this script is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out


def classpath():
    """Build when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        raise RuntimeError(f"build failed (exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources beside the benchmark; nothing to measure")
        return 2
    try:
        cp = classpath()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 1

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BENCH, "work", tag)
    results = os.path.join(BENCH, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, tag + ".json")
    if os.path.exists(result):
        os.remove(result)

    # a fixed-size heap under the throughput collector: the concurrent
    # collector's background work and heap resizing made per-op CPU time
    # vary between runs
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work, result])
    try:
        code, _ = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                              stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        log(f"benchmark JVM failed (exit {code})")
        return 1
    with open(result) as f:
        r = json.load(f)
    print(json.dumps({"correct": not r["failures"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
