#!/usr/bin/env python3
"""Linkage benchmark entry point.

Run from the root of a checkout of this repository:

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt the first time (the
classpath is then kept under .bench_build/), runs one workload in a fresh JVM,
forwards its `metric` lines and prints the JVM's JSON record as the last line.
Exits non-zero without printing a record when the program's sources are missing,
the build fails, a call fails its checks fatally, or the run exceeds its time.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build")
CLASSPATH_FILE = os.path.join(WORK, "linkbench.classpath")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group and return (exit code, stdout); stderr passes
    through. The whole group is killed on timeout and after exit."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out


def sources():
    for top in (os.path.join(ROOT, "src"), os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH_DIR, "build.sbt")


def build():
    """Compile program + benchmark; cache the runtime classpath until a source changes."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH_FILE) as fh:
                return fh.read().strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export Runtime/fullClasspath"],
        BENCH_DIR, BUILD_TIMEOUT_S, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"program sources not found next to the benchmark: {missing}")

    cp = build()
    run_dir = os.path.join(WORK, "run")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "linkbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", run_dir])
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    record = json.loads(lines[-1])
    if set(record) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed record: {lines[-1]}")
    print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
