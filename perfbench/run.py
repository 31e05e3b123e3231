#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <etl_incremental|registry>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. The first run builds the program and the
benchmark harness with sbt (offline) into the checkout; later runs
reuse the build while the sources are unchanged. Everything a run
writes stays under .bench_build/ in the checkout. The last line of
standard output is the JSON result.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_incremental", "registry")
RUN_LIMIT_S = 170  # the benchmark process is killed after this


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [("build.sbt",), ("project",), ("src", "main"),
             ("perfbench", "build.sbt"), ("perfbench", "project"),
             ("perfbench", "src", "main")]
    for parts in roots:
        p = os.path.join(ROOT, *parts)
        if os.path.isfile(p):
            yield p
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".sql", ".java")) \
                        or d.endswith("services"):
                    yield os.path.join(d, f)


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to benchmark: {need} is missing in {ROOT}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    launch = [os.path.join(BUILD, n) for n in ("classpath.txt", "jvm_options.txt")]
    digest = h.hexdigest()
    if os.path.exists(stamp) and all(map(os.path.exists, launch)):
        with open(stamp) as fh:
            if fh.read() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(BUILD, "jvm_options.txt")) as fh:
        opts = [x for x in fh.read().split("\n") if x]

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *opts,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work,
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
           # the embedded sink skips fsync: host-disk stalls are not the
           # program's time, and made whole runs 20 % slower or faster
           "-Dderby.system.durability=test",
           "-XX:+ExitOnOutOfMemoryError",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", work, "--data", os.path.join(BENCH, "data")]
    # Spark would take its local dir from SPARK_LOCAL_DIRS over the
    # benchmark's, and SPARK_GRAFT_* settings change the program's plans
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith("SPARK_GRAFT_")}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log_path}", 1)
    lines = [x for x in out.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark process exited with {p.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"no result line; last output: {lines[-1][:200]}", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1][:200]}", 1)
    for x in lines[:-1]:
        print(x)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
