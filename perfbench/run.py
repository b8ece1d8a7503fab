#!/usr/bin/env python3
"""Benchmark entry point for the extraction engine.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run in a checkout builds the engine and the harness from source
with sbt (perfbench/build.sbt); later runs reuse the build while no source
file changed. Each run then starts one JVM (perfbench.Main) with a scratch
directory under perfbench/.work that is removed afterwards. The last line
of stdout is the result object.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("crawl_mix", "pdf_heavy", "near_dup")
RUN_LIMIT_S = 170  # a measured run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # the first run of a checkout also builds
JVM_HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, subdirs, names in os.walk(tree):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Builds once per source state; returns True if it compiled."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return False
        log_path = os.path.join(BUILD, "sbt.log")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
        with open(log_path, "w") as log:
            rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           BENCH, env, log, subprocess.DEVNULL, deadline - time.time())
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"build failed (exit {rc}); log in {log_path}")
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return True


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded its time limit")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def jvm_command(main_args, work):
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        classpath = os.pathsep.join(fh.read().split("\n"))
    with open(os.path.join(BUILD, "javaopts.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    # the engine's JVM options, with a heap that fits a shared small host
    return (["java"] + opts + [JVM_HEAP, f"-Djava.io.tmpdir={work}/tmp",
                               "-cp", classpath, "perfbench.Main"] + main_args)


def main():
    started = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="small run of every workload plus the fault cases")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    built = build(started + BUILD_RUN_LIMIT_S - 120)
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started)
    if a.selftest:
        limit = max(limit, 600)

    work = os.path.join(WORK, uuid.uuid4().hex)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if a.selftest:
        main_args = ["--selftest", "--work", work]
    else:
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(work, "stderr.txt")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_child(jvm_command(main_args, work), ROOT, env, out, err, limit)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
        if rc != 0 or (not a.selftest and not (lines and lines[-1].startswith('{"correct"'))):
            # no result on stdout: the JVM's output goes to stderr
            sys.stderr.write("\n".join(lines) + "\n" if lines else "")
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"benchmark JVM exited with {rc}")
        print("\n".join(lines))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
