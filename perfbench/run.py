#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program from the repository's sources together with the harness in
perfbench/src (sbt, offline); later runs start the JVM directly from the
recorded classpath. The JVM gets the heap and flags the repository's own
build gives its tests, a local Spark session as wide as the host, and a
work directory under perfbench/ that is removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JAVA_OPTIONS = os.path.join(TARGET, "java-options.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def driver_mem():
    """Half the host's memory, clamped to 2..8 GiB, as the tier-1 suite
    sizes its test JVMs."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def newest_source_mtime():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    return max(os.path.getmtime(f) for f in files if os.path.exists(f))


def build():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    env["SPARK_DRIVER_MEM"] = driver_mem()
    log("building the program and the harness with sbt")
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        log("build timed out")
        return False
    log(f"build finished with code {rc} in {time.time() - t0:.0f}s")
    return rc == 0 and os.path.exists(CLASSPATH) and os.path.exists(JAVA_OPTIONS)


def stop(proc):
    """Kill the process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the program's sources (src/main/scala/graft) are not in this checkout")
        return 2
    if not os.path.exists(CLASSPATH) or os.path.getmtime(CLASSPATH) < newest_source_mtime():
        if not build():
            return 3
        started = time.time()
    with open(CLASSPATH) as f:
        classpath = ":".join(l.strip() for l in f if l.strip())
    with open(JAVA_OPTIONS) as f:
        java_options = [l.strip() for l in f if l.strip()]

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's temporary files stay in the work directory; -UsePerfData
    # keeps it from writing an hsperfdata file to the system temp directory
    cmd = (["java"] + java_options + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        stop(proc)
        log("the run timed out")
        return 4
    finally:
        if proc.poll() is None:
            stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"the benchmark JVM exited with code {proc.returncode}")
        return 5
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        log(f"the last output line is not a result: {lines[-1][:200]}")
        return 6
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
