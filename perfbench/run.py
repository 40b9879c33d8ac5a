#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload tier_store|queries \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source into .bench_build/ (see build.py). The last line of
standard output is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The line before it is the full
report; a copy of it, and the spans of a traced run, go to
.bench_build/runs/. Spark's log goes to .bench_build/logs/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

import build

# a run must end within this many seconds, build included
LIMIT_S = 175
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["tier_store", "queries"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--fault", choices=["none", "drop-1m-day"], default="none",
                   help="damage the output on purpose, to show a check fails")
    a = p.parse_args()

    started = time.monotonic()
    try:
        classes = build.ensure_built()
        jars = os.path.join(build.spark_jars(), "*")
        java = build.java()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    # every temporary file of the run goes to its own directory, removed
    # when the run ends; -XX:-UsePerfData keeps the JVM's perf file out of /tmp
    tmp = os.path.join(build.BUILD, "tmp", str(os.getpid()))
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--build-dir", build.BUILD, "--catalog", os.path.join(build.HERE, "data", "sf0.01"),
            "--scale", a.scale, "--fault", a.fault]
    # Spark prefers these to spark.local.dir; dropped so that its scratch
    # stays in the run's directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    log_path = os.path.join(logs, "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=build.ROOT, env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(10, LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: run exceeded %d s; log: %s" % (LIMIT_S, log_path), file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        print("perfbench: run failed (exit %d); log: %s" % (proc.returncode, log_path), file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
