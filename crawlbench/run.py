#!/usr/bin/env python3
"""Crawl-engine benchmark entry point.

    python3 crawlbench/run.py --workload crawl_large --seed 1 --seconds 25 --trace 0

Builds the library and the benchmark from source if needed (see build.py),
then runs one JVM that sets up the workload, measures crawls for --seconds and
checks each against ReferenceSim. The JVM's report is relayed to stdout; its
last line is the result JSON. Spark's own logging goes to
.bench_build/logs/. Everything it writes is inside the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# a run must end well inside the three minutes a run is allowed
RUN_TIMEOUT_S = 170
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[crawlbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    logs = os.path.join(build.BUILD, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")

    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "crawlbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{") and '"correct"' in line:
                    result = line
                else:
                    print(line, flush=True)
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"[crawlbench] run failed (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return proc.returncode or 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
