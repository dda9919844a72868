"""fsstspark benchmark entry point.

    python3 perfbench/run.py --workload rewrite --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), then runs
one workload in a fresh JVM (Spark `local[nproc]`). The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans plus a per-layer table
are written under .bench_build/perfbench/traces/. Everything the run
writes stays under .bench_build/ and is removed at exit, except the traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("rewrite", "rewrite_shuffle", "scan", "lookup")
RUN_LIMIT_S = 172          # a normal run must exit within 180 s
FIRST_RUN_LIMIT_S = 880    # a run that had to compile first gets 900 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_heap():
    """SPARK_DRIVER_MEM if set, else half of MemTotal clamped to 2..8 GB
    (the same rule the project's test command uses)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def is_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    t0 = time.monotonic()
    try:
        cp, compiled = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    limit = FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S

    work = os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}")
    traces = os.path.join(build.BUILD_DIR, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-XX:NewRatio=1", f"-Xmx{jvm_heap()}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join(cp)])
    if a.selftest:
        cmd += ["perfbench.SelfTest"]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--traces", traces]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("perfbench: benchmark JVM timed out and was killed\n")
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").rstrip("\n").split("\n")
    if a.selftest:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not is_result(lines[-1]):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.stderr.write(f"perfbench: benchmark JVM exited {proc.returncode} without a result\n")
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
