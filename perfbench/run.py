#!/usr/bin/env python3
"""Run one benchmark workload of the OAI-PMH engine and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark if their sources changed (perfbench/build.py),
starts one benchmark JVM with a fixed heap, local[4] Spark and fixed shuffle
partitions, and relays its result: the last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). Everything the run writes
stays under .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing but .bench_build/ behind
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("point_lookup", "harvest_during_ingest")
HEAP = "2g"
# The benchmark JVM is killed after SETUP_ALLOWANCE_S + 3 x --seconds: room
# for session start, three store builds and the warm-up, then a window that
# the stop rule may stretch past --seconds to reach its sample count.
SETUP_ALLOWANCE_S = 120
# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        engine, bench, digest = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    out = build.OUT
    work = os.path.join(out, f"run-{os.getpid()}")
    log = os.path.join(out, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench, engine, os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--exact-file", os.path.join(out, "exact", digest, f"{a.workload}-seed{a.seed}.txt"),
            "--trace-out", os.path.join(out, "traces", f"{a.workload}-seed{a.seed}.jsonl")]

    print(f"# perfbench loadavg_before {loadavg()}")
    t0 = time.monotonic()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=SETUP_ALLOWANCE_S + 3 * a.seconds)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stdout = None
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(f"# perfbench loadavg_after {loadavg()} jvm_s {time.monotonic() - t0:.1f}")

    lines = (stdout or "").strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        why = "timed out" if stdout is None else f"exit code {proc.returncode}"
        print(f"perfbench: benchmark JVM {why}; log tail of {log}:", file=sys.stderr)
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
