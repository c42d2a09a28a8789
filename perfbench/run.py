"""Benchmark of the reference mpes workflow on the engine.

    python3 perfbench/run.py --workload e1_bin3d|explore \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (see build.py), runs one workload in one JVM on
local[<cores>] for S seconds as a closed loop with one client, checks every
answer, and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything the run writes stays under .bench_build/ in the checkout; the
work directory of a run is removed when it ends. Span traces of traced runs
are kept in .bench_build/traces/.

Self-test options: --scale F shrinks every input, --fault 1 plants a wrong
expected answer in every correctness check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("e1_bin3d", "explore")
TIME_LIMIT_S = 170

# The JVM options build.sbt gives forked mains (javaOptions there).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def heap_size():
    """SPARK_DRIVER_MEM as build.sbt reads it; unset, half the machine's
    memory clamped to 2..8 GiB, as the repository's test gate sets it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def jvm_options(tmp):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   "-Xmx" + heap_size(), "-XX:ReservedCodeCacheSize=512m",
                   "-XX:G1HeapRegionSize=32m", "-Djava.io.tmpdir=" + tmp,
                   # no jstat file in the system temp directory
                   "-XX:-UsePerfData"]


def cores():
    """Half the processors: the other half is left to the benchmark thread,
    the JVM's GC and JIT threads and whatever else shares the machine, so
    Spark's tasks do not wait for a processor and the timings stay steady."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--fault", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2
    t0 = time.monotonic()

    base = os.path.join(root, ".bench_build")
    work = os.path.join(base, "work", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", *jvm_options(tmp),
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--traces", os.path.join(base, "traces"),
           "--scale", str(a.scale), "--fault", str(a.fault), "--cores", str(cores())]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, TIME_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[perfbench] run exceeded %d s" % TIME_LIMIT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print("[perfbench] benchmark JVM exited with %d" % proc.returncode, file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("[perfbench] no result line", file=sys.stderr)
        return 5
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("[perfbench] malformed result line", file=sys.stderr)
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
