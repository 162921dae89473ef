#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout of the engine.  The first run compiles the
engine and the benchmark (perfbench/build.py); every run then starts one
JVM that runs the workload in local Spark with one core slot per CPU and
prints the result JSON.  All files written (classes, indexes, Spark
scratch, span dumps) stay under .bench_build/ in the checkout.  See
perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

WORKLOADS = ("serve", "dedup")
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions); the Vector API module
# lets the engine's SIMD MaxSim kernel load instead of its scalar fallback.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classpath: str, work: Path, main: str, args) -> list:
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-Xss8m", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={work / 'tmp'}", "--add-modules=jdk.incubator.vector"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main] + [str(a) for a in args]


def run_jvm(cmd: list) -> int:
    """Run the JVM in its own process group, stream its stdout, and kill
    the whole group if it outlives the time limit."""
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 1
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala").is_dir():
        print(f"perfbench: no engine sources under {ROOT}/src/main/scala; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    import build
    classpath = build.build(test=a.self_test)
    work = ROOT / ".bench_build" / f"work-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        if a.self_test:
            return run_jvm(jvm_command(classpath, work, "perfbench.SelfTest", []))
        return run_jvm(jvm_command(classpath, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--cores", cpu_count(), "--work", work,
            "--out", ROOT / ".bench_build" / "traces"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
