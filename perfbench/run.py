"""Runs one benchmark workload and prints its result as the last line of
standard output (see perfbench/README.md).

    python3 perfbench/run.py --workload medallion_incremental --seed 1 \\
        --seconds 18 --trace 0 [--size smoke]

Builds the engine and the benchmark first when their sources changed,
then runs a single JVM on local[nproc]. Everything it writes stays under
perfbench/target/ in the checkout, and the run's scratch directory is
removed when it ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["medallion_incremental", "corpus_curation"]
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2

    work = os.path.join(build.TARGET, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = [build.java()] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size, "--work", work, "--cores", str(cores)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("benchmark exceeded %d s\n" % TIMEOUT_S)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if proc.returncode not in (0, 3) or result is None:
        sys.stderr.write("\n".join(lines) + "\nbenchmark JVM exited with %d\n" % proc.returncode)
        return proc.returncode or 5
    print("\n".join(lines))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
