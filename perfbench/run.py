#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark into .bench_build/ (see build.py). The run itself is one JVM
(perfbench.Main) on Spark local[<nproc>] with a fixed heap; it works in
.bench_run/<workload>-<pid>/, which is deleted when the run ends. With
--trace 1 the span dump is kept in .bench_out/.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and the metrics.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("mr_text", "lake_lifecycle", "lake_read")
HEAP = "2g"          # fixed -Xms = -Xmx for every run (README: run hygiene)
DEADLINE_S = 175     # a run must end within 180 s of its start
BUILD_DEADLINE_S = 880
JVM_FLAGS = [
    "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main():
    t0 = time.monotonic()
    # a terminated run still kills and reaps its JVM (subprocess.run does so
    # on any exception)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    root = os.getcwd()
    try:
        cp = build.ensure_built(root)
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    built = time.monotonic()
    # a run that had to build gets the build's budget, otherwise 180 s
    limit = (BUILD_DEADLINE_S if built - t0 > 5 else DEADLINE_S) - (built - t0)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(root, ".bench_out",
                             f"trace-{a.workload}-seed{a.seed}.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + JVM_FLAGS + [
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--run-dir", run_dir,
        "--result", result_path, "--trace-out", trace_out]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                                      text=True, timeout=max(limit, 1))
            except subprocess.TimeoutExpired as e:
                sys.stdout.write(e.stdout.decode() if isinstance(e.stdout, bytes)
                                 else (e.stdout or ""))
                sys.stderr.write(f"perfbench: run exceeded {limit:.0f} s\n")
                return 1
        sys.stdout.write(proc.stdout)
        with open(log_path) as f:  # failed ops and checks, for the record
            sys.stderr.writelines(l for l in f if l.startswith("perfbench:"))
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"perfbench: JVM exited with {proc.returncode}\n")
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
