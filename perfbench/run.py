#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

    python3 perfbench/run.py --workload traversal --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM: set-up (session, inputs from the seed,
warm-up), a closed loop of checked operations for --seconds, and a last
stdout line holding the result object. --trace 1 reports the per-layer
metrics instead of the end-to-end ones. Everything it writes stays under
.perfbench/ in the checkout; results land in .perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

BENCH = build.BENCH
WORKLOADS = ("traversal", "session")
# A run must end within 180 s; the build is not counted.
DEADLINE_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # for the tiny-size smoke test; the default is the benchmark's size
    p.add_argument("--convs", type=int, help="synthetic conversations (default: per workload)")
    return p.parse_args()


def result_line(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    a = parse()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t0_ms = int(time.time() * 1000)
    work = os.path.join(build.STATE, "work", str(os.getpid()))
    out = os.path.join(build.STATE, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = os.pathsep.join([classes] + build.classpath())
    cmd = (["java", "-Xmx3g", "-Xss8m"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", cp, "graftperf.GraftPerf",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out, "--work", work, "--t0-ms", str(t0_ms)]
           + (["--convs", str(a.convs)] if a.convs else []))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(DEADLINE_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            r = result_line(line)
            if r is not None:
                result = r
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print("[perfbench] run exceeded its deadline", file=sys.stderr)
        return 3
    if proc.returncode != 0 or result is None:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
