#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload curate|crud|ann --seed N \
        --seconds S --trace 0|1

Builds what is stale (see build.py), runs the workload in one JVM on
local[k] (k = min(4, usable CPUs)), relays the metric lines, and prints
the result object as the last line of stdout. The JVM's stderr (Spark
logging) goes to a log file in the build directory; on failure its tail
is copied to stderr and no result is printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("curate", "crud", "ann")
# the heap starts at 1 GB and may grow to 3 GB, so a leak that holds
# memory shows in peak_rss_mb instead of hitting a fixed ceiling
HEAP_MIN, HEAP_MAX = "1g", "3g"
# a run must end within 180 s; the JVM stops its own loop well before
WATCHDOG_S = 170


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["metrics"], dict) and r["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    out = build.out_dir()
    for d in ("work", "logs", "traces"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(out, "work"))
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    cmd = [build.java(), f"-Xms{HEAP_MIN}", f"-Xmx{HEAP_MAX}", "-XX:-UsePerfData"] + build.jvm_opens() + [
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--traces", os.path.join(out, "traces"),
        "--cores", str(cores())]

    # Spark's scratch space stays inside the run directory, whatever the environment says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                start_new_session=True)

        def kill():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        timer = threading.Timer(WATCHDOG_S, kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if not line.startswith("{"):
                    print(line, flush=True)
            rc = proc.wait()
        except BaseException:
            kill()
            proc.wait()
            raise
        finally:
            timer.cancel()
            shutil.rmtree(work, ignore_errors=True)

    if rc != 0 or not lines or not valid_result(lines[-1]):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.writelines(tail)
        print(f"perfbench: run failed (exit {rc}); log: {log_path}", file=sys.stderr)
        return rc or 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
