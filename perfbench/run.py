#!/usr/bin/env python3
"""Entry-point benchmark of the SEG-Y/MDIO engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), then runs one JVM with
the driver perfbench.Main on a fresh scratch directory under .bench_build/.
Workloads are listed in BENCHMARK.json and perfbench/METRICS.md. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics (see perfbench/METRICS.md). The last line of standard
output is the JSON result; the exit code is 0 only when a result was made.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the engine's sbt
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_mem():
    """Heap by the repository's test formula: half of RAM, 2g to 8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


def git_rev(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def cpu_times():
    """The host's aggregate CPU counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def stop(signum, _frame):
    raise SystemExit("perfbench: stopped by signal %d" % signum)


def main():
    # a TERM or INT stops the build or the driver JVM too, and waits for it
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    classes, jars, digest = build.ensure(root)
    nproc = len(os.sched_getaffinity(0))
    mem = driver_mem()
    run = os.path.join(root, ".bench_build", "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(root, ".bench_build", "traces")
    if a.trace == "1":
        os.makedirs(traces, exist_ok=True)
    result = os.path.join(run, "result.json")
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[%d]" % nproc, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_DRIVER_MEM=mem, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xmx" + mem, "-Xms" + mem, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", run, "--out", result,
        "--spans", os.path.join(traces, "%s_seed%d.jsonl" % (a.workload, a.seed))]
    print("[perfbench] git_rev=%s source_digest=%s nproc=%d driver_mem=%s" %
          (git_rev(root), digest[:16], nproc, mem), flush=True)
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, env=env, cwd=run, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout after %d s" % TIMEOUT_S
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run, ignore_errors=True)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu0) > 7:
        # steal: time the hypervisor ran other guests on this machine's CPUs;
        # a run with a high share measured a busy host as well as the program
        d = [b - a for a, b in zip(cpu0, cpu1)]
        print("[perfbench] host cpu over the run: busy %.1f%%, steal %.1f%%" %
              (100.0 * (sum(d) - d[3] - d[4] - d[7]) / max(1, sum(d)), 100.0 * d[7] / max(1, sum(d))),
              flush=True)
    try:
        if rc != 0 or not os.path.exists(result):
            sys.exit("perfbench: driver failed (%s)" % rc)
        with open(result) as fh:
            out = json.load(fh)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
