"""Run one workload of the traffic benchmark and print its result.

    python3 trafficbench/run.py --workload e1_train --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher builds the library and the
benchmark (build.py), sizes the JVM from this host (heap from MemTotal,
Spark cores from the CPUs this process may use), runs the workload in one
JVM at local[cores], and prints the JVM's lines followed by the result as the
last line of standard output. It records load average and CPU steal from
/proc at the start and the end of the run; nothing waits or gates on them.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("e1_train", "api_serve", "ingest_weather")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_mb():
    """A quarter of physical memory, kept within 1-4 GiB: the inputs are
    sized for a few hundred MB of live data, and the host's memory is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4 // 1024))


def cores():
    return len(os.sched_getaffinity(0))


def machine_state():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load1, cpu


def steal_pct(cpu0, cpu1):
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8])
    return round(100.0 * d[7] / total, 3) if total > 0 and len(d) > 7 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"trafficbench: {e}", file=sys.stderr)
        return 2

    bench = build.BENCH_DIR
    work = os.path.join(bench, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    load0, cpu0 = machine_state()
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-Xss4m",
           f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={bench}/log4j2.properties",
           "-Dspark.callstack.depth=60"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "trafficbench.Main",
            "--cores", str(cores()), "--work", work,
            "--data", os.path.join(bench, ".data"),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    result = None
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
            if time.time() > deadline:
                break
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            print("trafficbench: the JVM exceeded its time limit", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"trafficbench: run failed (JVM exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    load1, cpu1 = machine_state()
    detail = result.pop("detail")
    detail["machine"] = {"load1_start": load0, "load1_end": load1,
                         "steal_pct": steal_pct(cpu0, cpu1),
                         "cores": cores(), "heap_mb": heap_mb()}
    print("DETAIL " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
