"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (perfbench/build.py),
then starts one JVM for the workload at local[nproc]. Inputs come only from
the seed; no GRAFT_* or SPARK_* setting of the caller reaches the JVM. All
files the run writes stay under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("snapshot", "stream-small", "stream-large")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """Half of MemTotal, clamped to 2-8 GB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:3]) + sum(f[5:7]), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dgraftbench.work={work}",
              "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-cp", classes + os.pathsep + build.classpath(),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            cwd=work, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit("run: stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("run: workload timed out")
    finally:
        spans = [f for f in os.listdir(work) if f.startswith("spans-")] if os.path.isdir(work) else []
        for f in spans:
            shutil.move(os.path.join(work, f), os.path.join(HERE, ".work", f))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: workload exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: malformed result line")
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    if busy + steal:
        sys.stderr.write(f"[perfbench] host steal {100.0 * steal / (busy + steal):.1f}% of busy CPU time\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
