#!/usr/bin/env python3
"""graft's benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload queries_light --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the workload in
one JVM on a `local[nproc]` session with every piece of state (registry,
java.io.tmpdir, Spark local dirs, fleet output) in a fresh directory under
`.bench_build/runs/` that is deleted afterwards, checks every output, and
prints the metrics. The last line of standard output is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# seconds; a listed workload must end within 180 s, while queries_heavy,
# which is run by hand only, needs about four minutes
TIMEOUT_S = {"queries_light": 170, "model_lifecycle": 170, "queries_heavy": 600}

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def driver_mem():
    """SPARK_DRIVER_MEM, else half the box's memory clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(TIMEOUT_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    mem = driver_mem()
    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("registry", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ, GRAFT_REGISTRY_DIR=dirs["registry"],
               SPARK_LOCAL_DIRS=dirs["local"], SPARK_DRIVER_MEM=mem)
    start_ms = int(time.time() * 1000)
    cmd = ["java", *ADD_OPENS, f"-Xmx{mem}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dlog4j2.configurationFile={os.path.join(build.BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={dirs['local']}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", os.path.join(build.BENCH, "data"), "--run-dir", run_dir,
           "--trace-dir", os.path.join(build.OUT, "traces"),
           "--cores", str(cores), "--start-ms", str(start_ms)]
    # the JVM runs inside the run dir, so stray relative writes go there too
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=run_dir)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S[a.workload])
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        print(f"[graftbench] timed out after {TIMEOUT_S[a.workload]} s", file=sys.stderr)
        proc.returncode = 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        print(f"[graftbench] no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
