#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into `.bench_build/classes`, using the
Scala compiler that ships with Spark's jars. Nothing is downloaded.

    python3 perfbench/build.py        # from the repository root

A stamp of every source file's content makes a rebuild happen only when a
source changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars dir that build.sbt's unmanagedBase names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no program sources at {main}")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return srcs


def build():
    """Returns the classes directory, compiling first if a source changed."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes

    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"[graftbench] compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"compilation failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
