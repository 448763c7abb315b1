"""Builds the program and the benchmark harness from source.

The program (src/main/scala) and perfbench/src are compiled with the
Scala compiler that ships in Spark's jar directory, into
.bench_build/classes. A stamp of every source file's path and contents
skips the compile when nothing changed.

Usage: python3 perfbench/build.py      (run.py calls build() itself)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles the program against."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME"):
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else jars
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(srcs, out, cp):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")


def build():
    """Compiles what changed; returns the run classpath."""
    prog_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "src"))
    if not prog_src:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    prog, bench = os.path.join(OUT, "classes", "program"), os.path.join(OUT, "classes", "bench")
    stamp_file = os.path.join(OUT, "classes", "stamp")
    stamp = _stamp(prog_src + bench_src)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old != stamp:
        subprocess.run(["rm", "-rf", prog, bench], check=True)
        _scalac(prog_src, prog, spark_jars())
        _scalac(bench_src, bench, os.pathsep.join([prog, spark_jars()]))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench, prog, resources, spark_jars()])


if __name__ == "__main__":
    print(build())
