"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/classes.

    python3 perfbench/build.py        # from the repository root

A stamp over every source file's path and bytes skips the compile when
nothing changed. Run from a directory without the program's sources it
fails with a message and a non-zero exit.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = "src/main/scala"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first install
    whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    prog = os.path.join(root, PROGRAM_SRC)
    if not os.path.isdir(prog):
        raise SystemExit(f"perfbench: {PROGRAM_SRC} not found under {root}; "
                         "run from the repository root")
    found = []
    for base in (prog, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(root):
    return os.path.join(root, CLASSES) + os.pathsep + os.path.join(spark_jars(), "*")


def build(root="."):
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_path = os.path.join(root, STAMP)
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classpath(root)
    out = os.path.join(root, CLASSES)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classpath(root)


if __name__ == "__main__":
    print(build())
