"""Build file of the benchmark: compiles the library sources (src/main/scala)
together with the benchmark's own JVM program (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars). Skips the compile when no source changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    files = sorted(f for d in SOURCE_DIRS
                   for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        sys.exit("perfbench: library sources (src/main/scala) not found")
    return files


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def digest():
    """Hash of every source file the build compiles: the code version."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    files = sources()
    version = digest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == version:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(version)


if __name__ == "__main__":
    build()
