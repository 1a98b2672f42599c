"""Build file of the benchmark: compiles graft's main sources together with
the harness under graftbench/src into one class directory.

    python3 graftbench/build.py        # prints the class directory

The Scala compiler and Spark come from the Spark distribution named by
SPARK_HOME. Output goes to .bench_build/classes in the checkout; a stamp of
every source file's content skips the compile when nothing changed. Exits
non-zero (printing why) when the program's sources are not there.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "graftbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        raise SystemExit("graftbench: SPARK_HOME must name a Spark distribution")
    return os.path.join(home, "jars", "*")


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not glob.glob(os.path.join(SOURCE_DIRS[0], "graft", "**", "*.scala"),
                     recursive=True):
        raise SystemExit(f"graftbench: no program sources under {SOURCE_DIRS[0]}")
    return sorted(files)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", jars, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
