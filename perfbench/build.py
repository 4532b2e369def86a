"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the harness sources (perfbench/src) into one class directory,
with the Scala compiler that ships in Spark's jar directory.

Usage, from the repository root:

    python3 perfbench/build.py

Prints the class directory. The build is skipped when the sources hash to
the same value as the last successful build.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
ENGINE_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jar directory with a Scala "
                         "compiler (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: {ENGINE_SRC} not found; run from the "
                         "repository root")
    found = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(top, "**", "*.java"), recursive=True)
    return sorted(found)


def build():
    """Returns the class directory, compiling first if a source changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
