"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) straight through the Scala compiler that
ships with Spark, so neither sbt nor a dependency cache is needed. The
classes go to `<build_dir>/classes`; a stamp holding the hash of every
source file skips the compile when nothing changed.

    python3 perfbench/build.py [build_dir]
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The directory build.sbt's unmanagedBase names (the jars the engine
    itself builds against), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    return sorted(files)


def build(build_dir):
    """Returns the classpath that runs perfbench.PerfBench."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
             "@" + argfile],
            check=True, stdout=sys.stderr)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return os.pathsep.join([os.path.join(ROOT, "src/main/resources"), classes,
                            os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                                os.path.join(ROOT, ".bench_build"))))
