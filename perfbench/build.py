"""Build file of the crown-pipeline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes with the Scala
compiler that ships among the Spark jars, so no build tool or network is
needed. Rebuilds only when a source file changed. Run it directly to
build: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory
    build.sbt declares as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("build.sbt not found and SPARK_HOME unset: cannot locate the Spark jars")
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt declares no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"Spark jar directory {d} does not exist")
    return d


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            raise BuildError(f"source directory {os.path.relpath(top, ROOT)} is missing")
        for d, _, fs in os.walk(top):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def classpath(classes, jars):
    return os.pathsep.join([classes, os.path.join(jars, "*")])


def ensure_built():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(classes, jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(classes, jars)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
