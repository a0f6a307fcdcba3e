"""Build step of the graft benchmark: compiles the library (src/main/scala)
together with the benchmark driver (perfbench/src) into one class directory
under .bench_build, with scalac run straight from the Spark distribution's
own scala-compiler jar (no sbt, no dependency resolution). The Spark jars
are $SPARK_HOME/jars, or else the directory build.sbt's unmanagedBase names.

The build is skipped when a stamp over every source file (path + content)
and the compiler jar matches the previous build.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
LIB_SRC = "src/main/scala"
LIB_RES = "src/main/resources"
BENCH_SRC = "perfbench/src"


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            sys.exit("build: set SPARK_HOME, or run from a graft checkout whose "
                     "build.sbt names the Spark jars in unmanagedBase")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources(root):
    out = []
    for base in (LIB_SRC, LIB_RES, BENCH_SRC):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for j in sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.basename(j).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root):
    """Compile if stale; return the class directory."""
    for d in (LIB_SRC, BENCH_SRC):
        if not os.path.isdir(os.path.join(root, d)):
            sys.exit(f"build: {d} not found under {root} -- run from a graft checkout")
    jars = spark_jars(root)
    files = _sources(root)
    stamp = _stamp(root, files, jars)
    build = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build, "classes")
    stamp_file = os.path.join(build, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    print(f"build: compiling {len(scala)} Scala files", file=sys.stderr, flush=True)
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-release", "17", "-classpath", cp, "-d", tmp] + scala
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.copytree(os.path.join(root, LIB_RES), tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
