#!/usr/bin/env python3
"""Build file of the benchmark: compile the library and the benchmark.

Usage: build.py [build_dir]        (default: <checkout>/.bench_build)

Compiles every Scala source of the library (`src/main/scala`) together
with the benchmark's own sources (`perfbench/src`) into
`<build_dir>/classes`, with the Scala compiler that ships among the Spark
jars ($SPARK_HOME/jars, else the Spark install that holds `spark-submit`
on PATH), the compiler version `build.sbt` names. A stamp holding the
hash of all sources skips the compile when nothing changed. Prints the
classpath to run with.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not lib:
        sys.exit(f"build: no library sources under {ROOT}/src/main/scala")
    return lib + bench


def ensure(build_dir):
    """Compile if the sources changed; return the run classpath. Concurrent
    callers on one build directory wait for each other."""
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _ensure(build_dir)


def _ensure(build_dir):
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == key and os.path.isdir(classes)):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "jvmtmp"))
        args = os.path.join(build_dir, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}/jvmtmp",
               "-cp", jars,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + args]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        shutil.rmtree(os.path.join(tmp, "jvmtmp"), ignore_errors=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit(f"build: scalac failed with exit code {r.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(key)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(ensure(os.path.abspath(out)))
