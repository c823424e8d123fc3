#!/usr/bin/env python3
"""The benchmark's build: the library sources of the enclosing repository
plus the runner in perfbench/src, compiled in one scalac run.

    python3 perfbench/build.py        # prints the runner's classpath

The compiler is the scala-compiler jar that ships with Spark, run with
plain `java`, so the build needs no sbt, no dependency cache and no
writable home directory: everything it writes goes under
.bench_build/perfbench in the checkout. Classes are compiled once per
hash of the sources and reused by later runs.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def source_files():
    files = []
    for r in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # the repository's own build names the jar directory
    with open(os.path.join(ROOT, "build.sbt")) as f:
        for line in f:
            if line.strip().startswith("unmanagedBase"):
                return line.split('"')[1]
    raise BuildError("cannot locate the Spark jars (set SPARK_HOME)")


def build(log=lambda msg: print(msg, file=sys.stderr, flush=True)):
    """Compile library + runner once per source hash; return the classpath."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    sources = source_files()
    h = hashlib.sha256()
    for p in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.isdir(classes):
        return classpath

    log("perfbench: compiling library and runner (first run) ...")
    t0 = time.time()
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "tmp"))
    argfile = os.path.join(staging, "tmp", "sources.txt")
    # paths relative to the checkout, so its location may hold spaces
    with open(argfile, "w") as f:
        f.write("\n".join(os.path.relpath(p, ROOT) for p in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={staging}/tmp",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    logpath = os.path.join(BUILD_ROOT, "build.log")
    with open(logpath, "w") as logf:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=logf,
                                stderr=subprocess.STDOUT,
                                timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(os.path.join(staging, "tmp"), ignore_errors=True)
    if rc != 0:
        with open(logpath) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BuildError(f"scalac exited {rc} "
                         f"(see {os.path.relpath(logpath, ROOT)})")
    os.rename(staging, classes)
    log(f"perfbench: compiled in {time.time() - t0:.0f} s")
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
