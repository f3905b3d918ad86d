#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into one class directory, with the Scala
compiler and Spark jars of the local Spark install ($SPARK_HOME/jars, else
the jars directory build.sbt names). The build is skipped when a stamp of
every source's content matches.

Usage: python3 perfbench/build.py [buildDir]
Prints the class directory on success.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else the directory
    graft's build.sbt takes its Spark jars from (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler found at '{jars}'; set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graft sources not found at {main}: run from a graft checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest(files):
    """sha256 over the paths and contents of `files`: identifies the code a
    result was measured on, also where no git commit is available."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    jars = spark_jars()
    srcs = sources()
    # the jar names stand in for the compiler and Spark versions
    stamp_value = digest(srcs) + "\n" + "\n".join(sorted(os.listdir(jars)))
    out = os.path.join(build_dir, "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == stamp_value:
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"build failed (exit {rc}); log at {log}")
        with open(stamp, "w") as fh:
            fh.write(stamp_value)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
