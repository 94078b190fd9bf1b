#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program under test (src/main/scala, plus its resources)
and the benchmark harness (perfbench/src) with the Scala compiler that
ships among the Spark jars the sbt build uses, into .bench_build/.
A stamp over every source file skips the build when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
HARNESS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def scala_files(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", classpath, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Builds if needed; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise RuntimeError(f"no program sources at {PROGRAM_SRC}")
    jars = spark_jars()
    program = scala_files(PROGRAM_SRC)
    harness = scala_files(HARNESS_SRC)
    resources = []
    for d, _, names in os.walk(PROGRAM_RES):
        resources += [os.path.join(d, n) for n in names]
    want = stamp(program + harness + sorted(resources))
    classes = os.path.join(BUILD, "classes")
    harness_out = os.path.join(BUILD, "harness")
    stamp_file = os.path.join(BUILD, "stamp")
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([harness_out, classes, jar_cp])
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    for d in (classes, harness_out):
        shutil.rmtree(d, ignore_errors=True)
    scalac(jars, jar_cp, classes, program)
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    scalac(jars, os.pathsep.join([classes, jar_cp]), harness_out, harness)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())
