#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala of the
repository) together with the benchmark's own sources (graftbench/src) with
the Scala compiler that ships among the Spark jars. Classes go to
graftbench/.build/classes; a content hash of every source skips the build
when nothing changed.

    python3 graftbench/build.py        # prints the classpath to stdout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the
    repository's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("graftbench: no Spark jars found (set SPARK_HOME)")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        sys.exit(f"graftbench: program sources not found under {program}")
    found = []
    for base in (program, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={OUT}", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", tmp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("graftbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
