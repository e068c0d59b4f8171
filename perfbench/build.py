#!/usr/bin/env python3
"""Builds the program and the benchmark from source.

Compiles every Scala file under `src/main/scala` (the program) and
`perfbench/src` (the benchmark) with the Scala compiler that ships in the
Spark distribution's jars, into `.bench_build/classes` at the root of the
checkout. A stamp of the sources' contents skips the build when nothing
changed. Run it alone with `python3 perfbench/build.py`; `run.py` calls it.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    """The runtime classpath: built classes, then the Spark distribution."""
    return os.pathsep.join([os.path.join(OUT, "classes"), os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    """Compiles if the sources changed; returns the classpath. Raises
    SystemExit when the program's sources are missing or do not compile."""
    srcs = sources()
    program = [s for s in srcs if os.sep + "src" + os.sep + "main" + os.sep in s]
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    build()
    print(classpath())
