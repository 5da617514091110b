#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (``src/main``) and the
benchmark harness (``perfbench/scala``) with the Scala compiler that ships
with Spark, into ``.bench_build/perfbench/classes``.

The Spark jars are the ones ``build.sbt`` compiles against (its
``unmanagedBase``). A stamp over every source file skips the compile when
nothing changed. Run from the repository root: ``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """Classpath glob of the Spark jars named by build.sbt's unmanagedBase."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase (the Spark jars)")
    return os.path.join(m.group(1), "*")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                 if os.path.isfile(p))
    return main, bench, res


def build():
    """Returns the classpath of the built program and harness."""
    main, bench, res = sources()
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    h = hashlib.sha256()
    for p in main + bench + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jars = spark_jars()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.path.abspath(classes) + ":" + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", jars] + main + bench
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
