#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine
(src/main/scala) and the benchmark's own sources (perfbench/src) with
the Scala compiler that ships among Spark's jars, into
.bench_build/classes-<source hash>. A build whose hash is already there
is reused.

Usage: build.py  (prints the classpath of the built program)
"""
import glob
import hashlib
import importlib.util
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def sources():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names
    as its unmanagedBase, else the jars of the installed pyspark (inside
    the package, or in the Spark distribution that holds it)."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1) if os.path.isabs(m.group(1)) else os.path.join(ROOT, m.group(1)))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        pkg = os.path.dirname(spec.origin)
        dirs += [os.path.join(pkg, "jars"), os.path.join(os.path.dirname(os.path.dirname(pkg)), "jars")]
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    sys.exit("build: no Spark jars found; set SPARK_HOME to a Spark installation "
             f"(looked in {', '.join(dirs) or 'nothing'})")


def build():
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        sys.exit("build: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cp = ":".join(spark_jars())
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            shutil.rmtree(out, ignore_errors=True)
            sys.exit("build: scalac failed")
        open(done, "w").close()
    resources = os.path.join(ROOT, "src", "main", "resources")
    return out, h.hexdigest(), [out, resources] + spark_jars()


if __name__ == "__main__":
    print(":".join(build()[2]))
