#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/scala) into one class
directory, with the Scala compiler that ships in Spark's jars. No sbt, no
dependency resolution: the class path is Spark's jar directory.

Spark's jar directory is $SPARK_HOME/jars, or else the one build.sbt
names. The build lands in $CARGO_TARGET_DIR (default .bench_build) under the
checkout root and is reused while no source file changed.

Usage: build.py            (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    engine = [s for s in srcs if "/src/main/scala/" in s]
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return out
    os.makedirs(build_dir(), exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
