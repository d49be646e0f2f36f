#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships with Spark, into
.bench_build/perfbench/engine-<hash>/ and bench-<hash>/. Sources whose hash
already has classes are not compiled again.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, dest, files):
    """Compile `files` into `dest` unless an earlier build left it complete."""
    if os.path.exists(os.path.join(dest, "BUILT")):
        return
    staging = dest + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(staging, "sources.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", staging, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(staging, "BUILT"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(staging, dest)


def build():
    """Compile what changed; returns (engine classes, bench classes, hash of both)."""
    engine_dir = os.path.join(ROOT, "src", "main", "scala")
    engine = sources(engine_dir) if os.path.isdir(engine_dir) else []
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    bench = sources(os.path.join(HERE, "src"))
    engine_hash = source_hash(engine)
    digest = source_hash(engine + bench)
    jars = spark_jars()
    engine_classes = os.path.join(OUT, "engine-" + engine_hash)
    bench_classes = os.path.join(OUT, "bench-" + digest)
    scalac(jars, os.path.join(jars, "*"), engine_classes, engine)
    scalac(jars, os.path.join(jars, "*") + os.pathsep + engine_classes, bench_classes, bench)
    return engine_classes, bench_classes, digest


if __name__ == "__main__":
    try:
        print("\n".join(build()[:2]))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
