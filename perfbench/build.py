#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main`) and the
benchmark client (`perfbench/scala`) with the Scala compiler that ships in
Spark's jar directory (the project's `unmanagedBase` in build.sbt), into
<build>/classes. No sbt, no network, nothing
written outside the build directory. A stamp of every source's content
skips the compile when nothing changed.

Usage: build.py [--build DIR]   (default: $CARGO_TARGET_DIR or .bench_build)
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA = "2.13.17"


def spark_jars():
    """The jar directory the project itself builds against: build.sbt's
    `unmanagedBase := file("...")`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: no unmanagedBase in build.sbt")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + bench


def resources():
    top = os.path.join(ROOT, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(top, "**/*"), recursive=True)
                  if os.path.isfile(p)), top


def classpath(out):
    return f"{out}/classes:{spark_jars()}/*"


def build(out=None):
    out = out or build_dir()
    srcs = sources()
    res, res_top = resources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = ":".join(f"{jars}/scala-{m}-{SCALA}.jar"
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", classes, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, res_top))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build")
    print(build(ap.parse_args().build))
