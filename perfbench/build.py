#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala code (perfbench/src) into one class directory.

It uses the Scala compiler that ships with the Spark distribution the repo
builds against (build.sbt's `unmanagedBase`, else $SPARK_HOME/jars), so it
needs no dependency resolution and writes only under the output directory.
A build whose sources and jars are unchanged is reused.

Usage: python3 perfbench/build.py [OUT_DIR]   (default: .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory the repo's own build compiles against."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt has no unmanagedBase and "
                     "SPARK_HOME is unset")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    return main + bench


def build(root, out_dir):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    digest = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.sha256")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classpath


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    try:
        print(build(root, os.path.abspath(out)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
