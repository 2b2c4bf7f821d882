#!/usr/bin/env python3
"""Builds the benchmark: the program's `src/main/scala` plus the harness
under `perfbench/scala`, compiled with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`, default /opt/spark/jars).

The classes land in `<build dir>/classes-<hash of every source file>`,
so an unchanged tree is built once, and builds of different trees that
share a build dir live side by side. The build dir is `$CARGO_TARGET_DIR`
when set, `.bench_build` otherwise, relative to the repository root.

    python3 perfbench/build.py        # prints the classes directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def jars_dir():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, top, "**", "*.scala"), recursive=True)
    return sorted(found)


def ensure_built(root):
    """Returns the classes directory, compiling first if the sources changed."""
    srcs = sources(root)
    if not os.path.isdir(os.path.join(root, "src/main/scala")) or not srcs:
        raise SystemExit("perfbench: no src/main/scala under %s; run from the repository root" % root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out_root = build_dir(root)
    os.makedirs(out_root, exist_ok=True)
    classes = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, ".complete")):
            return classes
        # an earlier build of the same sources that did not finish
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        jars = jars_dir()
        compiler = ":".join(os.path.join(jars, "scala-%s-%s.jar" % (m, SCALA))
                            for m in ("compiler", "library", "reflect"))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if done.returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        open(os.path.join(classes, ".complete"), "w").close()
        return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
