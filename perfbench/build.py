#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark driver (perfbench/src) into one class directory.

It calls the Scala compiler that ships among the program's own jars
(the `unmanagedBase` of the root build.sbt) instead of sbt, so a build
needs no dependency resolution and writes only under the output
directory. A build is skipped when the sources have not changed since the
last one.

Usage: python3 perfbench/build.py [out_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DEFAULT_OUT = os.path.join(HERE, ".build")


def jar_dir():
    """The program's jar directory, as its build.sbt declares it."""
    path = os.path.join(REPO, "build.sbt")
    if not os.path.exists(path):
        raise SystemExit("no build.sbt next to perfbench/: run from a repository checkout")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for root in roots:
        if not os.path.isdir(root):
            raise SystemExit(f"missing source directory {os.path.relpath(root, REPO)}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(out=DEFAULT_OUT):
    """Compile if needed; return the runtime classpath."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha1()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(jars, "*"), "@" + args],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    res = os.path.join(REPO, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT))
