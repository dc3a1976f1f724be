#!/usr/bin/env python3
"""Build file of the graft benchmark: compiles the library (src/main) together
with the benchmark's own Scala sources (perfbench/src) into one class
directory, using the Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py            # from the repository root

The output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
A stamp of every input file's content makes a second build of the same tree
a no-op. The Spark jars are $SPARK_HOME/jars, else the `unmanagedBase` the
repository's build.sbt compiles against.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in %s)" % sbt)
    return m.group(1)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def _sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _resources(root):
    res = os.path.join(root, "src/main/resources")
    if not os.path.isdir(res):
        return []
    out = []
    for d, _, files in os.walk(res):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def source_digest(root):
    """sha256 over the path and content of every compiled or copied file."""
    h = hashlib.sha256()
    for p in _sources(root) + _resources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if the stamp is stale; return the class directory."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("perfbench: no src/main/scala under %s - run from a graft checkout" % root)
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found at %s (set SPARK_HOME)" % jars)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(_sources(root)) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    print("perfbench: compiling %d sources" % len(_sources(root)), file=log, flush=True)
    r = subprocess.run(cmd, cwd=root, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed (exit %d)" % r.returncode)
    res_root = os.path.join(root, "src/main/resources")
    for p in _resources(root):
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
