#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

    python3 perfbench/build.py [--out .bench_build]

Run from the root of a checkout. Compiles src/main/scala into
<out>/classes and perfbench/src into <out>/bench with the Scala compiler
from Spark's jars (SPARK_HOME/jars, else the `unmanagedBase` that
build.sbt names), and prints the runtime classpath. A stamp of the
sources' digest skips a build whose inputs have not changed.
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


def spark_jars(root: str) -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources(d: str) -> list:
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars: str, out_dir: str, files, classpath=None, stamp_files=None):
    """Compile `files` into `out_dir` unless its stamp matches."""
    stamp = digest(stamp_files or files)
    stamp_path = out_dir + ".stamp"
    if os.path.isdir(out_dir) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    subprocess.run(cmd + ["@" + argfile], check=True, stdout=sys.stderr)
    os.remove(argfile)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_path, "w") as f:
        f.write(stamp)


def build(root: str, out: str) -> str:
    """Build both parts; return the runtime classpath."""
    jars = spark_jars(root)
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    program = sources(os.path.join(root, "src", "main", "scala"))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    classes = os.path.join(out, "classes")
    scalac(jars, classes, program)
    bench = os.path.join(out, "bench")
    bench_src = sources(os.path.join(HERE, "src"))
    # the benchmark links against the program: rebuild it when either changes
    scalac(jars, bench, bench_src, classpath=classes,
           stamp_files=bench_src + [classes + ".stamp"])
    resources = os.path.join(root, "src", "main", "resources")
    return os.pathsep.join([bench, classes, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=".bench_build")
    print(build(os.getcwd(), ap.parse_args().out))
