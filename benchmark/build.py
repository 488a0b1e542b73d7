#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness from source with the Scala compiler that ships in the
Spark jar directory, offline, and resolves the run classpath once.

Outputs go under `.bench_build/` (or $CARGO_TARGET_DIR when set), keyed by
a hash of every source file, so a rebuild happens only when sources
change. Usage: build.py  (prints the classpath file's path)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

GRAFT_SRC = "src/main/scala"
HARNESS_SRC = "benchmark/harness"


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open("build.sbt").read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""),
                                          "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars in {d}")
    return d


def jvm_options():
    """The `--add-opens` list build.sbt passes to every forked JVM."""
    opens = re.findall(r'"(java\.base/[^"]+)"', open("build.sbt").read())
    return [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def scalac(jars, classpath, out, srcs):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    jline = glob.glob(os.path.join(jars, "jline-3*.jar"))
    if not all(compiler):
        sys.exit(f"build: no Scala 2.13 compiler in {jars}")
    cp = ":".join([c[0] for c in compiler] + jline)
    os.makedirs(out)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-classpath", classpath, "-d", out] + srcs,
                   check=True, stdout=sys.stderr)


def build():
    """Compile if needed; return the path of the resolved classpath file."""
    for d in (GRAFT_SRC, HARNESS_SRC, "build.sbt"):
        if not os.path.exists(d):
            sys.exit(f"build: {d} is missing; run from a graft checkout")
    jars = spark_jars()
    graft, harness = sources(GRAFT_SRC), sources(HARNESS_SRC)
    h = hashlib.sha256(jars.encode())
    for f in graft + harness:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    key = h.hexdigest()[:16]
    root = os.path.abspath(build_dir())
    out = os.path.join(root, key)
    cpfile = os.path.join(out, "classpath.txt")
    if os.path.exists(cpfile):
        return cpfile
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, os.path.join(tmp, "graft"), graft)
    scalac(jars, os.path.join(tmp, "graft") + ":" + jar_cp,
           os.path.join(tmp, "harness"), harness)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(":".join([os.path.join(out, "harness"),
                          os.path.join(out, "graft"), jar_cp]))
    # older builds of other source versions are dropped
    for old in glob.glob(os.path.join(root, "*")):
        if os.path.basename(old) != key + ".tmp":
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return cpfile


if __name__ == "__main__":
    print(build())
