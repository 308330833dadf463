#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the engine sources of the checkout (src/main/scala) together with
the benchmark's own sources (perfbench/src) into one class directory under
.bench_build/, so the benchmark always measures the engine that sits next
to it. The compiler is the Scala 2.13 compiler that ships in Spark's jars
directory ($SPARK_HOME/jars), which is also the run-time class path; no
dependency is resolved and nothing is written outside the checkout.

A rebuild happens only when a source or resource file changed (content
hash stamp).

    python3 perfbench/build.py        # builds if needed, prints the class path
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return sorted(out)


def sources():
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(ENGINE_RES):
        raise BuildError("engine sources not found (src/main/scala, "
                         "src/main/resources): run from a full checkout")
    srcs = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    if not srcs:
        raise BuildError("no Scala sources found")
    return srcs


def stamp(srcs):
    h = hashlib.sha256()
    for f in srcs + _files(ENGINE_RES, ""):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns (class path, source hash)."""
    jars = spark_jars()
    srcs = sources()
    digest = stamp(srcs)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return cp, digest
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-release", "17",
           "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
