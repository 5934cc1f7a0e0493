#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own Scala
sources into one class directory, using the Scala compiler that ships
in Spark's jar directory (the same 2.13 release the project builds
with), so no dependency resolution or network access is needed.

    python3 perfbench/build.py            # from the repository root

The output goes to $CARGO_TARGET_DIR/perfbench/classes when that is set,
else to .bench_build/perfbench/classes. A stamp of every source file's
content makes a rebuild of an unchanged tree a no-op.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark's jars not found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: graft's sources (src/main/scala) are missing")
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(out, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:+PerfDisableSharedMem", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    sys.stderr.write("perfbench: compiled %d sources in %.1f s\n" % (len(srcs), time.time() - t0))
    return cp


if __name__ == "__main__":
    print(build())
