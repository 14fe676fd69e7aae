#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout) and the harness (perfbench/src) with the Scala compiler that ships
among Spark's jars ($SPARK_HOME/jars, else the `unmanagedBase` of the
engine's build.sbt), into <build dir>/engine and <build dir>/harness.

Usage: python3 perfbench/build.py [build dir]   (default: $CARGO_TARGET_DIR
or .bench_build). A build is skipped when the sources' digest matches the
stamp of the last one.
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            sbt = open(os.path.join(ROOT, "build.sbt")).read()
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt)
        except OSError:
            m = None
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        raise SystemExit(f"build: no Spark jars at {d!r} (set SPARK_HOME)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))


def sources(root):
    out = []
    for dp, _, fs in os.walk(root):
        out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.pathsep.join([cp] + classpath)]
    p = subprocess.run(cmd + files, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build: scalac failed for {out}")


def build(out_root=None):
    """Returns the classpath (Spark jars + engine + harness classes)."""
    out_root = out_root or build_dir()
    engine = sources(ENGINE_SRC)
    harness = sources(HARNESS_SRC)
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    jars = spark_jars()
    eng_out = os.path.join(out_root, "engine")
    har_out = os.path.join(out_root, "harness")
    stamp = os.path.join(out_root, "stamp")
    want = digest(engine + harness)
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        for d in (eng_out, har_out):
            subprocess.run(["rm", "-rf", d], check=True)
        scalac(jars, [], eng_out, engine)
        scalac(jars, [eng_out], har_out, harness)
        with open(stamp, "w") as f:
            f.write(want)
    return jars + [eng_out, har_out]


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else None)
    print("build ok")
