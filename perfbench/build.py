#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
benchmark harness (perfbench/src) against them.

Usage: python3 perfbench/build.py            (from the repository root)

The Scala compiler is the one Spark ships in its jars directory, found
through SPARK_HOME or the installed pyspark package, so no build tool or
network is needed. A stage is skipped when a stamp of its source files
matches its last build. Output goes under $CARGO_TARGET_DIR (default
.bench_build) in the repository root.
"""
import glob
import hashlib
import importlib.util
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Directory of Spark's jars (Spark, Scala library and compiler)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def compile_stage(jars, out, name, srcs, classpath):
    """Compile `srcs` into out/name unless its stamp is current; the stamp
    covers the sources and everything on `classpath` that was built here."""
    classes = os.path.join(out, name)
    h = hashlib.sha256(jars.encode())
    for f in srcs + [os.path.join(c, "stamp") for c in classpath]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(classes, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    res = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build(root):
    """Compile graft, then the harness against it, each only when its
    sources changed; return the JVM classpath (classes + Spark jars)."""
    graft = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {graft}")
    jars = spark_jars()
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    graft_classes = compile_stage(jars, out, "graft", scala_files(graft), [])
    harness = compile_stage(jars, out, "harness", scala_files(os.path.join(HERE, "src")),
                            [graft_classes])
    return os.pathsep.join([harness, graft_classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd()))
