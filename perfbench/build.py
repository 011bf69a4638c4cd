#!/usr/bin/env python3
"""Build the benchmark: compile the program's Scala sources together with
the benchmark's own (perfbench/scala) into one class directory, using the
Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py          # from the repository root

The output goes to $CARGO_TARGET_DIR (default .bench_build)/classes and is
reused while the sources are unchanged: a digest of every source, resource
and this file is stored beside it.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jar directory, from SPARK_HOME or the
    location of spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def inputs(root):
    """(scala sources, resource files) the build compiles and copies."""
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise RuntimeError(f"program sources not found under {root}")
    sources = _files(program, ".scala") + _files(os.path.join(HERE, "scala"), ".scala")
    return sources, _files(os.path.join(root, "src", "main", "resources"))


def digest(root, files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; return (classes dir, source digest)."""
    sources, resources = inputs(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    want = digest(root, sources + resources)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classes, want
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-classpath", cp, "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    res_root = os.path.join(root, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes, want


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
