#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/scala) in
one scalac run, against the jars of the Spark install (SPARK_HOME), which
also carry the Scala compiler. The output goes to
.bench_build/classes-<hash of every input file>, so an unchanged tree is
never rebuilt and a changed one never reuses stale classes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    """SPARK_HOME, else the install that spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")
BUILD_DIR = ".bench_build"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"),
                             recursive=True))
    return main, bench


def build(root):
    """Return the classes dir for the tree at `root`, compiling if needed."""
    main, bench = sources(root)
    if not main:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for p in main + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = SPARK_JARS + "/*"
    args = os.path.join(root, BUILD_DIR, "scalac-args.txt")
    with open(args, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    jtmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + args]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"scalac failed ({r.returncode})")
    # drop classes of older trees, then publish this one atomically
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if not old.endswith(".tmp"):
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
