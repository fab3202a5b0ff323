"""Build the benchmark: compile the engine's sources and the benchmark's
Scala driver into one class directory with the Scala compiler that ships
with Spark. Run from the repository root:

    python3 lakebench/build.py

The output goes to `lakebench/.build/` and is reused while no source file
changed (a stamp over every source's path, size and mtime decides).
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def classpath():
    return os.pathsep.join([CLASSES] + jars())


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    srcs = sources()
    compiler = [j for j in jars() if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"no Scala compiler jars under {SPARK_JARS}")
    want = stamp(srcs)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(jars()), "-d", CLASSES,
           "@" + args_file]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("compilation failed")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, CLASSES, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    build()
