"""Build file of the benchmark: compiles the engine and the harness.

The engine's Scala sources (``src/main/scala``) and the harness
(``perfbench/src``) are compiled together with the Scala compiler that the
Spark distribution ships, against Spark's jars. The classes land in
``.bench_build/classes-<hash of every source>``, so an unchanged tree is
built once and any edit rebuilds. Run it alone with
``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    found = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return found


def classpath(classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")))
    if not compiler:
        raise SystemExit("perfbench: no scala-compiler-2.13 jar in Spark's jars")
    scala_cp = os.pathsep.join(
        compiler + sorted(glob.glob(os.path.join(jars, "scala-library-2.13*.jar")))
        + sorted(glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar"))))
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", scala_cp,
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-cp", os.path.join(jars, "*"),
         "-d", tmp, "@" + argfile],
        check=True, stdout=log, stderr=log)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
