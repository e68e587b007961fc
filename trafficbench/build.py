"""Build file of the traffic benchmark.

Compiles the library (`src/main/scala` of the checkout) together with the
benchmark's own sources (`trafficbench/src`) into one class directory with
the Scala compiler that ships among Spark's jars, so no build tool, network
or edit to the root `build.sbt` is needed. A stamp over every source file
skips the compile when nothing changed.

    python3 trafficbench/build.py        # from the root of a checkout
"""
import fcntl
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, or else of the first
    spark-submit on PATH that sits in a Spark install."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    jars_dir = next((os.path.join(h, "jars") for h in homes if os.path.isdir(os.path.join(h, "jars"))), None)
    if jars_dir is None:
        raise BuildError("Spark jars not found; set SPARK_HOME to a Spark install")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def _sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise BuildError(
            f"library sources not found under {lib}; run from the root of a repository checkout")
    out = []
    for base in (lib, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(sources, jars):
    h = hashlib.sha256()
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def ensure_built(root):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    sources = _sources(root)
    stamp = _stamp(sources, jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            compiler = [j for j in jars if os.path.basename(j).startswith(
                ("scala-compiler-", "scala-library-", "scala-reflect-"))]
            if len(compiler) != 3:
                raise BuildError("scala-compiler/library/reflect jars missing from the Spark jars")
            subprocess.run(["rm", "-rf", CLASSES], check=True)
            os.makedirs(CLASSES)
            args_file = os.path.join(BUILD_DIR, "sources.txt")
            with open(args_file, "w") as f:
                f.write("\n".join(sources))
            cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                   "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                   "-classpath", ":".join(jars), "@" + args_file]
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0:
                raise BuildError(f"scalac failed with exit code {r.returncode}")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    return [CLASSES] + jars


if __name__ == "__main__":
    try:
        ensure_built(os.getcwd())
    except BuildError as e:
        print(f"trafficbench: {e}", file=sys.stderr)
        sys.exit(2)
