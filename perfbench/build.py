"""Build step of the fsstspark benchmark.

Compiles fsstspark's main sources together with the benchmark's own Scala
sources, using the Scala compiler that ships in the Spark distribution's
jars directory (no sbt, no dependency resolution). The classes land in
`.bench_build/perfbench/<stamp>/classes` under the repository root; the
stamp is a hash of every source file, so an unchanged tree is compiled
once and a changed one gets a fresh directory.

    python3 perfbench/build.py          # compile if needed, print the classes dir

Spark is found through SPARK_HOME, or else through `spark-submit` on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _sources(top, suffixes):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(suffixes))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Returns (classpath entries, whether this call compiled)."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(PROGRAM_RES):
        raise BuildError("fsstspark sources not found at src/main/{scala,resources}")
    jars = spark_jars()
    srcs = _sources(PROGRAM_SRC, (".scala",)) + _sources(BENCH_SRC, (".scala",))
    out = os.path.join(BUILD_DIR, stamp(srcs + _sources(PROGRAM_RES, ("",))))
    classes = os.path.join(out, "classes")
    compiled = not os.path.isdir(classes)
    if compiled:
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", tmp] + srcs
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("scalac timed out")
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
            raise BuildError("scalac failed")
        os.makedirs(out, exist_ok=True)
        os.rename(tmp, classes)
    return [classes, PROGRAM_RES, os.path.join(jars, "*")], compiled


if __name__ == "__main__":
    try:
        print(build()[0][0])
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
