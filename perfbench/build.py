"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala 2.13 compiler that ships among Spark's jars,
into .bench_build/ at the root of the checkout. Each step is skipped when a
stamp of its sources' hash says its output is current.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_home():
    """SPARK_HOME, else the Spark that the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
    except ImportError:
        return ""
    return os.path.dirname(pyspark.__file__)


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        raise SystemExit("build: no Spark jars: set SPARK_HOME to the Spark install")
    return jars


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_step(name, srcs, classpath, extra_key=""):
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    key = digest(srcs, extra_key)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, f"{name}.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.pathsep.join(classpath),
           "@" + argfile]
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: {name} failed to compile")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out, key


def build():
    """Compile what is stale and return the runtime classpath entries."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources missing at {PROGRAM_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    program, key = compile_step("program", sources(PROGRAM_SRC), jars)
    harness, _ = compile_step("harness", sources(HARNESS_SRC), [program] + jars,
                              extra_key=key)
    return [harness, program, PROGRAM_RES] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
