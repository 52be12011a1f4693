"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in Spark's jars, into .bench_build/ at the checkout root.

Nothing else runs sbt, so no compile can overlap a measured window. The
build is skipped when a stamp over every source file's path and content
matches the last build.

Usage: python3 perfbench/build.py    (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
PROGRAM = os.path.join(BUILD, "program")
HARNESS = os.path.join(BUILD, "harness")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar under {jars}")
    return os.path.join(jars, "*")


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(out, classpath, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit(f"build: scalac failed for {os.path.relpath(out, ROOT)}")


def current_stamp():
    """Fingerprint of every source file the build compiles."""
    return _stamp(_sources("src/main/scala") + _sources("perfbench/harness"))


def build():
    """Compile if sources changed; returns the runtime classpath."""
    program, harness = _sources("src/main/scala"), _sources("perfbench/harness")
    if not program:
        sys.exit("build: no program sources under src/main/scala")
    jars = spark_jars()
    stamp = _stamp(program + harness)
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = os.pathsep.join([os.path.join(HARNESS, "classes"),
                                 os.path.join(PROGRAM, "classes"), jars])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _scalac(os.path.join(PROGRAM, "classes"), jars, program)
    _scalac(os.path.join(HARNESS, "classes"),
            os.pathsep.join([os.path.join(PROGRAM, "classes"), jars]), harness)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
    print("build ok")
