"""Build file of the benchmark harness: compiles graft's sources together
with perfbench/src/*.scala using the Scala compiler that ships in the Spark
distribution's jars, the same jars build.sbt compiles against (no sbt, no
network), and copies graft's resources (the DataSourceRegister service file)
next to the classes, as sbt packages them. Skips the build when neither the
sources, the resources nor the compiler changed since the last build.

usage: build.py            (prints the runtime classpath)
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
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    return engine + sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))


def resources():
    return sorted(f for f in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256()
    for f in files + resources() + sorted(glob.glob(os.path.join(SPARK_JARS, "scala-*.jar"))):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the classpath to run the harness with."""
    files = sources()
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}:{SPARK_JARS}/*"
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    log = os.path.join(OUT, "compile.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["java", "-Xmx3g", "-Xss8m", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", f"{SPARK_JARS}/*"] + files,
            stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build: scalac failed (exit {rc}), see {log}")
    for f in resources():
        dst = os.path.join(classes, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
