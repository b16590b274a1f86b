"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own sources (perfbench/src) into perfbench/.build
with the Scala compiler that ships among Spark's jars. A stamp of the source
contents skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    """Spark's jars (they include the Scala compiler): $SPARK_HOME/jars, else
    the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build():
    srcs = sources()
    cp = classpath()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    if os.path.exists(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", CLASSES, "-classpath", cp] + srcs
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {done.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
