"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes with the Scala compiler that ships in Spark's jar
directory. A content hash of every source file is kept next to the classes,
so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py     (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """Spark's jar directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
    files = sorted(os.path.join(dp, f) for d in SOURCE_DIRS
                   for dp, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit("perfbench: no graft sources to build")
    return files


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if any source changed; returns the run classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", CLASSES, "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
