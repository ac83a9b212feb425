"""Build the program and the benchmark from source.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution's jars, so no build tool or network is needed,
and packs them into .bench_build/perfbench/perfbench.jar. It then runs a
miniature pass of every workload once with -XX:ArchiveClassesAtExit, so
that every run maps the loaded JVM, Spark and program classes from a
shared archive instead of loading them one by one: that takes about ten
seconds of class loading out of each run's start. A stamp of every
source's content makes a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opts(work, heap):
    """JVM options every benchmark JVM shares (Spark on JDK 17 needs the
    module opens that spark-submit would otherwise add)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["-Xmx" + heap, "-Xss8m", "-Djava.io.tmpdir=" + tmp] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")])


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala "
                         "compiler found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: program sources (src/main/scala) "
                         "are missing")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                             recursive=True))
    return prog + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if any source changed; returns (classpath, JVM options)."""
    jars = spark_jars()
    files = sources()
    cp = JAR + os.pathsep + os.path.join(jars, "*")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return cp, run_opts()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    rc = subprocess.call(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    for res in glob.glob(os.path.join(ROOT, "src/main/resources/*")):
        shutil.copy(res, CLASSES)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, CLASSES))
    shutil.rmtree(CLASSES)
    train(cp)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp, run_opts()


def train(cp):
    """Record the class archive from a miniature pass of the K-Means and
    curation workloads.
    A failed recording only costs start-up time, so it is not fatal."""
    work = os.path.join(OUT, "train")
    print("perfbench: recording the class archive", file=sys.stderr)
    with open(os.path.join(OUT, "train.log"), "w") as log:
        try:
            rc = subprocess.call(
                ["java", "-XX:ArchiveClassesAtExit=" + ARCHIVE] +
                jvm_opts(work, "2g") +
                ["-cp", cp, "perfbench.Main", "--train", "1", "--workload",
                 "train", "--seed", "1", "--seconds", "0", "--work", work],
                cwd=ROOT, stdout=log, stderr=log, timeout=600)
        except subprocess.TimeoutExpired:
            rc = 1
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def run_opts():
    return ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []


if __name__ == "__main__":
    build()
