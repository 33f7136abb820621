"""Builds the benchmark from source.

Compiles the engine (``src/main/scala``) and the benchmark
(``wikibench/src``) with the Scala compiler that ships in Spark's jar
directory, packs each as a jar, and archives the classes a session start
loads (class-data sharing), which halves JVM start-up.

Everything is written under ``.bench_build/wikibench`` of the checkout. A
build whose sources and Spark jars are unchanged is reused.

    python3 wikibench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "wikibench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "wikibench", "src")
LOG_CONF = os.path.join(ROOT, "wikibench", "conf", "log4j2.properties")

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (the list spark-submit passes; the repo's build.sbt carries the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars_dir = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars_dir):
        raise BuildError("no Spark jar directory found (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def scala_sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not found:
        raise BuildError(f"no Scala sources under {top}")
    return sorted(found)


def jvm_options(work):
    """Options every benchmark JVM starts with."""
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Xmx3g",
        # C1 only: a run lasts about a minute, so every call falls in the
        # JVM's first minute of compilation, and C2's background compile
        # bursts competed with the task threads for the cores (see README)
        "-XX:TieredStopAtLevel=1",
        # C1 alone gets the 48 MiB code cache of a non-tiered JVM, and the
        # classes Spark generates per query filled it in some runs: the
        # JVM then disabled its compiler and a task failed with "Out of
        # space in CodeCache for adapters". The tiered default size:
        "-XX:ReservedCodeCacheSize=240m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j.configurationFile={LOG_CONF}",
        "-Dspark.sql.session.timeZone=UTC",
    ]


def classpath():
    return os.pathsep.join([os.path.join(OUT, "wikibench.jar"),
                            os.path.join(OUT, "engine.jar")] + spark_jars())


def archive():
    return os.path.join(OUT, "session.jsa")


def _stamp(sources, jars):
    h = hashlib.sha256()
    # this file too: it holds the JVM options the archive is made with
    for path in sources + [LOG_CONF, os.path.abspath(__file__)]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(f"{j}:{os.path.getsize(j)}".encode())
    return h.hexdigest()


def _compile(jars, sources, extra_cp, dest):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.pathsep.join(extra_cp + jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", cp, "@" + args_file]
    if subprocess.run(cmd).returncode != 0:
        raise BuildError(f"compiling {len(sources)} sources into {dest} failed")


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def build():
    """Builds if needed; returns the classpath the benchmark runs with."""
    jars = spark_jars()
    engine, bench = scala_sources(ENGINE_SRC), scala_sources(BENCH_SRC)
    stamp = _stamp(engine + bench, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    classes = os.path.join(OUT, "classes")
    _compile(jars, engine, [], os.path.join(classes, "engine"))
    _compile(jars, bench, [os.path.join(classes, "engine")],
             os.path.join(classes, "wikibench"))
    _jar(os.path.join(classes, "engine"), os.path.join(OUT, "engine.jar"))
    _jar(os.path.join(classes, "wikibench"), os.path.join(OUT, "wikibench.jar"))
    shutil.rmtree(classes)
    work = os.path.join(OUT, "cds-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if os.path.exists(archive()):
        os.remove(archive())
    cmd = (["java"] + jvm_options(work) +
           [f"-XX:ArchiveClassesAtExit={archive()}", "-cp", classpath(),
            "wikibench.Main", "--workload", "cds", "--seed", "0",
            "--seconds", "0", "--work", work])
    done = subprocess.run(cmd, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if done.returncode != 0:
        raise BuildError("class-data-sharing training run failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"wikibench build: {e}")
