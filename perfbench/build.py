#!/usr/bin/env python3
"""Build file of the deletion-engine benchmark.

Compiles the engine (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, so a build needs no sbt, no network and writes nothing outside
the checkout. Output goes to `<root>/.bench_build/perfbench/`:

    engine.jar, bench.jar, resources.jar   the compiled program
    classes.jsa                            class-data-sharing archive
    *.stamp                                content hash each was built from

A jar is rebuilt only when the hash of its sources changes. After a
rebuild one short training run records the classes it loads into the
archive; every run then maps them instead of loading them from the jars,
which takes several seconds off its start-up (set-up and op times are
measured after start-up either way). Usage:

    python3 perfbench/build.py          # build if stale, print classpath
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
ARCHIVE = os.path.join(OUT, "classes.jsa")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, or that of the first
    `spark-submit` on the PATH whose installation ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Scala compiler in Spark's jars; "
                     "set SPARK_HOME to a Spark installation")


def java_opts(work):
    """JVM flags of every benchmark JVM; all its files go under `work`."""
    # a fixed heap keeps peak RSS from following the collector's resizing;
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    return [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work}/derby.log",
        f"-Dgraft.audit.dir={work}/logs",
        "-Dspark.ui.enabled=false",
        "-Duser.timezone=UTC"]


def new_work_dir(name):
    work = os.path.join(OUT, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def java_env(work):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    env.pop("SPARK_CONF_DIR", None)
    return env


def sources(tree, suffix=".scala"):
    found = []
    for d, _, files in os.walk(tree):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def fresh(name, stamp_value):
    stamp = os.path.join(OUT, name + ".stamp")
    if not os.path.exists(stamp):
        return False
    with open(stamp) as f:
        return f.read() == stamp_value


def mark(name, stamp_value):
    with open(os.path.join(OUT, name + ".stamp"), "w") as f:
        f.write(stamp_value)


def jar(src_dir, dest):
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for p in sources(src_dir, suffix=""):
            z.write(p, os.path.relpath(p, src_dir))
    os.replace(tmp, dest)


def compile_jar(name, srcs, classpath, stamp_value):
    dest = os.path.join(OUT, name + ".jar")
    if os.path.exists(dest) and fresh(name, stamp_value):
        return dest
    if not srcs:
        raise SystemExit(f"perfbench: no sources to build {name}")
    classes = os.path.join(OUT, name + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath, "@" + argfile]
    sys.stderr.write(f"perfbench: compiling {name} ({len(srcs)} files)\n")
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode:
        raise SystemExit(f"perfbench: compiling {name} failed")
    jar(classes, dest)
    shutil.rmtree(classes)
    mark(name, stamp_value)
    return dest


def train_archive(classpath, stamp_value):
    """Record the classes a short Hive run loads into the sharing archive
    (the Hive workload loads the largest set; the others load the rest
    from the jars as usual).
    """
    if os.path.exists(ARCHIVE) and fresh("classes", stamp_value):
        return
    sys.stderr.write("perfbench: recording the class-data-sharing archive\n")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = new_work_dir("training")
    cmd = (["java"] + java_opts(work) +
           [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", classpath,
            "perfbench.Main", "--workload", "hive_retention_purge",
            "--seed", "0", "--seconds", "0", "--trace", "0", "--work", work])
    try:
        r = subprocess.run(cmd, cwd=work, env=java_env(work),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=600)
        ok = r.returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # without an archive every run still works, only its start is slower
    if ok and os.path.exists(ARCHIVE):
        mark("classes", stamp_value)


def sharing_flags():
    """JVM flags that map the class-data-sharing archive, if there is one.
    An archive that does not match the jars fails validation and is
    ignored.
    """
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def build():
    """Build what is stale; return the classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources missing at {ENGINE_SRC}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine_srcs = sources(ENGINE_SRC)
        engine_stamp = digest(engine_srcs)
        engine = compile_jar("engine", engine_srcs, jars, engine_stamp)
        bench_srcs = sources(BENCH_SRC)
        bench_stamp = digest(bench_srcs, engine_stamp)
        bench = compile_jar("bench", bench_srcs,
                            os.pathsep.join([engine, jars]), bench_stamp)
        res_files = sources(ENGINE_RES, suffix="")
        res_stamp = digest(res_files)
        resources = os.path.join(OUT, "resources.jar")
        if not (os.path.exists(resources) and fresh("resources", res_stamp)):
            jar(ENGINE_RES, resources)
            mark("resources", res_stamp)
        classpath = os.pathsep.join([bench, engine, resources, jars])
        train_archive(classpath, digest([], bench_stamp + res_stamp))
    return classpath


if __name__ == "__main__":
    print(build())
