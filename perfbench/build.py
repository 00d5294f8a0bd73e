#!/usr/bin/env python3
"""Builds the benchmark: the program's sources (src/main/scala) and the
benchmark's own (perfbench/src) compiled together with scalac, against
$SPARK_HOME/jars or else the jar directory build.sbt names (unmanagedBase),
and packed in one jar. A short run of one workload then dumps the classes
it loaded into a class-data-sharing archive, which later JVMs map instead
of loading Spark's classes one by one (about 3 s less set-up per run).
Run from the repository root.

    python3 perfbench/build.py          # build (skipped when up to date)
    python3 perfbench/build.py --test   # build, then run the checker tests

Output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench)
and is rebuilt only when a source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]

HERE = os.path.dirname(os.path.abspath(__file__))

# C1 only: with the default tiered compiler the C2 threads compete with the
# measured work for the whole run and spread the figures between runs.
JVM_FLAGS = ["-Xmx2g", "-XX:TieredStopAtLevel=1",
             "-Xlog:disable", "-Xlog:all=warning:stderr"]

# Spark on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            return re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)
    except (OSError, AttributeError):
        sys.exit("perfbench: set SPARK_HOME to the Spark installation to build against")


def scala_files(root, rel):
    out = []
    for d, _, files in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                        "perfbench")


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out] + files
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compilation failed")


def java_command(root, tmp, cores, args, archive_flag=None):
    """The JVM command of one benchmark run, writing only under `tmp`."""
    target = target_dir(root)
    archive = os.path.join(target, "perfbench.jsa")
    if archive_flag is None and os.path.exists(archive):
        archive_flag = f"-XX:SharedArchiveFile={archive}"
    return (["java"] + JVM_FLAGS + ([archive_flag] if archive_flag else [])
            + [f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Dperfbench.cores={cores}"]
            + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", runtime_classpath(root), "perfbench.Main"] + args)


def runtime_classpath(root):
    return (os.path.join(target_dir(root), "perfbench.jar") + os.pathsep
            + os.path.join(spark_jars(root), "*"))


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))


def dump_archive(root):
    """Runs the JDBC workload for a second and archives the classes it
    loaded. Without the archive the benchmark runs as well, only slower to
    start, so a failure here is reported and not fatal.
    """
    base = os.path.join(root, ".bench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="archive-", dir=base)
    archive = os.path.join(target_dir(root), "perfbench.jsa")
    cmd = java_command(root, tmp, 4, [
        "--workload", "ingest_jdbc_multitable", "--seed", "0", "--seconds", "1",
        "--trace", "0", "--tmp", tmp, "--out", tmp],
        archive_flag=f"-XX:ArchiveClassesAtExit={archive}")
    try:
        code = subprocess.run(cmd, cwd=tmp, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=300).returncode
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        print("perfbench: no class-data archive; runs start without it", file=sys.stderr)


def build(root):
    """Compiles if needed; returns the runtime classpath."""
    groups = [scala_files(root, d) for d in SOURCE_DIRS]
    for d, files in zip(SOURCE_DIRS, groups):
        if not files:
            sys.exit(f"perfbench: no Scala sources under {d}; run from the repository root")
    files = [f for g in groups for f in g]
    digest = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    target = target_dir(root)
    classes = os.path.join(target, "classes")
    stamp = os.path.join(target, "stamp")
    jars = spark_jars(root)
    classpath = runtime_classpath(root)
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    shutil.rmtree(target, ignore_errors=True)
    scalac(jars, os.path.join(jars, "*"), classes, files)
    # a class-data archive accepts jars only on the class path
    pack(classes, os.path.join(target, "perfbench.jar"))
    shutil.rmtree(classes)
    dump_archive(root)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath


def test(root):
    classpath = build(root)
    out = os.path.join(target_dir(root), "test-classes")
    shutil.rmtree(out, ignore_errors=True)
    scalac(spark_jars(root), classpath, out, scala_files(root, "perfbench/test"))
    return subprocess.run(["java", "-cp", out + os.pathsep + classpath,
                           "perfbench.CheckersTest"]).returncode


if __name__ == "__main__":
    root = os.getcwd()
    if sys.argv[1:] == ["--test"]:
        sys.exit(test(root))
    build(root)
