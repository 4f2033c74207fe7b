#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in Spark's jars directory. Output goes to
$CARGO_TARGET_DIR (default .bench_build) under the checkout; a digest of
every source file decides whether a rebuild is needed.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [x for p in _OPENS for x in ("--add-opens",
                                        f"java.base/{p}=ALL-UNNAMED")] + [
    "-Xmx3g", "-XX:+UseG1GC",
    # ~50 distinct queries overflow the default JIT code cache
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
]


def out_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is unset and spark-submit is not "
                             "on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {home}/jars")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"engine sources not found: {main}")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"),
                            recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                            recursive=True))


def source_digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in spark_jars():
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build(root):
    """Compile if the sources changed; return the runtime classpath."""
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    jars = spark_jars()
    classpath = os.pathsep.join([classes] + jars)
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA_VERSION}.jar",
        f"scala-library-{SCALA_VERSION}.jar",
        f"scala-reflect-{SCALA_VERSION}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"Scala {SCALA_VERSION} compiler jars not found")
    print(f"[perfbench] compiling {len(sources(root))} sources",
          file=sys.stderr, flush=True)
    rc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
         "-cp", os.pathsep.join(jars), "-d", classes] + sources(root),
        stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"compile failed (exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


if __name__ == "__main__":
    build(os.getcwd())
