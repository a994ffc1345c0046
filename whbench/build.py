"""Builds the program and the benchmark harness for whbench/run.py.

The program (src/main/scala) and the harness (whbench/src) are compiled
together with the Scala compiler that ships in the Spark distribution's jars,
against those same jars, into .bench_build/whbench/<source hash>/classes. A
build is reused while no source file changes.
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 needs these outside spark-submit (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars directory, from SPARK_HOME or from
    spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return None


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + harness


def resources(root):
    base = os.path.join(root, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**/*"), recursive=True)
                  if os.path.isfile(p))


def source_hash(root, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for p in sources(root) + resources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(root, out, jars):
    """Compile unless a build of the same sources exists; returns the classes dir."""
    os.makedirs(out, exist_ok=True)
    target = os.path.join(out, source_hash(root, jars))
    classes = os.path.join(target, "classes")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(target, "ok")):
            return classes
        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(target, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources(root)) + "\n")
        print(f"whbench: compiling {len(sources(root))} sources into {classes}", file=sys.stderr)
        cp = os.path.join(jars, "*")
        proc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile],
            stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.exit(f"whbench: compilation failed ({proc.returncode})")
        base = os.path.join(root, "src/main/resources")
        for p in resources(root):
            dest = os.path.join(classes, os.path.relpath(p, base))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(p, dest)
        open(os.path.join(target, "ok"), "w").close()
    return classes


def java_command(classes, jars, work):
    """The JVM command line, up to (not including) the main class."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no perf-data file: the JVM would otherwise write one under /tmp
    return ["java", *opens, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")])]
