"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) with the Scala compiler that ships in Spark's jars,
and packs the classes and the program's resources into one jar.

The output is cached under the build directory and keyed by a hash of
every source file and the jar list, so only the first run in a checkout
builds. Run directly to build: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")

# The options the sbt build gives forked runs: Spark on JDK 17 needs these
# opens when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
# A fixed heap and young generation: G1's adaptive sizing otherwise moves
# the resident set by a quarter from run to run, which would hide a real
# change in peak_rss_mb.
# No hsperfdata file: a run writes nothing outside its checkout.
JVM_ARGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn640m", "-Xss8m", "-XX:-UsePerfData"] + [
    a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"program sources not found under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    return program + bench


def source_hash():
    """Hash of the program and benchmark sources, stamped on every record."""
    h = hashlib.sha256()
    for path in _sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _jar(classes, resources):
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for base in (classes, resources):
            for d, _, files in os.walk(base):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, base))
    os.replace(tmp, JAR)


def build():
    """Build if the sources changed; returns the `java` command prefix a
    benchmark JVM runs with (options and classpath)."""
    jars = spark_jars()
    srcs = _sources()
    key = hashlib.sha256("\n".join([source_hash()] + jars + JVM_ARGS).encode()).hexdigest()
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        if len(compiler) != 3:
            raise BuildError("scala-compiler, scala-library and scala-reflect jars "
                             "not found among Spark's jars")
        classes = os.path.join(BUILD_DIR, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(BUILD_DIR, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars), "-nowarn"]
                              + srcs))
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        res = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        _jar(classes, os.path.join(ROOT, "src", "main", "resources"))
        with open(stamp, "w") as f:
            f.write(key)
    return ["java"] + JVM_ARGS + ["-cp", os.pathsep.join([JAR] + jars)]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
