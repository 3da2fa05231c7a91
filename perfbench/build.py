"""Build file of the graft benchmark.

Compiles the engine (`src/main/scala`, with `src/main/resources`) together
with the benchmark's own sources (`perfbench/src`) into
`.bench_build/classes`, using the Scala 2.13 compiler that ships with the
Spark distribution, so the build needs no dependency resolution. A stamp of
the source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


CLASSPATH = os.path.join(_spark_home(), "jars", "*")
BUILD = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"

# What `spark-submit` passes on JDK 17 (JavaModuleOptions), needed when the
# session is created from a plain `java` launch.
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _files():
    out = []
    for root in SOURCES + [RESOURCES]:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source directory {root}")
        out += [f for f in glob.glob(f"{root}/**/*", recursive=True) if os.path.isfile(f)]
    return sorted(out)


def build():
    """Compiles if the sources changed; returns the runtime classpath."""
    files = _files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    out = os.path.join(BUILD, "classes")
    cp = f"{out}{os.pathsep}{CLASSPATH}"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", CLASSPATH, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", out, "-cp", CLASSPATH, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    shutil.copytree(RESOURCES, out, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    build()
