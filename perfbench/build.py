"""Builds the program and the benchmark harness from source.

The benchmark is its own package: this script compiles the program's
sources (`src/main/scala`) together with `perfbench/harness` into one
class directory under the build directory, with the Scala compiler that
ships among the Spark jars. The Spark jar directory is the one the
program's `build.sbt` declares as `unmanagedBase` (or `$SPARK_HOME/jars`).
A build is reused while no source file changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The Spark jar directory the program builds against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt's unmanagedBase and SPARK_HOME are unset")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build():
    """Compiles if needed; returns the class directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def classpath():
    return build() + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
