"""Builds the engine and the benchmark harness into one class directory.

Compiles the repository's `src/main/scala` together with
`perfbench/scala` with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, the jars `build.sbt` compiles against),
so no build tool or network is needed. The output is keyed by a hash of
every source file: an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py [BUILD_DIR]   (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def die(msg):
    """Exit 2: the benchmark cannot run here."""
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must point at a Spark 4 install")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build(build_dir):
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".source-hash")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [path for name in ("scala-compiler", "scala-library", "scala-reflect")
                for path in glob.glob(os.path.join(jars, f"{name}-2.13.*.jar"))]
    fresh = classes + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", fresh] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("compilation failed")
    with open(os.path.join(fresh, ".source-hash"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
