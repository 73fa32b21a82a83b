"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's JVM client
(`perfbench/src`) with the Scala compiler that ships in Spark's own jar
directory, so building needs nothing but a JDK and Spark. Output goes to `.bench_build/classes`; a build
is skipped while the sources and the jar set are unchanged.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"perfbench: engine sources not found at {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    return found + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
                        for m in ("compiler", "library", "reflect"))
    subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs,
        check=True, stdout=sys.stderr)
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
