"""Build file of the benchmark package: compiles the project's main
sources together with the benchmark harness into one class directory.

The Scala compiler and Spark come from the Spark distribution's jars
directory: `$SPARK_HOME/jars` when SPARK_HOME is set, else the
`unmanagedBase` the project's `build.sbt` compiles against. The build
is skipped when a stamp over every source file's content says the
classes are current.

Usage: python3 perfbench/build.py [build_dir]
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


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    """The project's main sources plus the harness, sorted."""
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                     recursive=True)
    bench = glob.glob(os.path.join(HERE, "scala", "*.scala"))
    return sorted(main) + sorted(bench)


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(build_dir):
    """Compile into `<build_dir>/classes` unless current; returns the
    runtime classpath. Raises RuntimeError when sources or the compiler
    are missing or compilation fails."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise RuntimeError("project sources (src/main/scala) not found")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(build_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise RuntimeError("scalac failed:\n" + res.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(build_dir)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
