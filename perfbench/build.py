"""Build file of the benchmark.

Compiles the repository's Scala sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src/main/scala`) into `<build dir>/classes`,
using the Scala compiler and the Spark jars of the Spark distribution
(`$SPARK_HOME/jars`). A digest of every source file is kept next to the
classes, so an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the Spark whose
    spark-submit is on PATH, else the jars of the installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def compiler_classpath():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), f"{name}-2.13.*.jar")))
        if not found:
            raise BuildError(f"no {name} jar in {spark_jars()}")
        jars.append(found[-1])
    return jars


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildError(f"source directory missing: {', '.join(missing)}")
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise BuildError("no program sources under src/main/scala")
    return sorted(files)


def digest(files, compiler):
    h = hashlib.sha256()
    for f in files + compiler:
        h.update(os.path.relpath(f, ROOT).encode())
        if f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Returns (classes_dir, source_digest), compiling when sources changed."""
    files = sources()
    compiler = compiler_classpath()
    want = digest(files, compiler)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read().strip() == want:
        return classes, want
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return classes, want


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out)[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
