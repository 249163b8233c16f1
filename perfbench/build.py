"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`perfbench/src`) into one class directory, using the
Scala compiler that ships in Spark's `jars/` directory. No sbt, no network.

The output is keyed by a hash of every source file, so an unchanged tree is
built once per build directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the first Spark install on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(engine) for f in found):
        raise BuildError(f"engine sources not found under {engine}")
    return sorted(found)


def build(build_dir):
    """Returns the class directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars under {jars}")
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(SCALAC_OPTS + [
            "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs))
    log = os.path.join(build_dir, "scalac.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp",
             ":".join(c[0] for c in compiler), "scala.tools.nsc.Main",
             "@" + argfile], stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            raise BuildError("scalac failed:\n" + fh.read()[-4000:])
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes
