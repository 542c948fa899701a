"""Build file of the benchmark: compiles the engine (`src/main/scala`), then
the harness (`perfbench/scala`) against it, with scalac from Spark's jars.

The Scala 2.13 compiler ships in Spark's own jar directory, so the build needs
no dependency resolution and writes only to its output directory. Each of the
two class directories is reused while a hash of its inputs is unchanged, so a
change to the harness alone does not recompile the engine.

    python3 perfbench/build.py        # prints the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one found
    next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark jars found; set SPARK_HOME")


def sources(d):
    files = []
    for dirpath, _, names in os.walk(d):
        files += [os.path.join(dirpath, n) for n in names
                  if n.endswith(".scala")]
    return sorted(files)


def compile_once(name, files, classpath, salt):
    """Compiles `files` into OUT/<name> unless a hash of them, `salt` and
    the class path is unchanged; returns (classes directory, hash)."""
    h = hashlib.sha256((salt + os.pathsep.join(classpath)).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, name)
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath[-1],
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac ({name}) failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def build():
    """Compiles what changed; returns the class path entries the harness
    runs with (harness classes, engine classes), Spark's jars excluded."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    jars = os.path.join(spark_jars(), "*")
    engine, stamp = compile_once("engine", sources(ENGINE_SRC), [jars], "")
    harness, _ = compile_once("harness", sources(HARNESS_SRC),
                              [engine, jars], stamp)
    return [harness, engine]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
