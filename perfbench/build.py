"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships among the Spark jars, into .bench_build/perfbench/classes.

Nothing is fetched: the jars of the local Spark installation (with
scala-compiler) are the whole classpath, as for the repository's own
build. A build is skipped when
the sources and the jar set are unchanged since the last one.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "harness")]


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first one
    whose bin/spark-submit is on the PATH and ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with a Scala compiler among its jars; "
                     "set SPARK_HOME")


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: {d} is missing; run from the repository root")
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Return the classes directory, compiling first when out of date."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
