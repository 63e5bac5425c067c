"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM driver
(`perfbench/src`) into one class directory, with the Scala compiler and the
Spark jars that ship with the Spark installation (`$SPARK_HOME/jars`, or
the installation that `spark-submit` on PATH belongs to). No dependency is
fetched.

The output goes to `$CARGO_TARGET_DIR/classes` (default `.bench_build`,
relative to the checkout root) and is rebuilt only when a source file
changes.

    python3 perfbench/build.py      # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark installation whose
    `bin/spark-submit` is on PATH and that ships the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with Scala "
                     f"{SCALA_VERSION} jars; set SPARK_HOME")


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        out += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(root):
    return os.path.join(target_dir(root), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def ensure_built(root, log=sys.stderr):
    """Compile if any source changed; return the run-time classpath."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "EtlMain.scala")):
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    files = sources(root)
    tgt = target_dir(root)
    out = os.path.join(tgt, "classes")
    stamp = os.path.join(tgt, "classes.stamp")
    fp = fingerprint(files)
    if os.path.isdir(out) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return classpath(root)
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"perfbench: Scala compiler jars not found: {missing}")
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(tgt, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    tmp = os.path.join(tgt, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=log)
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return classpath(root)


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
