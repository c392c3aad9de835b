"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's Scala main (perfbench/scala) into one class directory with
the Scala compiler that ships in the Spark distribution. Rebuilds only when a
source file changed.

    python3 perfbench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler; set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no program sources under {prog}")
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Returns the class directory, compiling first if sources changed."""
    jars, files = spark_jars(), sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.pathsep.join(glob.glob(os.path.join(jars, n))[0] for n in
                         ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
