"""Build file of the benchmark: compiles the engine sources
(``src/main/scala``) together with the benchmark's own JVM code
(``perfbench/jvm``) into ``<build dir>/classes`` with the Scala compiler
that ships in Spark's jar directory (``$SPARK_HOME/jars``). A stamp of the
sources' hash skips the compile when nothing changed.

Usage: ``python3 perfbench/build.py [build_dir]`` from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home() -> str:
    """SPARK_HOME, or the install that the spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 install")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources(root: str) -> list:
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(root, "perfbench/jvm/*.scala")))


def classpath(build_dir: str) -> str:
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(root: str, build_dir: str) -> str:
    """Compile if the sources changed; returns the classpath to run with."""
    build_dir = os.path.abspath(build_dir)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(build_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
           "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=build_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath(build_dir)


if __name__ == "__main__":
    print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
