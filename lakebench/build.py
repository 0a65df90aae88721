"""Build file of the lake benchmark: compiles the program's sources
(``src/main/scala`` at the repository root) together with the benchmark's
own (``lakebench/src/main/scala``) with the Scala compiler that ships in
Spark's jars, and packs them into ``.bench_build/lakebench.jar``.

The build is skipped when a stamp of every source file's path and content
matches the last successful build. Run ``python3 lakebench/build.py`` to
build by hand; ``run.py`` calls :func:`build` itself.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the repository
    build's own ``unmanagedBase`` (``build.sbt``)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
JAR = os.path.join(OUT, "lakebench.jar")


class BuildError(Exception):
    pass


def classpath():
    return f"{JAR}{os.pathsep}{SPARK_JARS}/*"


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    if not glob.glob(f"{SPARK_JARS}/spark-sql_*.jar"):
        raise BuildError(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_HOME)")
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        files += sorted(glob.glob(f"{top}/**/*.scala", recursive=True))
    return files


def build():
    """Compile and pack if needed; return the jar."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "lakebench.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return JAR
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f in (JAR, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
