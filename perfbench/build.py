"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, the same jars `build.sbt` compiles
against. Classes go to `.bench_build/classes` and are packed into
`.bench_build/perfbench.jar` (the JVM's class-data archive takes classes
from jars only); a stamp over every source file skips the compile when
nothing changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles against, else the one beside spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    if shutil.which("spark-submit"):
        cands.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit")))), "jars"))
    for jars in cands:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit(f"no Spark jars in {cands} (set SPARK_HOME)")


def sources(root):
    src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"),
                             recursive=True))
    if not src:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    return src + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def pack(classes, jar):
    """Packs the compiled classes into `jar` (stored, in name order)."""
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(classes) for n in names)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for path in paths:
            z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)


def build(root):
    """Compiles if needed; returns (classpath, stamp)."""
    jars = spark_jars(root)
    files = sources(root)
    digest = stamp(files)
    out = os.path.join(root, ".bench_build", "classes")
    jar = os.path.join(root, ".bench_build", "perfbench.jar")
    stamp_file = os.path.join(root, ".bench_build", "classes.stamp")
    cp = f"{jar}:{jars}/*"
    if os.path.exists(stamp_file) and os.path.exists(jar):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                return cp, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(root, ".bench_build", "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", f"{jars}/*", f"@{args_file}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("compile failed")
    pack(out, jar)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, digest


if __name__ == "__main__":
    print(build(os.getcwd())[0])
