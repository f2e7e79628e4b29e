"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/perfbench.jar`, with the Scala compiler that ships in
Spark's jar directory. Nothing is downloaded.

The build is skipped when a stamp of every source file's content matches
the last successful build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_sha():
    """Content hash of every compiled source: identifies the code measured
    when the checkout carries no git metadata."""
    return stamp(sources())


def java_cmd(tmp_dir):
    """The JVM launcher with the flags every benchmark JVM shares; Spark 4
    on JDK 17 needs the module openings spark-submit would add."""
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def _jar(classes_dir):
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(classes_dir):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, classes_dir))
    os.replace(JAR + ".tmp", JAR)


def ensure():
    """Build if the sources changed. Raises RuntimeError when the engine
    sources or the compiler are missing, or a build step fails."""
    if not os.path.isdir(ENGINE_SRC):
        raise RuntimeError(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {jars}")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(OUT, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = os.path.join(jars, "*")
    cmd = java_cmd(os.path.join(OUT, "tmp")) + [
           "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    _jar(tmp)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    try:
        ensure()
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
