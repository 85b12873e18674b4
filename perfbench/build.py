"""Build the program and the benchmark harness into one jar, and train a
class-data-sharing archive for it.

Compiles the repository's main Scala sources together with
`perfbench/src` with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, or the `jars` directory of a Spark whose
`spark-submit` is on the PATH), so the build needs no network and writes
nothing outside the build directory. The classes go into one jar. A
training run (`perfbench.Train`) then dumps the classes a session and a
few small jobs load into a class-data-sharing archive beside the jar,
which takes about four seconds off every run's JVM start on a 4-vCPU
host. A stamp of every source's path and content skips the build when
nothing changed.

    python3 perfbench/build.py [BUILD_DIR]
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
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TRAIN_TIMEOUT_S = 300


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark jar directory with a Scala compiler: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise RuntimeError("program sources not found under src/main/scala")
    if not bench:
        raise RuntimeError("benchmark sources not found under perfbench/src")
    return prog + bench


def classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars in {spark_jars()}")
    return jars


def java(jar, work, *flags):
    """The JVM command line up to the main class: a fixed-size heap of
    `SPARK_DRIVER_MEM` (default 1g), touched in full at start-up, and every
    temporary file under `work`."""
    heap = os.environ.get("SPARK_DRIVER_MEM") or "1g"
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss4m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *flags]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([jar, os.path.join(spark_jars(), "*")])])


def build(build_dir):
    """Build if needed; return the jar and its class-data-sharing archive."""
    srcs = sources()
    jars = classpath()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir, "out")
    jar, archive = os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, archive
    classes = os.path.join(build_dir, "classes.tmp")
    for d in (out, classes):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(build_dir, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs))
    compiler = os.pathsep.join(glob.glob(os.path.join(spark_jars(), f"scala-{m}-*.jar"))[0]
                               for m in ("compiler", "library", "reflect"))
    proc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "@" + args],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    os.makedirs(out)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    # the archive records the jar's path, so training runs on the final jar
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(jar, work, f"-XX:ArchiveClassesAtExit={archive}") + [
        "perfbench.Train", work, os.path.join(HERE, "data", "sf0.001")]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=TRAIN_TIMEOUT_S, cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(archive):
        raise RuntimeError(f"class-data-sharing training failed ({proc.returncode}):\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, archive


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
