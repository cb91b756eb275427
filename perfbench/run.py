#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, then run one
workload of the benchmark.

    python3 perfbench/run.py --workload etl_interactive --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --test        # the harness's own tests

Run from the repository root. The engine (src/main/scala) and the harness
(perfbench/src) are compiled with the Scala compiler that ships with Spark
into jars under .bench_build/, and rebuilt only when a source file changes.
Spark is taken from $SPARK_HOME, else from the spark-submit on the PATH. The
first run after a
build also dumps a class-data-sharing archive of the classes it loaded, which
later runs map instead of loading them again. The harness prints every
metric and, as the last line of standard output, one JSON result.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_JAR = os.path.join(BUILD, "engine.jar")
HARNESS_JAR = os.path.join(BUILD, "harness.jar")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 needs these when the session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def scalac(jars, classpath, jar_path, files):
    """Compile `files` against `classpath` into the jar `jar_path`."""
    def jar(name):
        found = glob.glob(os.path.join(jars, f"{name}-2.13.*.jar"))
        if not found:
            fail(f"{name} 2.13 not found under {jars}")
        return found[0]

    compiler_cp = os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    out = jar_path[:-len(".jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", out, "@" + args_file]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compilation into {out} failed")
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar_path, "w") as z:
        for d, _, names in os.walk(out):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    shutil.rmtree(out)


def build():
    """Compile the engine, then the harness against it, unless unchanged."""
    engine = sources(ENGINE_SRC)
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}")
    harness = sources(os.path.join(BENCH, "src"))
    digest = hashlib.sha256()
    for path in engine + harness + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    jars = spark_jars()
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return jars
    os.makedirs(BUILD, exist_ok=True)
    for stale in (stamp, CDS_ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    spark_cp = os.path.join(jars, "*")
    scalac(jars, spark_cp, ENGINE_JAR, engine)
    scalac(jars, os.pathsep.join([ENGINE_JAR, spark_cp]), HARNESS_JAR, harness)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return jars


def java(jars, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([HARNESS_JAR, ENGINE_JAR, os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(CDS_ARCHIVE) else "-XX:ArchiveClassesAtExit=") + CDS_ARCHIVE
    # a fixed heap and the parallel collector keep run-to-run timings steady;
    # JVM log lines go to stderr so the result stays the last line of stdout
    cmd = ["java", *opens, cds, "-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData",
           "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", cp, main, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")


def main(argv):
    jars = build()
    if argv == ["--test"]:
        sys.exit(java(jars, "perfbench.HarnessTests", []))
    sys.exit(java(jars, "perfbench.Main", argv))


if __name__ == "__main__":
    main(sys.argv[1:])
