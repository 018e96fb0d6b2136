#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(src/main/scala + src/main/resources) together with the benchmark's own
harness (perfbench/src) into .bench_build/graft-bench.jar with the Scala
compiler that ships in the Spark distribution. No sbt, no network.

It then records a class-data-sharing archive of the classes one short
harness run loads (.bench_build/graft-bench.jsa): every benchmark JVM
maps it instead of loading and verifying Spark's classes from the jars,
which takes seconds off each run's set-up.

A stamp over every source file skips the build when nothing changed.
Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graft-bench.jar")
CDS = os.path.join(BUILD, "graft-bench.jsa")
STAMP = os.path.join(BUILD, "stamp")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
# Spark task threads of a run. The rest of a 4-vCPU machine is left to
# the harness's own threads (planning, the corpus clients), the stream
# generator and the JVM's JIT and GC, so that a run measures the program
# and not the scheduler.
CORES = 2


def spark_jars() -> str:
    """Directory of the Spark distribution's jars: SPARK_HOME, then the
    distribution that holds spark-submit on PATH, then the jars bundled
    with pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources() -> list:
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(BENCH_SRC):
        sys.exit("perfbench: library or benchmark sources missing; "
                 "run from the repository root")
    files = []
    for d in (LIB_SRC, LIB_RES, BENCH_SRC):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def harness_cmd(work: str, cds_flag: str, args: list) -> list:
    """The benchmark JVM: fixed heap, Spark's module opens, temp files
    inside `work`, the harness main with `args`."""
    return (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m", cds_flag]
            + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
               "-Dspark.ui.enabled=false",
               "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
               "perfbench.Harness"] + args)


def record_cds() -> None:
    """One short corpus_refresh run with the archive recorder on."""
    work = os.path.join(BUILD, "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "corpus_refresh", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--work", work, "--out", os.path.join(work, "result.json"),
            "--start-ms", "0", "--cores", str(CORES), "--python", sys.executable,
            "--gen", os.path.join(ROOT, "perfbench", "gen.py"), "--plant-failure", "0"]
    r = subprocess.run(harness_cmd(work, f"-XX:ArchiveClassesAtExit={CDS}", args), cwd=work,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: recording the class-data archive failed")


def build() -> None:
    files = sources()
    h = hashlib.sha256(spark_jars().encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for f in (STAMP, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("perfbench: compile failed")
    if os.path.isdir(LIB_RES):
        shutil.copytree(LIB_RES, CLASSES, dirs_exist_ok=True)
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for dp, _, fs in os.walk(CLASSES):
            for f in fs:
                full = os.path.join(dp, f)
                z.write(full, os.path.relpath(full, CLASSES))
    shutil.rmtree(CLASSES)
    record_cds()
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
