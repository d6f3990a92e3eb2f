"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) from source into one jar, with the Scala
compiler that ships in the Spark distribution, then records a class-data
sharing archive of the classes a short run loads, so every benchmark JVM
starts without parsing Spark's classes again.

    python3 perfbench/build.py        # prints the jar path

The jar name carries a digest of every source file, so a checkout
rebuilds only when its sources change, and a jar is never rewritten: a
run reads its own immutable copy of the compiled classes, whatever a
concurrent `sbt compile` does to target/. Everything is written under
.bench_build/ at the repository root.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
SOURCE_DIRS = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_home():
    """The Spark distribution whose jars the engine compiles and runs
    against: SPARK_HOME, else the first distribution on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), None)


def sources():
    out = []
    for top in SOURCE_DIRS:
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def classpath(jar):
    return f"{jar}:{os.path.join(spark_home(), 'jars', '*')}"


def java_cmd(jar, run_dir):
    """The JVM command line up to the main class; uses the class-data
    archive when one was recorded for this jar and class path."""
    jsa = jar + ".jsa"
    cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return (["java"] + JVM_OPTS + cds +
            [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
             "-cp", classpath(jar), "perfbench.Main"])


def record_archive(jar, log):
    """Runs one short cascade with -XX:ArchiveClassesAtExit. A failure
    only costs start-up time, so it is reported and ignored."""
    run = os.path.join(BUILD, f"archive-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        cmd = java_cmd(jar, run)
        cmd.insert(1, f"-XX:ArchiveClassesAtExit={jar}.jsa.part")
        cmd += ["--workload", "cascade", "--seed", "0", "--seconds", "1", "--trace", "0",
                "--setup-reps", "1", "--run-dir", run, "--out", os.path.join(run, "r.json")]
        with open(os.path.join(BUILD, "archive.log"), "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=out, cwd=run, timeout=300)
        if r.returncode == 0 and os.path.exists(jar + ".jsa.part"):
            os.replace(jar + ".jsa.part", jar + ".jsa")
        else:
            print(f"[perfbench] no class-data archive (exit {r.returncode})", file=log)
    except subprocess.TimeoutExpired:
        print("[perfbench] no class-data archive (timed out)", file=log)
    finally:
        shutil.rmtree(run, ignore_errors=True)
        if os.path.exists(jar + ".jsa.part"):
            os.remove(jar + ".jsa.part")


def build(log=sys.stderr):
    """Returns the path of the jar, compiling it first if needed."""
    home = spark_home()
    if home is None:
        raise RuntimeError("no Spark distribution found (set SPARK_HOME)")
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise RuntimeError(f"engine sources missing: {SOURCE_DIRS[0]}")
    jars = os.path.join(home, "jars")
    files = sources()
    jar = os.path.join(BUILD, f"perfbench-{digest(files, jars)}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, f"build-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(os.path.join(tmp, "tmp"))
    os.makedirs(classes)
    try:
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        print(f"[perfbench] compiling {len(files)} files", file=log, flush=True)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}/tmp",
             "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
            check=True, stdout=log, stderr=log)
        part = jar + ".part"
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, names in os.walk(classes):
                for n in names:
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
        os.replace(part, jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("[perfbench] recording the class-data archive", file=log, flush=True)
    record_archive(jar, log)
    for old in os.listdir(BUILD):  # builds of other sources
        if old.startswith("perfbench-") and not old.startswith(os.path.basename(jar)):
            os.remove(os.path.join(BUILD, old))
    return jar


if __name__ == "__main__":
    print(build())
