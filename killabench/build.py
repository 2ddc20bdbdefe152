"""Build file of the killabench package: compiles the engine and the bench.

The engine (`src/main/scala/killa` plus the Spark shim under
`src/main/scala/org`) and the bench sources (`killabench/src`) are compiled
with the Scala compiler that ships in the Spark distribution's `jars/`
directory, so no dependency resolution (and no network) is needed. Each is
packed into a jar named by its content hash under `.bench_build/killabench/`
at the checkout root, so an unchanged tree is never compiled twice.

The build ends by running the bench's self-test once with
-XX:ArchiveClassesAtExit: the resulting class-data-sharing archive lets every
later run load Spark's classes from a memory-mapped archive, which cuts the
JVM and Spark start-up that every run pays in its set-up by several seconds.
A build whose self-test fails is a failed build.

    python3 killabench/build.py        # build (or reuse) and print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "killabench")
ENGINE_DIRS = [os.path.join(ROOT, "src", "main", "scala", "killa"),
               os.path.join(ROOT, "src", "main", "scala", "org")]
BENCH_SRC = os.path.join(BENCH_DIR, "src")


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
SELF_TEST_TIMEOUT_S = 170


class BuildError(Exception):
    pass


def heap():
    """A quarter of the machine's memory, between 1 and 3 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 4 << 20
    return f"{max(1024, min(3072, kb // 4096))}m"


def java_cmd(cp, main, args, cds=None):
    """The command line of a bench JVM; `cds` is ("use"|"dump", archive)."""
    opts = [*ADD_OPENS, f"-Xmx{heap()}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
    if cds and cds[0] == "dump":
        opts.append("-XX:ArchiveClassesAtExit=" + cds[1])
    elif cds:
        opts.append("-XX:SharedArchiveFile=" + cds[1])
    return ["java", *opts, "-cp", cp, main, *args]


def spark_jars():
    """Spark's jars/ directory: $SPARK_HOME, else the spark-submit on PATH,
    else the unmanagedBase the repository's build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            cands += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for jars in cands:
        if os.path.isdir(jars):
            return jars
    raise BuildError("Spark jars not found: set SPARK_HOME")


def scala_sources(dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def content_hash(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _compile(sources, classpath, dest):
    jars = spark_jars()
    compiler_cp = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars))
        if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-")))
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", classpath, "-d", tmp] + sources
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-6000:])
    os.replace(tmp, dest)


def _jar(sources, classpath, jar):
    """Compile `sources` into the jar `jar` unless it exists."""
    if os.path.exists(jar):
        return
    classes = jar[:-len(".jar")]
    _compile(sources, classpath, classes)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)


def _archive(cp, archive):
    """Dump the class-data-sharing archive from one self-test run."""
    if os.path.exists(archive):
        return
    work = os.path.join(OUT, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = archive + ".log"
    try:
        with open(log, "w") as out:
            p = subprocess.run(java_cmd(cp, "killabench.SelfTest", ["--work", work],
                                        ("dump", archive + ".tmp")),
                               stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=SELF_TEST_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("self-test timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(archive + ".tmp"):
        with open(log, errors="replace") as f:
            raise BuildError("self-test failed:\n" + "".join(f.readlines()[-40:]))
    os.replace(archive + ".tmp", archive)


def build():
    """Compile what changed; return (runtime classpath, CDS archive)."""
    engine = scala_sources(ENGINE_DIRS)
    if not any(f.endswith("IndexWriter.scala") for f in engine):
        raise BuildError("engine sources not found under src/main/scala/killa")
    bench = scala_sources([BENCH_SRC])
    if not bench:
        raise BuildError(f"no bench sources under {BENCH_SRC}")
    jars_cp = os.path.join(spark_jars(), "*")
    engine_jar = os.path.join(OUT, "engine-" + content_hash(engine) + ".jar")
    bench_jar = os.path.join(OUT, "bench-" + content_hash(bench, os.path.basename(engine_jar)) + ".jar")
    os.makedirs(OUT, exist_ok=True)
    _jar(engine, jars_cp, engine_jar)
    _jar(bench, os.pathsep.join([jars_cp, engine_jar]), bench_jar)
    cp = os.pathsep.join([bench_jar, engine_jar, jars_cp])
    archive = bench_jar[:-len(".jar")] + ".jsa"
    _archive(cp, archive)
    keep = {os.path.basename(engine_jar)[:-len(".jar")], os.path.basename(archive)[:-len(".jsa")]}
    for f in os.listdir(OUT):
        if f.startswith(("engine-", "bench-")) and f.split(".")[0] not in keep:
            os.remove(os.path.join(OUT, f))
    return cp, archive


if __name__ == "__main__":
    try:
        print("%s\n%s" % build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
