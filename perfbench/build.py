"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own Scala (perfbench/scala) with the Scala
compiler that ships in Spark's jars, packs them into `.bench_build/graft.jar`
and records a class-data archive of the classes a run loads, which cuts JVM
and session start-up (measured on a 4-core VM: 6-14 s less wall per run).
A stamp of the sources' hash skips the build when nothing changed.

    python3 perfbench/build.py      # prints the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = ".bench_build"


def spark_homes():
    yield os.environ.get("SPARK_HOME")
    if shutil.which("spark-submit"):
        yield os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    try:
        import pyspark
        yield os.path.dirname(pyspark.__file__)
    except ImportError:
        pass


def spark_jars():
    """Spark's jars (they include the Scala compiler): from SPARK_HOME, the
    spark-submit on PATH, or the pyspark package."""
    for home in filter(None, spark_homes()):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jars with a Scala compiler found")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def java_cmd(jar, work, args, extra=()):
    """The benchmark JVM: graft + benchmark jar on Spark's jars, temp files
    inside `work`, and the class-data archive when one was built."""
    archive = os.path.join(os.path.dirname(jar), "graft.jsa")
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", *cds, *extra,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *ADD_OPENS, "-cp", f"{jar}:{os.path.join(spark_jars(), '*')}",
            "graftbench.Main", *args]


def train_archive(base, jar):
    """Records the classes a short ingest run loads into a class-data
    archive (graft.jsa), which cuts JVM and session start of every run."""
    import gen
    work = os.path.join(base, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    gen.gen_ingest(inputs, 0, dict(gen.INGEST, history_days=2, batch_days=8,
                                   rows_per_day=200))
    nproc = str(len(os.sched_getaffinity(0)))
    archive = os.path.join(base, "graft.jsa")
    cmd = java_cmd(jar, work, ["ingest_watermark", inputs, work, "1", "0", "0", nproc,
                               os.path.join(work, "r.json")],
                   [f"-XX:ArchiveClassesAtExit={archive}"])
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       cwd=work, timeout=300)
    except subprocess.TimeoutExpired:
        pass  # runs start without the archive
    if not os.path.exists(os.path.join(work, "r.json")) and os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Returns the benchmark jar, compiling first when needed."""
    jars, srcs = spark_jars(), sources()
    digest = hashlib.sha256(jars.encode())
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    base = os.path.join(ROOT, BUILD)
    jar, stamp = os.path.join(base, "graft.jar"), os.path.join(base, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return jar
    for p in (stamp, jar, os.path.join(base, "graft.jsa")):
        if os.path.exists(p):
            os.remove(p)
    classes = os.path.join(base, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", classes] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    train_archive(base, jar)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return jar


if __name__ == "__main__":
    print(build())
