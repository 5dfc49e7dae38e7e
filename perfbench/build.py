"""Build file of the benchmark: compiles the program's Scala sources and
the benchmark's own JVM side into one jar with the Scala compiler that
ships in the Spark distribution's jars, and records a class-data-sharing
archive from a short training run so every timed JVM starts from
pre-parsed classes.

Everything lands in `<checkout>/.bench_build/build-<hash>`, keyed by a
hash of every source file and of this file, so an unchanged tree is
built once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

import datagen

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# no hsperfdata files outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        sys.exit(f"no Spark jars under {SPARK_JARS}")
    return jars


def sources(root):
    here = os.path.dirname(os.path.abspath(__file__))
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(here, "src")]
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def heap_size():
    """Half the host's memory in GiB, clamped to 2..8 (the test suite's
    rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_command(build, work, args, archive="use"):
    """The benchmark JVM: heap size, the JDK 17 module opens Spark needs,
    scratch files under `work`, the class-data archive."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    jsa = os.path.join(build, "app.jsa")
    cds = ([f"-XX:ArchiveClassesAtExit={jsa}"] if archive == "record" else
           [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cp = ":".join([os.path.join(build, "app.jar")] + spark_classpath())
    return (["java", NO_PERF_DATA, f"-Xmx{heap_size()}"] + opens + cds +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
             "perfbench.Main"] + args)


def ensure(root):
    """Return the build directory for the current sources and this file
    (app.jar, app.jsa), building it first when absent. Exits non-zero
    when the program is not there or does not compile."""
    root = os.path.abspath(root)
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main")) for s in srcs):
        sys.exit("program sources not found under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)  # an interrupted earlier build
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = ":".join(spark_classpath())
    res = subprocess.run(
        ["java", NO_PERF_DATA, "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit("compilation failed")
    subprocess.run(["jar", "-J" + NO_PERF_DATA, "cf", os.path.join(out, "app.jar"),
                    "-C", classes, "."], check=True, timeout=120)
    shutil.rmtree(classes)
    train(out)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def train(build):
    """Record the class-data archive from one small pass over the trained
    workloads. Without it the timed runs still work, only start slower."""
    work = os.path.join(build, "train")
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    datagen.generate(data, 0, 4_000, 730)
    args = ["--workload", "train:weekly_increment,dashboard", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--data", data, "--work", work, "--out", "-",
            "--first-day", str(datagen.FIRST_DAY), "--days", "730",
            "--launched-ms", "0"]
    jsa = os.path.join(build, "app.jsa")
    try:
        res = subprocess.run(java_command(build, work, args, archive="record"),
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             timeout=300)
        ok = res.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(jsa):
        os.remove(jsa)
