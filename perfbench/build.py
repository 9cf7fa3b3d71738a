"""Build file of the benchmark's JVM side.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (perfbench/src) using the Scala compiler that ships in the Spark
jars directory ($SPARK_HOME/jars, else the `unmanagedBase` of build.sbt),
the same jars build.sbt compiles against. No sbt and no dependency
resolution are needed.
The classes and src/main/resources are packed into app.jar, and one tiny
extract run dumps a class-data-sharing archive (app.jsa) of every class it
loaded, which cuts each later JVM's Spark start-up by several seconds.

The output lands in .bench_build/build-<hash of every source>, so a
checkout builds once and later runs reuse it.

    python3 perfbench/build.py     # prints the build directory
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


def tables(scale):
    """The engine's seed-42 sf test tables the curate workload reads, kept
    as copies in perfbench/data: sf0.01 at full scale, sf0.001 when tiny."""
    return os.path.join(HERE, "data", "sf0.001" if scale == "tiny" else "sf0.01")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise SystemExit("perfbench: no MemTotal in /proc/meminfo")


def heap_gb():
    """The Tier-1 rule: half of MemTotal, clamped to 2-8 GiB."""
    return min(8, max(2, mem_total_kb() // 2097152))


def jvm(out, work, args, dump=False):
    """The command that runs perfbench.Main from build directory `out`, with
    G1, the host-sized heap and the class-data-sharing archive (written by
    this run when `dump`). The class path lists every jar explicitly, in the
    same order each time, as the archive requires."""
    archive = os.path.join(out, "app.jsa")
    cp = [os.path.join(out, "app.jar")] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return [java(), *ADD_OPENS, f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            ("-XX:ArchiveClassesAtExit=" if dump else "-XX:SharedArchiveFile=") + archive,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "perfbench.Main", "--work", work, *args]


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + own


def build():
    """Returns the classes directory, compiling first when it is missing."""
    srcs = sources()
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: no Scala compiler in {spark_jars()}")
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)] + [os.path.basename(c) for c in compiler]:
        digest.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                digest.update(f.read())
    # the hash covers this file too: it holds the compiler and JVM flags
    out = os.path.join(ROOT, ".bench_build", "build-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", classes, "@" + argfile]
    subprocess.run(cmd, check=True, timeout=600, stdout=sys.stderr)
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w") as jar:
        for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
            for d, _, files in os.walk(base):
                for name in files:
                    path = os.path.join(d, name)
                    jar.write(path, os.path.relpath(path, base))
    shutil.rmtree(classes)
    work = os.path.join(out, "cds-work")
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(jvm(out, work, ["--workload", "extract", "--seed", "0", "--seconds", "1",
                                   "--scale", "tiny", "--tables", tables("tiny"),
                                   "--out", os.path.join(work, "out.json")],
                       dump=True), check=True, timeout=240, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
