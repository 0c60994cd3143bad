"""Build file of the benchmark: compiles the repo's product sources and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution's jar directory, packs each into a jar under
`.bench_build/perfbench/`, and dumps a class-data-sharing archive of one short
benchmark run, so that every measured JVM starts from the same loaded-class
state. Each step is skipped while a content hash of its inputs is unchanged.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
ARCHIVE = os.path.join(OUT, "classes.jsa")

# What `spark-submit` passes on JDK 17 (the repo's build.sbt lists the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repo build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java(classpath, main, args, flags=()):
    """The command line of one benchmark JVM."""
    return (["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
             "-Dspark.callstack.depth=60"]
            + list(flags)
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", classpath, main] + list(args))


def scalac(jars, classpath, files, jar):
    lib = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
           if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n)]
    if len(lib) != 3:
        raise BuildError("Scala 2.13 compiler jars not found in " + jars)
    classes = jar[:-len(".jar")]
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(lib),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", classes] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w") as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def step(key, target, make):
    """Run `make` unless `target` was made from the same `key`. The stamp is
    written only after `make` returns, so a failed step is retried."""
    stamp = target + ".stamp"
    if (os.path.exists(stamp) and open(stamp).read() == key
            and os.path.exists(target)):
        return
    for p in (stamp, target):
        if os.path.exists(p):
            os.remove(p)
    make()
    with open(stamp, "w") as fh:
        fh.write(key)


def dump_archive(classpath):
    """Class-data-sharing archive of the classes one ep1_backfill run loads.
    Every measured JVM maps it, so set-up time is always measured with it; a
    failed dump fails the build rather than leave later runs without it."""
    work = os.path.join(OUT, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "ep1_backfill", "--seed", "0", "--seconds", "60",
            "--trace", "0", "--work", work,
            "--launched", str(int(time.time() * 1000)),
            "--out", os.path.join(work, "result.json")]
    flags = ["-XX:ArchiveClassesAtExit=" + ARCHIVE,
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    try:
        r = subprocess.run(java(classpath, "perfbench.Main", args, flags), cwd=work,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=600)
        error = None if r.returncode == 0 else "exit code %d:\n%s" % (
            r.returncode, r.stdout[-3000:])
    except subprocess.TimeoutExpired:
        error = "timed out after 600 s"
    shutil.rmtree(work, ignore_errors=True)
    if error is None and not os.path.exists(ARCHIVE):
        error = "no archive written"
    if error is not None:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        raise BuildError("class-data-sharing archive dump failed: " + error)


def build():
    """Compile (or reuse) both jars and the archive; return the classpath."""
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    os.makedirs(OUT, exist_ok=True)
    product = sources(PRODUCT_SRC)
    bench = sources(BENCH_SRC)
    if not product or not bench:
        raise BuildError("no Scala sources under src/main/scala and perfbench/src")
    pjar = os.path.join(OUT, "product.jar")
    bjar = os.path.join(OUT, "bench.jar")
    pkey = digest(product, jars)
    bkey = digest(bench, pkey)
    step(pkey, pjar, lambda: scalac(jars, spark_cp, product, pjar))
    step(bkey, bjar, lambda: scalac(jars, os.pathsep.join([pjar, spark_cp]), bench, bjar))
    classpath = os.pathsep.join([bjar, pjar, spark_cp])
    step(bkey, ARCHIVE, lambda: dump_archive(classpath))
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
