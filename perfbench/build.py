#!/usr/bin/env python3
"""Build graft plus the benchmark harness into perfbench/.build.

Compiles graft's main sources (src/main/scala) and the harness
(perfbench/src) in one scalac pass against the Spark distribution's jars,
which also supply the Scala compiler, and packs them into one jar. A short
tiny-scale run of every workload then records the classes it loads into a
JVM class-data-sharing archive, which takes about 6 s off each later run's
cold start (class loading only; nothing measured after the first set-up
changes). The build is skipped when a stamp of every input still matches.

Usage: python3 perfbench/build.py     (from the repository root or anywhere)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graftbench.jar")
ARCHIVE = os.path.join(BUILD, "graftbench.jsa")
STAMP = os.path.join(BUILD, "stamp")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, else
    found through spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def sources():
    if not os.path.isfile(os.path.join(GRAFT_SRC, "graft", "SparkEntry.scala")):
        raise BuildError(f"graft sources not found under {os.path.relpath(GRAFT_SRC, os.getcwd())}")
    return _files(GRAFT_SRC, ".scala") + _files(HARNESS_SRC, ".scala")


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_command(harness_args, out, train=False):
    """The harness JVM: Spark's JDK 17 module opens, a 3 GiB heap, temporary
    files and logs under `out`, and the class-data archive (recorded when
    `train`, used when present)."""
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if train:
        cmd.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    elif os.path.isfile(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += ["-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={out}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false",
            "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--out", out] + harness_args
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))


def _pack():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in _files(CLASSES):
            z.write(f, os.path.relpath(f, CLASSES))


def _train(log):
    """Records the archive; a failure only costs the speed-up. The JVM's
    own output (a warning per class it cannot archive) goes to train.log."""
    out = os.path.join(BUILD, "train")
    os.makedirs(os.path.join(out, "tmp"))
    cmd, env = java_command(["--workload", "ann_mixed,corpus", "--seed", "1",
                             "--seconds", "1", "--trace", "1", "--scale", "tiny",
                             "--setups", "1"], out, train=True)
    print("[build] recording the class-data archive", file=log, flush=True)
    with open(os.path.join(BUILD, "train.log"), "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, timeout=600)
    shutil.rmtree(out, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build(log=sys.stderr):
    srcs = sources()
    resources = _files(GRAFT_RES) if os.path.isdir(GRAFT_RES) else []
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark distribution does not ship the Scala compiler jars")
    h = hashlib.sha256()
    for f in srcs + resources + compiler:
        h.update(os.path.relpath(f, ROOT).encode())
        if f not in compiler:
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[build] compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, GRAFT_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    _pack()
    _train(log)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[build] {e}")
