#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's library sources (``src/main/scala``) together with the
benchmark harness (``perfbench/src``) into one jar, using the Scala compiler
that ships among Spark's jars, then records a class-data-sharing archive of
a set-up-only run so every benchmark JVM loads those classes from it (this
halves the cold start of a run). A hash over every source file is the build
stamp, so an unchanged tree is not built again.

    python3 perfbench/build.py            # prints the classpath

Spark's jar directory is ``$SPARK_HOME/jars``, else the ``unmanagedBase`` the
repository's ``build.sbt`` declares. Output goes under ``$CARGO_TARGET_DIR``
(default ``.bench_build``) in the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {LIB_SRC}")
    files = []
    for d in (LIB_SRC, BENCH_SRC):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    files.sort()
    if not any(f.startswith(LIB_SRC) for f in files):
        raise BuildError("no library sources to build")
    return files


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_env():
    """The environment for benchmark JVMs: Spark would put its scratch space
    in SPARK_LOCAL_DIRS / LOCAL_DIRS instead of the run's own directory."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def jvm_args(classpath, archive, tmp, heap="2g"):
    """JVM options shared by the archive recording and the benchmark runs."""
    args = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Duser.language=en",
            "-Duser.country=US", "-Dspark.ui.enabled=false"]
    if archive:
        args.append(archive)
    args += [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return args + ["-cp", classpath]


def record_archive(classpath, out, log):
    """Run set-up once with -XX:ArchiveClassesAtExit; failure only costs speed."""
    jsa = os.path.join(out, "classes.jsa")
    work = os.path.join(out, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_args(classpath, f"-XX:ArchiveClassesAtExit={jsa}", os.path.join(work, "tmp")) + [
        "graftbench.Main", "--workload", "snapshot_export", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--work", work, "--cores", "1", "--setup-only", "1"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300,
                           env=jvm_env())
        ok = r.returncode == 0 and os.path.exists(jsa)
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("[perfbench] class-data archive not recorded; runs start cold", file=log)
        if os.path.exists(jsa):
            os.remove(jsa)


def build(log=sys.stderr):
    """Build if the sources changed; return (classpath, JVM archive option, stamp)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "classes.jsa")
    stamp_file = os.path.join(out, "build.stamp")
    classpath = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    def result():
        return classpath, (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else None), stamp
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return result()
    for f in (stamp_file, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    r = subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", classes, "."],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("jar failed:\n" + r.stdout[-2000:])
    shutil.rmtree(classes, ignore_errors=True)
    record_archive(classpath, out, log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return result()


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
