#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark
(`perfbench/src`, `perfbench/test`) with the Scala compiler that ships in
the Spark distribution, so no build tool, network or dependency cache is
needed, and packs the classes with the program's resources into
`perfbench.jar`. It then runs the self-test once with
`-XX:ArchiveClassesAtExit` to write a class-data-sharing archive
(`app.jsa`), which cuts each benchmark JVM's class-loading time; a run
without the archive is slower to start but otherwise the same. A build is
skipped when a stamp of every source file's bytes still matches.

    python3 perfbench/build.py [BUILD_DIR]

BUILD_DIR defaults to `$CARGO_TARGET_DIR`, else `.bench_build`, relative to
the repository root. Prints the jar's path.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the directory the program's own sbt build
    takes its Spark jars from (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


JARS = spark_jars()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}/ "
                         "(run from a full checkout of the repository)")
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "test")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(JARS))).encode())
    return h.hexdigest()


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(jar, scratch, main, args, cds_flag):
    """The JVM command line every benchmark and self-test run uses: the
    JVM's default tiered JIT, as the program runs in production."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           cds_flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar, os.path.join(JARS, "*")]), main] + args


def cds_flag(out):
    """Use the class-data-sharing archive when the build made one."""
    jsa = os.path.join(out, "app.jsa")
    return f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else "-Xshare:auto"


def build(out=None, timeout=840):
    """Compile if needed; return the jar."""
    if not os.path.isdir(JARS):
        raise BuildError(f"Spark jars not found at '{JARS}' (set SPARK_HOME)")
    out = out or build_dir()
    files = sources()
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "classes.stamp")
    want = stamp(files)
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return jar
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, f"classes.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-cp", os.path.join(JARS, "*"), "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=timeout)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for stale in (stamp_file, jar, os.path.join(out, "app.jsa")):
        if os.path.exists(stale):
            os.remove(stale)
    subprocess.run(["jar", "cf", jar + ".tmp", "-C", tmp, "."]
                   + (["-C", PROGRAM_RESOURCES, "."] if os.path.isdir(PROGRAM_RESOURCES) else []),
                   check=True, timeout=timeout)
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(jar + ".tmp", jar)
    archive(out, jar, timeout)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return jar


def archive(out, jar, timeout):
    """Write app.jsa from one self-test run; on failure build without it."""
    scratch = os.path.join(out, "scratch", f"archive-{os.getpid()}")
    jsa = os.path.join(out, "app.jsa")
    cmd = java_cmd(jar, scratch, "perfbench.SelfTest", [scratch], f"-XX:ArchiveClassesAtExit={jsa}")
    try:
        ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=scratch,
                            timeout=timeout).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if not ok and os.path.exists(jsa):
        os.remove(jsa)


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else None))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
