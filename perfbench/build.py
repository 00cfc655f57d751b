"""Compile the program and the benchmark with the Scala compiler that ships
in Spark's jar directory, without sbt.

Output goes under $CARGO_TARGET_DIR (default `.bench_build`) at the root
of the checkout: `program.jar` from `src/main/scala`, `bench.jar` from
`perfbench/src`, and `classes.jsa`, a class-data-sharing archive of the
classes a short run of every serving path loads. Without the archive a
cold JVM spends 10-14 s loading Spark's classes before the first job on a
4-vCPU VM, and that time swings with host load; with it, 4-5 s. A stamp
of every source file's content skips the build when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
import tempfile
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jar directory: set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources(base):
    files = sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {os.path.relpath(base, ROOT)}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(files, classpath, jar):
    """Compiles `files` into the jar file `jar`."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as tmp:
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + files
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            raise BuildError(f"scalac failed for {os.path.relpath(jar, ROOT)}")
        with zipfile.ZipFile(jar + ".partial", "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, names in sorted(os.walk(tmp)):
                for n in sorted(names):
                    path = os.path.join(d, n)
                    z.write(path, os.path.relpath(path, tmp))
    os.replace(jar + ".partial", jar)


def java_command(classpath, archive, dump=False):
    """The JVM command line every benchmark JVM uses (heap, module opens,
    logging, class-data archive), up to the main class."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    share = (f"-XX:ArchiveClassesAtExit={archive}" if dump
             else f"-XX:SharedArchiveFile={archive}")
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", share, "-Xlog:cds=off",
             "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties")]
            + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def dump_archive(classpath, archive):
    """Runs every serving path once on a tiny corpus, recording the loaded
    classes into `archive`."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(archive)) as work:
        tmpdir = os.path.join(work, "tmp")
        os.makedirs(tmpdir)
        cmd = (java_command(classpath, archive + ".partial", dump=True)
               + [f"-Djava.io.tmpdir={tmpdir}", "perfbench.PerfBench", "--archive", work])
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work).returncode != 0:
            raise BuildError("class-data archive run failed")
    os.replace(archive + ".partial", archive)


def build():
    """Returns (classpath, archive) for the benchmark JVM, building what is
    out of date."""
    jars = spark_jars()
    prog_files = sources(PROGRAM_SRC)
    bench_files = sources(BENCH_SRC)
    tdir = target_dir()
    os.makedirs(tdir, exist_ok=True)
    prog_jar = os.path.join(tdir, "program.jar")
    bench_jar = os.path.join(tdir, "bench.jar")
    archive = os.path.join(tdir, "classes.jsa")
    classpath = os.pathsep.join([bench_jar, prog_jar, jars])
    stamp_file = os.path.join(tdir, "perfbench.stamp")
    want_prog, want_bench = stamp(prog_files), stamp(bench_files)
    have = open(stamp_file).read().split("\n") if os.path.exists(stamp_file) else []
    have_prog, have_bench = (have + ["", ""])[:2]
    t0 = time.time()
    if have_prog != want_prog or not os.path.exists(prog_jar):
        print(f"[perfbench] compiling {len(prog_files)} program sources", file=sys.stderr)
        scalac(prog_files, jars, prog_jar)
        have_bench = ""
    if have_bench != want_bench or not os.path.exists(bench_jar) or not os.path.exists(archive):
        print(f"[perfbench] compiling {len(bench_files)} benchmark sources", file=sys.stderr)
        scalac(bench_files, prog_jar + os.pathsep + jars, bench_jar)
        print("[perfbench] recording the class-data archive", file=sys.stderr)
        dump_archive(classpath, archive)
    with open(stamp_file, "w") as fh:
        fh.write(want_prog + "\n" + want_bench)
    if time.time() - t0 > 1:
        print(f"[perfbench] build took {time.time() - t0:.1f}s", file=sys.stderr)
    return classpath, archive


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
