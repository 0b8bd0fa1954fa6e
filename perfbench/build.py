#!/usr/bin/env python3
"""Build file of the benchmark package.

    python3 perfbench/build.py          # build if stale, print the classpath

1. Compiles the program (`src/main/scala`) and the harness
   (`perfbench/src`) with the Scala compiler from the Spark
   distribution's jar directory. No sbt, no dependency resolution.
2. Packs each into a jar (the program jar carries `src/main/resources`).
3. Runs one training JVM (`perfbench.Bench --train`: each workload once,
   at sf0.001) that dumps an AppCDS class-data archive. Later runs map it,
   which cuts JVM class loading at session start and in the warm-up pass.
   If the dump fails, runs go on without the archive.

Everything lands in `.bench_build/` (or $CARGO_TARGET_DIR) at the checkout
root. A stamp over every source file skips the build when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile



def _spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the project's build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "build.sbt")
    try:
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


SPARK_JARS = _spark_jars()

# Spark on JDK 17 needs these outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def root_dir():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(root, d)


def _files(top, suffix=""):
    out = []
    for base, _, files in os.walk(top):
        out += [os.path.join(base, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(srcs, out, extra_cp):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(extra_cp + [os.path.join(SPARK_JARS, "*")])
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed for " + out)


def _jar(dirs, out):
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for f in _files(d):
                z.write(f, os.path.relpath(f, d))


def java_cmd(cp, work, jvm_extra, args):
    """The harness JVM command line; scratch files go under `work`."""
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # MetaspaceSize: no full collections for metadata growth while timing
    return (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-XX:MetaspaceSize=512m",
             "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_extra
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dderby.system.home=" + os.path.join(work, "derby"),
               "-Dderby.stream.error.file=" + os.path.join(work, "derby", "derby.log"),
               "-Dspark.ui.enabled=false",
               "-cp", os.pathsep.join(cp + [os.path.join(SPARK_JARS, "*")]),
               "perfbench.Bench"] + args)


def prefetch(files):
    """Read the harness's jars, the Spark jars and the class-data archive
    once, so the timed session start does not wait on cold disk reads."""
    for f in files + _files(SPARK_JARS, ".jar"):
        with open(f, "rb") as fh:
            while fh.read(1 << 20):
                pass


def make_work(work):
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def remove_work(work):
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def build():
    """Build if stale; return (classpath jars, class-data archive or None)."""
    root = root_dir()
    prog_src = os.path.join(root, "src", "main", "scala")
    prog_res = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(root, "perfbench", "src")
    prog, bench = _files(prog_src, ".scala"), _files(bench_src, ".scala")
    if not prog:
        raise SystemExit("build: no program sources under " + prog_src)
    if not bench:
        raise SystemExit("build: no benchmark sources under " + bench_src)
    bdir = build_dir(root)
    jars = [os.path.join(bdir, "perfbench.jar"), os.path.join(bdir, "program.jar")]
    archive = os.path.join(bdir, "classes.jsa")
    stamp_file = os.path.join(bdir, "stamp")
    stamp = _stamp(prog + bench + _files(prog_res))
    try:
        with open(stamp_file) as fh:
            fresh = fh.read() == stamp
    except OSError:
        fresh = False
    if not fresh:
        shutil.rmtree(bdir, ignore_errors=True)
        classes = [os.path.join(bdir, "program-classes"), os.path.join(bdir, "bench-classes")]
        _scalac(prog, classes[0], [])
        _scalac(bench, classes[1], [classes[0]])
        _jar([classes[1]], jars[0])
        _jar([classes[0], prog_res], jars[1])
        for c in classes:
            shutil.rmtree(c)
        work = os.path.join(root, ".bench_work", "train-%d" % os.getpid())
        make_work(work)
        try:
            r = subprocess.run(
                java_cmd(jars, work, ["-XX:ArchiveClassesAtExit=" + archive],
                         ["--train", "--scale", "0.001", "--work", work,
                          "--traces", os.path.join(work, "traces")]),
                cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                timeout=600)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-4000:])
        finally:
            remove_work(work)
        if r.returncode != 0 and os.path.exists(archive):
            os.remove(archive)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return jars, (archive if os.path.exists(archive) else None)


if __name__ == "__main__":
    jars, archive = build()
    print(os.pathsep.join(jars))
    print("class-data archive: %s" % (archive or "none"))
