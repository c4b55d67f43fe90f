"""Build file of the benchmark: compiles graft's sources and the benchmark's
own sources with the Scala compiler that ships with Spark into
<build dir>/perfbench/perfbench.jar, then runs the input self-check and one
unmeasured cycle of each workload while the JVM records the classes it loads
into a class-data archive, which later runs map instead of loading the
classes again. A build is reused while
the sources are unchanged.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = "/opt/spark/jars"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def out_dir():
    build = os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))
    return os.path.join(os.path.abspath(build), "perfbench")


def jar_path():
    return os.path.join(out_dir(), "perfbench.jar")


def archive_path():
    return os.path.join(out_dir(), "classes.jsa")


def classpath():
    # jar files only, in a fixed order: the class-data archive needs both
    return os.pathsep.join([jar_path()] + sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))


def java_command(main_args, work, archive="use"):
    """The JVM command line for perfbench.Main; archive is "use" or "dump"."""
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    if archive == "dump":
        cmd.append("-XX:ArchiveClassesAtExit=" + archive_path())
    elif os.path.isfile(archive_path()):
        cmd.append("-XX:SharedArchiveFile=" + archive_path())
    cmd += [a for p in OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return cmd + ["-cp", classpath(), "perfbench.Main", "--work", work] + main_args


def clean(work):
    """Empties a work directory, keeping earlier traces."""
    if os.path.isdir(work):
        for name in os.listdir(work):
            if name != "traces":
                path = os.path.join(work, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)


def sources():
    found = []
    for d in SOURCES:
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds unless the last build had the same sources."""
    graft = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(graft):
        raise SystemExit("perfbench: no graft sources at %s" % graft)
    files = sources()
    stamp = os.path.join(out_dir(), "sources.sha256")
    digest = fingerprint(files)
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out_dir(), ignore_errors=True)
    classes = os.path.join(out_dir(), "classes")
    os.makedirs(classes)
    argfile = os.path.join(out_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar_path(), "w", zipfile.ZIP_DEFLATED) as jar:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                jar.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    work = os.path.join(out_dir(), "selfcheck")
    clean(work)
    with open(os.path.join(out_dir(), "selfcheck.log"), "w") as log:
        subprocess.run(java_command(["--selfcheck", "1", "--exercise", "1"], work, archive="dump"), check=True,
                       stdout=sys.stderr, stderr=log, timeout=600)
    shutil.rmtree(work)
    with open(stamp, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
