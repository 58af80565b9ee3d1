"""Builds the library and the benchmark harness from source.

Compiles every Scala file under src/main/scala of the checkout plus the
harness under perfbench/src with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME/jars), and packs the classes with
src/main/resources into <build dir>/graft-bench.jar. It then runs the
harness's set-up once to dump a class-data-sharing archive
(graft-bench.jsa) that every measured JVM maps at start, so loading the
classes of session start and table registration is paid once per build.
The build is skipped when a stamp of its inputs' contents (sources,
resources, this script and the input generator with its base tables)
matches the last successful build.
Run directly to build: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Each run is a short-lived JVM: C1-only compilation keeps the compile
# cost of its first calls down; serial GC on a fixed heap keeps the peak
# resident set repeatable.
JVM_FLAGS = ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
             "-Xms3g", "-Xmx3g", "-Xss8m"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def build_dir() -> str:
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars() -> str:
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 distribution")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def sources() -> list:
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala")
    return lib + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def stamp() -> str:
    """Hash of the paths and contents of everything the build depends on:
    the sources, the resources packed into the jar, this script (JVM
    flags) and the generator of the inputs the class archive is dumped
    from.
    """
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    h = hashlib.sha256()
    for p in sources() + resources + [os.path.abspath(__file__)] + gen.inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(args: list, tmpdir: str, dump: bool = False) -> list:
    """Command line of a harness JVM; `dump` writes the class archive."""
    jsa = os.path.join(build_dir(), "graft-bench.jsa")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmpdir}"]
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={jsa}")
    elif os.path.exists(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([os.path.join(build_dir(), "graft-bench.jar"), spark_jars()])
    return cmd + ["-cp", cp, "perfbench.Harness"] + args


def build() -> None:
    srcs = sources()
    digest = stamp()
    bdir = build_dir()
    jar = os.path.join(bdir, "graft-bench.jar")
    stamp_file = os.path.join(bdir, "graft-bench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == digest:
        return
    for p in (stamp_file, jar, os.path.join(bdir, "graft-bench.jsa")):
        if os.path.exists(p):
            os.remove(p)
    classes = os.path.join(bdir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(bdir, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    rc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                         "-classpath", jars, "@" + args]).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed with code {rc}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, os.path.join(ROOT, "src/main/resources")):
            for d, _, files in os.walk(base):
                for name in files:
                    p = os.path.join(d, name)
                    z.write(p, os.path.relpath(p, base))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    dump_archive()
    with open(stamp_file, "w") as f:
        f.write(digest)


def dump_archive() -> None:
    """A set-up-only harness run that records the classes it loads."""
    bdir = build_dir()
    data = gen.generate(0, os.path.join(bdir, "data", f"0-{gen.version()}"))
    work = os.path.join(bdir, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(["--workload", "kge_journey", "--data", data, "--seconds", "0",
                    "--trace", "0", "--out", os.path.join(work, "out"),
                    "--work", work, "--setup-only", "1"], work, dump=True)
    with open(os.path.join(work, "harness.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"build: class-archive run failed with code {rc}")


if __name__ == "__main__":
    build()
    print(f"built {build_dir()}/graft-bench.jar", file=sys.stderr)
