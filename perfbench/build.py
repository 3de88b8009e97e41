"""Builds the engine and the benchmark's JVM side from source.

The Scala compiler that ships among Spark's jars compiles both into one jar.
A training run of every workload then records the classes they load into a
class-data-sharing archive, which cuts each measured JVM's start-up and
first-job class loading. The output is reused while no source file and no
jar changed.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))

HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java (set JAVA_HOME)")
    return exe


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    out = []
    for base in (engine, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm_command(build_dir, run_dir, main_args, archive_flag=None):
    """The JVM command line of a run; `archive_flag` overrides how the
    class-data-sharing archive is used."""
    jars = spark_jars()
    classpath = os.pathsep.join(
        [os.path.join(build_dir, "perfbench.jar")]
        + [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")])
    archive = os.path.join(build_dir, "classes.jsa")
    if archive_flag is None:
        archive_flag = f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive) else ""
    return ([java(), f"-Xmx{HEAP}", "-Dspark.callstack.depth=200",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
            + ([archive_flag] if archive_flag else [])
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", classpath, "perfbench.Main"] + main_args)


def _jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def build(root, build_dir):
    """Compiles, packages and trains into `build_dir` unless its stamp says
    it is current."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for name in ("stamp", "perfbench.jar", "classes.jsa"):
        if os.path.exists(os.path.join(build_dir, name)):
            os.remove(os.path.join(build_dir, name))
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         # an explicit -classpath keeps scalac from adding the working directory
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
         "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    _jar(classes, os.path.join(build_dir, "perfbench.jar"))
    shutil.rmtree(classes)

    print("perfbench: training run for the class-data-sharing archive", file=sys.stderr)
    train = os.path.join(build_dir, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    try:
        cmd = jvm_command(
            build_dir, train,
            ["--workload", "maintain,upsert_read", "--seed", "0", "--seconds", "1",
             "--trace", "1", "--setups", "1", "--work", train,
             "--out", os.path.join(train, "raw.json")],
            archive_flag=f"-XX:ArchiveClassesAtExit={os.path.join(build_dir, 'classes.jsa')}")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(train, "spark-local"))
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, env=env, timeout=600)
        if r.returncode != 0:
            log = [ln for ln in r.stdout.splitlines(keepends=True) if "[cds]" not in ln]
            sys.stderr.write("".join(log[-80:]))
            raise SystemExit("perfbench: training run failed")
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
