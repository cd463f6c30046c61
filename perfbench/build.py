"""Build file of the pages-corpus benchmark.

Compiles the graft library (``src/main/scala``, without the driver mains
``graft/*.scala`` that the benchmark does not call) together with the
benchmark's own sources (``perfbench/src``) in one scalac pass, using the
Scala compiler that ships in the Spark distribution's ``jars`` directory.
Nothing is fetched; the only inputs are the checkout and Spark's jars.

Output, under ``.bench_build`` in the checkout root, reused while the
SHA-256 of every compiled source and of this file is unchanged:

- ``graftbench.jar``: the compiled classes;
- ``classes.jsa``: a class-data-sharing archive of the classes a short
  training run of every workload loads. Spark's cold start (class loading
  and verification of a few hundred jars) takes about twice as long
  without it; steady-state speed does not change. A JVM whose class path
  does not match the archive ignores it and loads classes from the jars.

    python3 perfbench/build.py        # build, or check the build is current
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory next to the `spark-submit` found on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"build: library sources missing at {lib}")
    drivers = set(glob.glob(os.path.join(lib, "graft", "*.scala")))
    out = [p for p in glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
           if p not in drivers]
    out += glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def class_path(jars):
    """The run-time class path: the benchmark jar, then Spark's jars in
    name order (an archive only matches the exact same list)."""
    return os.pathsep.join([os.path.join(BUILD_DIR, "graftbench.jar")] +
                           sorted(glob.glob(os.path.join(jars, "*.jar"))))


def archive():
    return os.path.join(BUILD_DIR, "classes.jsa")


def build(train):
    """Compile, package and train the class archive when needed.

    `train(extra_jvm_flags)` runs the training JVM and returns its exit code.
    """
    jars = spark_jars()
    files = sources()
    digest = stamp(files)
    stamp_file = os.path.join(BUILD_DIR, "build.sha256")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == digest:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    classes = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(os.path.join(BUILD_DIR, "graftbench.jar"), "w") as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    if os.path.exists(archive()):
        os.remove(archive())
    code = train(["-XX:ArchiveClassesAtExit=" + archive()])
    if code != 0:
        raise SystemExit(f"build: training run failed with code {code}")
    with open(stamp_file, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    import run
    build(run.train)
