"""Build file of the benchmark: compiles the engine sources
(``src/main/scala``) and then the harness (``vdbbench/src``) against them,
with the Scala compiler that ships in the Spark distribution's jars.

Output goes to ``.bench_build/vdbbench/{engine,harness}/classes`` under
the checkout root. Each step is reused while its sources do not change (a
content stamp decides; the harness stamp includes the engine's), so a
harness edit does not recompile the engine.
Run directly to build: ``python3 vdbbench/build.py``.
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
    """Directory of the Spark (and Scala) jars the engine builds against:
    ``$SPARK_HOME/jars``, else the root build's ``unmanagedBase``."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise RuntimeError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def scala_files(base):
    files = []
    for d, _, names in os.walk(base):
        files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars, extra=""):
    h = hashlib.sha256(os.path.basename(
        glob.glob(os.path.join(jars, "scala-compiler-*.jar"))[0]).encode())
    h.update(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_to(out, files, classpath, want, log):
    """Compile ``files`` into ``out/classes`` unless ``out/stamp`` is ``want``."""
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print("[vdbbench] compiling %d sources into %s" % (len(files), out), file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
                    "-classpath", classpath, "-d", tmp, "-nowarn"] + files,
                   check=True, stdout=log, stderr=log)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


def ensure(log=sys.stderr):
    """Compile what is stale; returns (class path of engine and harness,
    jars dir). The engine is rebuilt only when its sources change."""
    jars = spark_jars()
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise RuntimeError("engine sources not found at %s" % engine_src)
    out = os.path.join(ROOT, ".bench_build", "vdbbench")
    cp = os.path.join(jars, "*")
    engine_files = scala_files(engine_src)
    engine_stamp = stamp(engine_files, jars)
    engine = compile_to(os.path.join(out, "engine"), engine_files, cp, engine_stamp, log)
    harness_files = scala_files(os.path.join(HERE, "src"))
    harness = compile_to(os.path.join(out, "harness"), harness_files,
                         engine + os.pathsep + cp,
                         stamp(harness_files, jars, engine_stamp), log)
    return harness + os.pathsep + engine, jars


if __name__ == "__main__":
    print(ensure()[0])
