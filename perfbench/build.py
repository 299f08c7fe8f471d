"""Build file of the benchmark: compiles the library sources under
`src/main/scala` together with `perfbench/src` into one class directory,
with plain scalac against the Spark distribution's jars (the same jars the
sbt build links through `unmanagedBase`).

The class directory is keyed by a digest of every source file, so a changed
program is rebuilt and an unchanged one is reused.
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
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    return lib + bench


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Return (class directory, classpath, source digest), compiling if needed."""
    files = sources()
    digest = source_digest(files)
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes-" + digest[:16])
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes):
        return classes, cp, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes, cp, digest


if __name__ == "__main__":
    print(build(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))[0])
