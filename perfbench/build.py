"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark harness (`perfbench/src`) into one jar under
`.bench_build/`, keyed by a hash of every source file, so a checkout
builds once and rebuilds only when a source changes.

The Scala compiler and the Spark jars come from `$SPARK_HOME/jars`
(or the `unmanagedBase` the repository's build.sbt names).

    python3 perfbench/build.py        # prints the jar
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
SCALA_VERSION = "2.13.17"


def jars_dir(root="."):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root="."):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    return engine + bench


def build(root="."):
    """Compile if needed; return the jar."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, f"bench-{h.hexdigest()[:16]}.jar")
    if os.path.exists(out):
        return out
    jars = jars_dir(root)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                               for p in ("compiler", "library", "reflect"))
    classes = out + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", os.path.join(jars, "*")] + srcs,
                   check=True, stdout=sys.stderr)
    # a jar, not a directory: the JVM's class-data-sharing archive that
    # run.py keeps only accepts jars on the class path
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.rename(tmp, out)
    # an older build and its start-up archives are stale now
    for stale in glob.glob(os.path.join(root, BUILD_DIR, "bench-*")):
        if not stale.startswith(out[:-len(".jar")]):
            os.remove(stale)
    return out


def class_path(root="."):
    """The jar plus every Spark jar, in a fixed order."""
    jars = jars_dir(root)
    return [build(root)] + sorted(glob.glob(os.path.join(jars, "*.jar")))


if __name__ == "__main__":
    print(build())
