"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own Scala
sources into one class directory, using the Scala compiler that ships with
the Spark distribution the project builds against (build.sbt's
`unmanagedBase`). No dependency resolution and no network: everything comes
from that jar directory.

The output directory is keyed by a hash of every compiled source, so an
unchanged tree is built once and a changed one is rebuilt.

    python3 perfbench/build.py        # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the project compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt has no usable unmanagedBase and SPARK_HOME is unset")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found under {os.path.relpath(main, ROOT)}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return files


def _one(jars, prefix):
    hits = sorted(glob.glob(os.path.join(jars, prefix + "*.jar")))
    if not hits:
        raise BuildError(f"{prefix}*.jar missing from the Spark jar directory")
    return hits[-1]


def build():
    """Compile if needed; return (class_dir, jar_dir, source_hash)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    compiler = [_one(jars, "scala-compiler-2"), _one(jars, "scala-library-2"), _one(jars, "scala-reflect-2")]
    h.update(":".join(os.path.basename(c) for c in compiler).encode())
    digest = h.hexdigest()
    out = os.path.join(BUILD_DIR, "perfbench", digest[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "ok")):
        return classes, jars, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(os.path.join(out, "ok"), "w") as f:
        f.write(digest + "\n")
    return classes, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
