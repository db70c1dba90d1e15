"""graft end-to-end benchmark: entry point.

    python3 perfbench/run.py --workload knn_dtw --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (see build.py), then runs one
workload in a single JVM with a local Spark session of `nproc` task slots.
The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the full
record (host state, percentiles, failures). See README.md.
"""
import argparse
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("knn_dtw", "fit_cluster", "dedup_text")

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload at toy size, including a corrupted answer")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required unless --selftest")
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")

    try:
        classes, jars, digest = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "perfbench", "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: a growing one makes later requests faster than early ones
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--work", work, "--commit", git_commit(), "--source-sha256", digest]
    if a.selftest:
        jvm += ["--selftest"]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        # stdout passes straight through: the JVM prints the record lines last
        return subprocess.run(jvm, timeout=175).returncode
    except subprocess.TimeoutExpired:
        print("[perfbench] run exceeded 175 s and was killed", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
