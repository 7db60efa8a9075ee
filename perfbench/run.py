#!/usr/bin/env python3
"""Checkout-pipeline benchmark launcher.

    python3 perfbench/run.py --workload backlog|saga --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the repository's
sources together with the benchmark (sbt, offline) into `.bench_build/`;
later calls reuse that build until a source file changes. The benchmark
JVM then prints its result as the last line of stdout; see README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
TMP = OUT / "tmp"
CLASSPATH = OUT / "classpath.txt"
STAMP = OUT / "classpath.stamp"
RUN_LIMIT_S = 170
# The parallel collector with a fixed young generation and adaptive sizing
# off: the old generation starts small and grows only when promoted data
# needs room, so peak RSS follows how much the pipeline keeps alive (G1
# grows the heap by its own pause-time policy, which made peak RSS spread
# widely between runs).
JVM_MEMORY = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn768m"]

# Spark on JDK 17 needs these opens when it is not launched by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Digest of every input of the build: build definitions and sources."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    # sbt's own state and scratch files go under OUT too
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "-Dsbt.boot.lock=false", f"-Dsbt.global.base={OUT / 'sbt-global'}",
           f"-Dsbt.ivy.home={OUT / 'ivy'}", f"-Djava.io.tmpdir={TMP}", f"-Djna.tmpdir={TMP}",
           "export Runtime/fullClasspath"]
    env = dict(os.environ, TMPDIR=str(TMP), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        sys.exit(f"perfbench: build failed (sbt exit {res.returncode})")
    CLASSPATH.write_text(lines[-1].strip())
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backlog", "saga"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: {ROOT} holds no repository sources to build")
    TMP.mkdir(parents=True, exist_ok=True)
    digest = sources_digest()
    if not CLASSPATH.is_file() or not STAMP.is_file() or STAMP.read_text() != digest:
        build(digest)

    cmd = (["java"] + JVM_MEMORY + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSPATH.read_text(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, TMPDIR=str(TMP)),
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("perfbench: run killed (time limit or interrupt)\n")
        return 1


if __name__ == "__main__":
    sys.exit(main())
