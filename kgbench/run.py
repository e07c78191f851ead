#!/usr/bin/env python3
"""KG-construction benchmark.

Builds the engine (../src) and the benchmark (./src) with sbt on first use,
then runs one workload in one JVM at local[4] and prints its result as the
last line of stdout:

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 12 --trace 0

Workloads: kg_batch, kg_resolve, kg_stream (see README.md). `--trace 1`
reports the per-layer metrics instead of the end-to-end ones. `--size tiny`
and `--corrupt 1` exist for test_kgbench.py. Everything the run writes stays
under kgbench/target/ and is removed when the run ends.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "kgbench-classpath.txt")
WORKLOADS = ("kg_batch", "kg_resolve", "kg_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives; build.sbt uses it too)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            if os.path.basename(d) == "target":
                continue
            for f in files:
                if f.endswith((".scala", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def build():
    """Compiles with sbt when a source is newer than the last build and
    returns the runtime classpath sbt exported."""
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or cp.startswith("[") or "classes" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("kgbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("kgbench: engine sources not found at " + ENGINE_SRC)
    cp = build()

    work = os.path.join(TARGET, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    if a.trace:
        # Canonicalizer prints one line per star round with this set
        env["SPARK_GRAFT_CC_DEBUG"] = "1"
    # C1 only: with C2 a build kept getting faster for the whole run (by ~30%
    # over its first minute) and its compiler threads took CPU from the 4
    # task threads, so short runs measured a JIT still at work
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ActiveProcessorCount=4", "-XX:TieredStopAtLevel=1",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dderby.system.home=" + work,
              "-cp", cp, "kgbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--size", a.size, "--corrupt", str(a.corrupt), "--work", work])
    log_path = os.path.join(TARGET, "last-%s.log" % a.workload)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, env=env, cwd=work,
                                  stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, stderr=log,
                                  text=True, timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines or '"correct"' not in lines[-1]:
        sys.stdout.write(proc.stdout)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("kgbench: run failed (exit %d)" % proc.returncode)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
