#!/usr/bin/env python3
"""Runs one workload of the graft pass benchmark and prints its metrics.

    python3 perfbench/run.py --workload forecast_lifecycle --seed 1 \
        --seconds 18 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the classpath is cached under
perfbench/target until a source file changes); every run then starts one
JVM that sets up a Spark session, measures passes over the workload for
--seconds seconds, checks every query's output, and prints one line per
metric followed by the result as one JSON line. --trace 1 measures the
per-layer metrics instead and writes spans and a report to perfbench/out.

    python3 perfbench/run.py generate

rewrites perfbench/expected/sf0.01.tsv from the checkout's engine.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "sf0.01.tsv")
CLASSPATH = os.path.join(BENCH, "target", "perfbench.classpath.json")
RUN_LIMIT_S = 170  # one run, build excluded
BUILD_LIMIT_S = 840

JAVA_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
] + [
    # a fixed heap: with G1 resizing it, warm passes of one seed moved by up
    # to a quarter between runs
    "-Xms3g", "-Xmx3g",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]


def sources():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first if any source changed."""
    files = sources()
    fp = fingerprint(files)
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def jvm(cp, args, work):
    """Runs perfbench.Main in a fresh JVM; returns its exit code."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the engine reads a few SPARK_GRAFT_* knobs; the benchmark fixes them
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=work, env=env)
    try:
        return p.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.stderr.write(f"run exceeded {RUN_LIMIT_S} s\n")
        return 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", nargs="?", default="run", choices=["run", "generate"])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.mode == "run" and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.stderr.write("no engine sources next to the benchmark: run it from a checkout\n")
        return 2
    try:
        cp = classpath()
    except (OSError, subprocess.SubprocessError) as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2
    work = os.path.join(BENCH, ".work", str(os.getpid()))
    if a.mode == "generate":
        args = ["generate", "--data", DATA, "--expected", EXPECTED, "--work", work]
    else:
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", DATA, "--expected", EXPECTED, "--work", work,
                "--out", os.path.join(BENCH, "out")]
    try:
        return jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
