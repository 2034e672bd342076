#!/usr/bin/env python3
"""Pipeline benchmark for the engine's convert -> store -> query path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <ingest_repo|serve_mixed|search_large> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(offline) and caches the classpath under .bench_build/; later runs reuse it
while the sources are unchanged. Each run starts one JVM that drives the
engine's public API (perfbench.Main), prints a report, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. Every file a run writes
stays under .bench_build/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
STAMP = os.path.join(BUILD, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
DEADLINE_S = 175
FIRST_RUN_S = 890
WORKLOADS = ("ingest_repo", "serve_mixed", "search_large")

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the root build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# sbt options when the environment sets none: resolve offline, from the
# local caches and the user's repository config if there is one.
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
SBT_OFFLINE = " ".join(
    ["-Dsbt.offline=true", "-Xmx3g"] +
    (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={SBT_REPOS}"]
     if os.path.exists(SBT_REPOS) else []))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """SHA-256 over every file the build reads."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    out = wait(p, deadline)
    if p.returncode != 0:
        sys.exit(f"sbt build failed with code {p.returncode}")
    cp = [l.strip() for l in out.splitlines()
          if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if not cp:
        sys.exit("sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def wait(p, deadline):
    """Waits for `p` until the deadline; kills its whole group past it."""
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.monotonic()))
        return out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        sys.exit("deadline passed; killed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"{need} not found: run from the root of a checkout of the engine")
    # a build may take up to FIRST_RUN_S - DEADLINE_S; the run itself DEADLINE_S
    start = time.monotonic()
    build(start + FIRST_RUN_S - DEADLINE_S)
    deadline = min(start + FIRST_RUN_S, time.monotonic() + DEADLINE_S)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--traces", os.path.join(BUILD, "traces")])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out = wait(p, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        sys.exit(f"benchmark exited with code {p.returncode}")
    lines = out.rstrip("\n").splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("benchmark printed no result line")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
