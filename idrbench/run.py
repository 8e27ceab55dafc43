#!/usr/bin/env python3
"""IDR benchmark launcher.

Run from the repository root:

    python3 idrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source with sbt when the sources
changed since the last build (stamp in idrbench/.build), then runs one
benchmark process. All of its files stay under idrbench/.work, which is
removed when the run ends; traced runs keep their spans under
idrbench/.work/traces. The last line of stdout is the JSON result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("idr_day", "corpus_prep")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"[idrbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the library's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false", "-Xmx2g"):
        key = flag.split("=")[0] if flag.startswith("-D") else "-Xmx"
        if key not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print(f"[idrbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    # the benchmark builds the program it measures; without its sources
    # there is nothing to measure
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} beside the benchmark: the program's sources are missing")
    build()

    with open(LAUNCH) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    classpath, jvm_opts = lines[0], lines[1:]
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_opts +
           ["-cp", classpath, "idrbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its scratch
    # files inside the run directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if a.trace == "1":
            spans = os.path.join(work, "trace", "spans.jsonl")
            if os.path.exists(spans):
                dest = os.path.join(WORK, "traces")
                os.makedirs(dest, exist_ok=True)
                shutil.copy(spans, os.path.join(dest, f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for ln in lines[:-1]:
        print(ln)
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            print(lines[-1])
    if proc.returncode != 0 or not isinstance(result, dict):
        fail(f"benchmark process failed (exit {proc.returncode})", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
