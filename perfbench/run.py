#!/usr/bin/env python3
"""The repository benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (``perfbench/build.sbt``, outputs under
``.bench_build/``); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
(``perfbench.Main``) on them, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). All files it writes stay under
``.bench_build/`` in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest_backlog", "ingest_trickle")
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 175  # a run (after any build) must end well within 180 s

JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/**/*", recursive=True) +
                   glob.glob("perfbench/src/**/*", recursive=True) +
                   ["perfbench/build.sbt", "perfbench/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.isdir(CLASSES):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Xmx3g -Djava.io.tmpdir=" +
                       os.path.abspath(os.path.join(BUILD, "tmp")))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd="perfbench", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generate(workload, seed, trace, data):
    gen.write_bronze(data, workload, seed)
    gen.write_bronze(os.path.join(data, "warm"), workload, seed, warm=True)
    if trace:  # the traced run's query-board probe reads this corpus
        gen.board(os.path.join(data, "board"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala/graft") and
            os.path.isfile("BENCHMARK.json")):
        fail("run from the repository root: engine sources "
             "(src/main/scala/graft) or BENCHMARK.json not found")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build()
    t_start = time.time()
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    trace_out = os.path.abspath(os.path.join(
        BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
    try:
        t0 = time.perf_counter()
        generate(a.workload, a.seed, a.trace, data)
        gen_s = time.perf_counter() - t0
        cp = os.pathsep.join([os.path.abspath(CLASSES),
                              os.path.abspath("src/main/resources"),
                              os.path.join(SPARK_JARS, "*")])
        cmd = ["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out,
            "--gen-seconds", repr(gen_s),
            "--expected", os.path.join(HERE, "expected_board.json"),
            "--trace-out", trace_out]
        limit = RUN_LIMIT_S - (time.time() - t_start)
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        with open(log) as f:
            text = f.read()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(text[-6000:])
            fail(f"harness failed ({rc})")
        sys.stderr.writelines(ln + "\n" for ln in text.splitlines()
                              if ln.startswith("[perfbench"))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        print(f"perfbench: spans written to {trace_out}", file=sys.stderr)
    for msg in res["failures"]:
        print(f"check failed: {msg}", file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not res["failures"],
                      "attempted": res["attempted"],
                      "failed": len(res["failures"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
